"""Seeded input generator for the benchmark.

Everything a workload reads is made here from ``--seed``; the engine only
ever sees the files written below. Shapes follow the MeerTRAP fixtures
used by the pipeline tests (compact run-summary JSON with typed tiling
and host-beam arrays, one tab-separated SPCCL line per candidate file,
candidate directories named ``<host>_<unix ts>``), scaled up:

- ``N_SB`` schedule blocks of ``OBS_PER_SB`` observations each, every
  observation seen by ``N_HOSTS`` hosts with ``BEAMS_PER_HOST`` beams;
- one candidate directory per candidate, plus ~2 % later-processed
  copies of earlier candidates (same summary, same SPCCL line, newer
  timestamp) that the candidate dedup must drop.

Each generator returns the ground-truth row count of every table it
implies, so the checks never trust the engine's own numbers.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

UTC = dt.timezone.utc
EPOCH = dt.datetime(1970, 1, 1, tzinfo=UTC)

N_SB = 8
OBS_PER_SB = 5
N_HOSTS = 16
BEAMS_PER_HOST = 6
TILINGS_PER_OBS = 2
DUP_FRAC = 0.02
OBS_SPACING_S = 20 * 60
OBS_LENGTH_S = 15 * 60
SB_SPACING_S = 6 * 3600
SB_DURATION_S = 7200
TS0 = 1_700_000_000

TREE_TABLES = (
    "schedule_block",
    "meerkat_schedule_block",
    "host",
    "coherent_beam_config",
    "observation",
    "tiling_config",
    "beam",
    "candidate",
    "sp_candidate",
)


def mjd(ts: dt.datetime) -> float:
    return (ts - EPOCH).total_seconds() / 86400.0 + 40587.0


def _hms(deg: float) -> str:
    h = deg / 15.0
    hh = int(h)
    mm = int((h - hh) * 60)
    ss = ((h - hh) * 60 - mm) * 60
    return f"{hh}:{mm:02d}:{ss:05.2f}"


def _dms(deg: float) -> str:
    sign = "-" if deg < 0 else "+"
    a = abs(deg)
    dd = int(a)
    mm = int((a - dd) * 60)
    ss = ((a - dd) * 60 - mm) * 60
    return f"{sign}{dd}:{mm:02d}:{ss:04.1f}"


def _ra_deg(s: str) -> float:
    h, m, sec = (float(p) for p in s.split(":"))
    return round((h + m / 60.0 + sec / 3600.0) * 15.0, 5)


def _dec_deg(s: str) -> float:
    sign = -1.0 if s.startswith("-") else 1.0
    d, m, sec = (float(p) for p in s.lstrip("+-").split(":"))
    return round(sign * (d + m / 60.0 + sec / 3600.0), 5)


@dataclass
class Universe:
    """The observing campaign every input is cut from."""

    sbs: list[dict]
    #: (sb index, utc_start, utc_stop or None)
    obs: list[tuple[int, dt.datetime, dt.datetime | None]]
    hosts: dict[str, list[dict]]
    #: per observation index, its candidates as dicts
    cands: list[list[dict]] = field(default_factory=list)


def make_universe(seed: int, cands_per_obs: int) -> Universe:
    rng = random.Random(seed)
    t0 = dt.datetime(2023, 11, 20, tzinfo=UTC) + dt.timedelta(
        days=rng.randrange(0, 365), seconds=rng.randrange(0, 3600)
    )
    sbs, obs = [], []
    for j in range(N_SB):
        start = t0 + dt.timedelta(seconds=j * SB_SPACING_S)
        sbs.append(
            {
                "id": 79000 + 16 * (seed % 1000) + j,
                "id_code": f"{start:%Y%m%d}-{j:04d}",
                "actual_start_time": start.strftime("%Y-%m-%d %H:%M:%S.000+00:00"),
                "expected_duration_seconds": SB_DURATION_S,
                "proposal_id": f"SCI-2023-{j % 3:02d}",
                "script_profile_config": f"x duration={SB_DURATION_S}\\n y",
                "targets": None,
            }
        )
        for k in range(OBS_PER_SB):
            t_min = start + dt.timedelta(seconds=600 + k * OBS_SPACING_S)
            # the last observation of a block has no stop time, so the
            # engine imputes it
            stop = None if k == OBS_PER_SB - 1 else t_min + dt.timedelta(seconds=OBS_LENGTH_S)
            obs.append((j, t_min, stop))

    hosts: dict[str, list[dict]] = {}
    for h in range(N_HOSTS):
        name = f"tpn-0-{20 + h}"
        beams = []
        for b in range(BEAMS_PER_HOST):
            ra = rng.uniform(0.0, 359.0)
            dec = rng.uniform(-80.0, 20.0)
            beams.append(
                {
                    "absnum": h * BEAMS_PER_HOST + b,
                    "coherent": b != BEAMS_PER_HOST - 1,
                    "ra_hms": _hms(ra),
                    "dec_dms": _dms(dec),
                    "mc_ip": f"10.0.{h // 8}.{h % 8 + 1}",
                    "mc_port": 7000 + h,
                    "relnum": b,
                    "source": f"J{h:04d}",
                }
            )
        hosts[name] = beams

    u = Universe(sbs=sbs, obs=obs, hosts=hosts)
    host_names = list(hosts)
    i = 0
    for o, (_, t_min, _) in enumerate(obs):
        per_obs = []
        for c in range(cands_per_obs):
            host = host_names[(o + c) % N_HOSTS]
            beam = hosts[host][rng.randrange(BEAMS_PER_HOST)]
            # strictly inside the observation, clear of the 1 s rounding
            at = t_min + dt.timedelta(
                seconds=rng.randrange(2, OBS_LENGTH_S - 2), milliseconds=rng.randrange(1000)
            )
            per_obs.append(
                {
                    "obs": o,
                    "host": host,
                    "beam": beam,
                    "at": at,
                    # dm strictly increasing: no two candidates can share
                    # the dedup attribute set by accident
                    "dm": round(10.0 + i * 0.25 + rng.random() * 0.1, 4),
                    "width": round(rng.uniform(0.3, 30.0), 3),
                    "snr": round(rng.uniform(7.0, 60.0), 3),
                }
            )
            i += 1
        u.cands.append(per_obs)
    return u


def _run_summary(u: Universe, o: int, host: str) -> dict:
    j, start, stop = u.obs[o]
    shape = j % 3
    fmt = "%Y-%m-%d_%H:%M:%S"
    return {
        "beams": {
            "ca_target_request": {
                "beams": [],
                "tilings": [
                    {"coordinate_type": "equatorial", "epoch": 1700517405.4 + o,
                     "epoch_offset": 300.0, "method": "variable_size", "nbeams": 780,
                     "overlap": 0.25, "reference_frequency": 1284000000.0,
                     "shape": "circle",
                     "target": f"J{o:04d}-4333, radec gaincal, 4:40:17.07, -43:33:09.0"},
                    {"coordinate_type": "equatorial", "epoch": 1700517405.4 + o,
                     "epoch_offset": 300.0, "method": "variable_size", "nbeams": 390,
                     "overlap": 0.5, "reference_frequency": 1284000000.0,
                     "shape": "circle",
                     "target": f"J{o:04d}-6545, radec target, 4:08:20.38, -65:45:09.1"},
                ],
                "unique_id": None,
            },
            "cb_antennas": ["m000", "m001"],
            "coherent_beam_shape": {"angle": -54.52 + shape, "overlap": 0.25,
                                    "x": 0.00813, "y": 0.00749},
            "ib_antennas": ["m000"],
            "list": u.hosts[host],
        },
        "data": {"bw": 856.0, "cfreq": 1284.0, "nbeam": 780, "nbit": 8,
                 "nchan": 1024, "npol": 1, "sync_time": 1697000000.0,
                 "tsamp": 0.000306},
        "pipeline": {"version": "x"},
        "sb_details": u.sbs[j],
        "utc_start": start.strftime(fmt),
        "utc_stop": None if stop is None else stop.strftime(fmt),
        "version_info": {"app": "1"},
    }


def _spccl_line(c: dict) -> str:
    b = c["beam"]
    fields = ["0", repr(mjd(c["at"])), str(c["dm"]), str(c["width"]), str(c["snr"]),
              str(b["absnum"]), "C" if b["coherent"] else "I", b["ra_hms"], b["dec_dms"],
              "1", "0.93", "cand.fil", "plot.jpg"]
    return "\t".join(fields) + "\n"


def write_tree(u: Universe, root: str, seed: int) -> dict[str, int]:
    """Write one candidate directory per candidate (plus late copies)
    under ``root``; return the expected row count of each table."""
    rng = random.Random(seed * 7919 + 1)
    os.makedirs(root, exist_ok=True)
    summaries: dict[tuple[int, str], str] = {}
    flat = [c for per_obs in u.cands for c in per_obs]
    n_dup = max(1, round(DUP_FRAC * len(flat)))
    dups = rng.sample(flat, n_dup)
    for n, c in enumerate(flat + dups):
        key = (c["obs"], c["host"])
        if key not in summaries:
            summaries[key] = json.dumps(_run_summary(u, *key))
        # copies get a later processing timestamp, so dedup keeps the first
        d = os.path.join(root, f"{c['host']}_{TS0 + n}")
        os.mkdir(d)
        with open(os.path.join(d, f"t{TS0}_{c['host']}_run_summary.json"), "w") as f:
            f.write(summaries[key])
        with open(os.path.join(d, "cand_beam.spccl.log"), "w") as f:
            f.write(_spccl_line(c))
    n_obs = len({c["obs"] for c in flat})
    n_sb = len({u.obs[c["obs"]][0] for c in flat})
    return {
        "schedule_block": n_sb,
        "meerkat_schedule_block": n_sb,
        "host": len({c["host"] for c in flat}),
        "coherent_beam_config": len({u.obs[c["obs"]][0] % 3 for c in flat}),
        "observation": n_obs,
        "tiling_config": n_obs * TILINGS_PER_OBS,
        "beam": len({(c["obs"], c["host"]) for c in flat}) * BEAMS_PER_HOST,
        "candidate": len(flat),
        "sp_candidate": len(flat),
        # raw rows before dedup: candidate ids are numbered before the
        # late copies are dropped, so they may run up to this value
        "candidate_raw": len(flat) + n_dup,
        "dirs": len(flat) + n_dup,
    }


# --------------------------------------------------------------------------
# warehouse batches: the 9 transformed tables, as meertrap_run emits them
# --------------------------------------------------------------------------

_TS = pa.timestamp("us", tz="UTC")


def _write(path: str, cols: dict[str, tuple[pa.DataType, list]]) -> None:
    table = pa.table({k: pa.array(v, type=t) for k, (t, v) in cols.items()})
    pq.write_table(table, path)


def write_batch(u: Universe, obs_ids: list[int], out: str, partition_key: str) -> None:
    """Write the transformed tables of the observations ``obs_ids`` with
    batch-local ids 1..n, exactly as one ``meertrap_run`` would."""
    os.makedirs(out, exist_ok=True)
    sb_ids = sorted({u.obs[o][0] for o in obs_ids})
    sb_local = {j: i + 1 for i, j in enumerate(sb_ids)}
    sb_cols = {"id": [], "start_at": [], "est_end_at": []}
    msb = {"id": [], "meerkat_id": [], "meerkat_id_code": [], "proposal_id": [],
           "schedule_block_id": []}
    for j in sb_ids:
        sb = u.sbs[j]
        start = u.obs[j * OBS_PER_SB][1] - dt.timedelta(seconds=600)
        sb_cols["id"].append(sb_local[j])
        sb_cols["start_at"].append(start)
        sb_cols["est_end_at"].append(start + dt.timedelta(seconds=SB_DURATION_S))
        msb["id"].append(sb_local[j])
        msb["meerkat_id"].append(sb["id"])
        msb["meerkat_id_code"].append(sb["id_code"])
        msb["proposal_id"].append(sb["proposal_id"])
        msb["schedule_block_id"].append(sb_local[j])
    i64, f64, s, b = pa.int64(), pa.float64(), pa.string(), pa.bool_()
    _write(f"{out}/schedule_block.parquet", {
        "id": (i64, sb_cols["id"]), "start_at": (_TS, sb_cols["start_at"]),
        "est_end_at": (_TS, sb_cols["est_end_at"])})
    _write(f"{out}/meerkat_schedule_block.parquet", {
        "id": (i64, msb["id"]), "meerkat_id": (i64, msb["meerkat_id"]),
        "meerkat_id_code": (s, msb["meerkat_id_code"]),
        "proposal_id": (s, msb["proposal_id"]),
        "schedule_block_id": (i64, msb["schedule_block_id"])})

    host_names = sorted(u.hosts)
    host_local = {h: i + 1 for i, h in enumerate(host_names)}
    _write(f"{out}/host.parquet", {
        "id": (i64, [host_local[h] for h in host_names]),
        "ip_address": (s, [u.hosts[h][0]["mc_ip"] for h in host_names]),
        "hostname": (s, host_names),
        "port": (pa.int32(), [u.hosts[h][0]["mc_port"] for h in host_names])})

    shapes = sorted({j % 3 for j in sb_ids})
    cb_local = {sh: i + 1 for i, sh in enumerate(shapes)}
    _write(f"{out}/coherent_beam_config.parquet", {
        "id": (i64, [cb_local[sh] for sh in shapes]),
        "angle": (f64, [-54.52 + sh for sh in shapes]),
        "fraction_overlap": (f64, [0.25] * len(shapes)),
        "x": (f64, [0.00813] * len(shapes)), "y": (f64, [0.00749] * len(shapes))})

    obs_sorted = sorted(obs_ids)
    obs_local = {o: i + 1 for i, o in enumerate(obs_sorted)}
    obs_cols: dict[str, list] = {k: [] for k in (
        "id", "t_min", "t_max", "em_min", "em_max", "schedule_block_id",
        "coherent_beam_config_id")}
    til: dict[str, list] = {k: [] for k in (
        "id", "epoch", "nbeams", "overlap", "target", "observation_id")}
    for o in obs_sorted:
        j, t_min, stop = u.obs[o]
        obs_cols["id"].append(obs_local[o])
        obs_cols["t_min"].append(t_min)
        obs_cols["t_max"].append(stop or t_min + dt.timedelta(seconds=OBS_LENGTH_S))
        obs_cols["em_min"].append(299792458.0 / 1712.0 * 1e6)
        obs_cols["em_max"].append(299792458.0 / 856.0 * 1e6)
        obs_cols["schedule_block_id"].append(sb_local[j])
        obs_cols["coherent_beam_config_id"].append(cb_local[j % 3])
        for t, (nbeams, ovl, tgt) in enumerate(((780, 0.25, "-4333"), (390, 0.5, "-6545"))):
            til["id"].append(len(til["id"]) + 1)
            til["epoch"].append(1700517405.4 + o)
            til["nbeams"].append(nbeams)
            til["overlap"].append(ovl)
            til["target"].append(f"J{o:04d}{tgt}")
            til["observation_id"].append(obs_local[o])
    _write(f"{out}/observation.parquet", {
        "id": (i64, obs_cols["id"]), "t_min": (_TS, obs_cols["t_min"]),
        "t_max": (_TS, obs_cols["t_max"]), "em_min": (f64, obs_cols["em_min"]),
        "em_max": (f64, obs_cols["em_max"]),
        "schedule_block_id": (i64, obs_cols["schedule_block_id"]),
        "coherent_beam_config_id": (i64, obs_cols["coherent_beam_config_id"])})
    _write(f"{out}/tiling_config.parquet", {
        "id": (i64, til["id"]), "epoch": (f64, til["epoch"]),
        "nbeams": (pa.int32(), til["nbeams"]), "overlap": (f64, til["overlap"]),
        "target": (s, til["target"]), "observation_id": (i64, til["observation_id"])})

    beam: dict[str, list] = {k: [] for k in (
        "id", "number", "coherent", "ra", "dec", "observation_id", "host_id")}
    beam_local: dict[tuple[int, int], int] = {}
    for o in obs_sorted:
        for h in host_names:
            for bm in u.hosts[h]:
                beam_local[(o, bm["absnum"])] = len(beam["id"]) + 1
                beam["id"].append(len(beam["id"]) + 1)
                beam["number"].append(bm["absnum"])
                beam["coherent"].append(bm["coherent"])
                beam["ra"].append(_ra_deg(bm["ra_hms"]))
                beam["dec"].append(_dec_deg(bm["dec_dms"]))
                beam["observation_id"].append(obs_local[o])
                beam["host_id"].append(host_local[h])
    _write(f"{out}/beam.parquet", {
        "id": (i64, beam["id"]), "number": (pa.int32(), beam["number"]),
        "coherent": (b, beam["coherent"]), "ra": (f64, beam["ra"]),
        "dec": (f64, beam["dec"]), "observation_id": (i64, beam["observation_id"]),
        "host_id": (i64, beam["host_id"])})

    cand: dict[str, list] = {k: [] for k in (
        "id", "dm", "snr", "width", "ra", "dec", "pos", "observed_at", "beam_id")}
    sp: dict[str, list] = {"id": [], "plot_path": [], "candidate_id": []}
    for o in obs_sorted:
        for c in u.cands[o]:
            cid = len(cand["id"]) + 1
            ra, dec = _ra_deg(c["beam"]["ra_hms"]), _dec_deg(c["beam"]["dec_dms"])
            cand["id"].append(cid)
            cand["dm"].append(c["dm"])
            cand["snr"].append(c["snr"])
            cand["width"].append(c["width"])
            cand["ra"].append(ra)
            cand["dec"].append(dec)
            cand["pos"].append(f"({ra},{dec})")
            cand["observed_at"].append(c["at"])
            cand["beam_id"].append(beam_local[(o, c["beam"]["absnum"])])
            sp["id"].append(cid)
            sp["plot_path"].append(
                f"data/{partition_key}/{c['host']}_{c['dm']}/plot.jpg")
            sp["candidate_id"].append(cid)
    _write(f"{out}/candidate.parquet", {
        "id": (i64, cand["id"]), "dm": (f64, cand["dm"]), "snr": (f64, cand["snr"]),
        "width": (f64, cand["width"]), "ra": (f64, cand["ra"]),
        "dec": (f64, cand["dec"]), "pos": (s, cand["pos"]),
        "observed_at": (_TS, cand["observed_at"]), "beam_id": (i64, cand["beam_id"])})
    _write(f"{out}/sp_candidate.parquet", {
        "id": (i64, sp["id"]), "plot_path": (s, sp["plot_path"]),
        "candidate_id": (i64, sp["candidate_id"])})


def batch_truth(u: Universe, obs_ids: list[int]) -> dict[str, int]:
    """Rows each table holds once the observations ``obs_ids`` are loaded."""
    sbs = {u.obs[o][0] for o in obs_ids}
    return {
        "schedule_block": len(sbs),
        "meerkat_schedule_block": len(sbs),
        "host": N_HOSTS,
        "coherent_beam_config": len({j % 3 for j in sbs}),
        "observation": len(obs_ids),
        "tiling_config": len(obs_ids) * TILINGS_PER_OBS,
        "beam": len(obs_ids) * N_HOSTS * BEAMS_PER_HOST,
        "candidate": sum(len(u.cands[o]) for o in obs_ids),
        "sp_candidate": sum(len(u.cands[o]) for o in obs_ids),
    }


def atnf_frame(seed: int, n: int) -> pd.DataFrame:
    """A psrqpy-shaped catalogue frame of ``n`` pulsars."""
    rng = np.random.default_rng(seed)
    ra = rng.uniform(0.0, 359.99, n)
    dec = rng.uniform(-89.0, 89.0, n)
    return pd.DataFrame(
        {
            "NAME": [f"J{i:05d}{'+' if d >= 0 else '-'}{int(abs(d)):02d}" for i, d in enumerate(dec)],
            "RAJ": [_hms(x) for x in ra],
            "DECJ": [_dms(x) for x in dec],
            "DM": np.round(rng.uniform(1.0, 1500.0, n), 3),
            "W50": np.round(rng.uniform(0.01, 50.0, n), 3),
            "P0": np.round(rng.uniform(0.0015, 8.0, n), 6),
            "DM_ERR": np.round(rng.uniform(0.0, 0.5, n), 3),
        }
    )

