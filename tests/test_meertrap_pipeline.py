"""End-to-end MeerTRAP pipeline test on synthetic candidate directories
(FIXTURES.md layout): JSON run summaries + SPCCL files → 9 tables, with
the reference's documented invariants asserted (interval containment,
t_max imputation, zero-duration mining, content dedup, candidate dedup,
as-of beam resolution)."""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import pytest

from ska_src_maltopuft_etl_spark.operators import CardinalityError
from ska_src_maltopuft_etl_spark.plans.meertrap import meertrap_run, transform_observation
from ska_src_maltopuft_etl_spark.plans.meertrap.observation import UnexpectedShapeError
from ska_src_maltopuft_etl_spark.sources.run_summary import read_run_summaries
from tools.metrics import measure

UTC = dt.timezone.utc
EPOCH = dt.datetime(1970, 1, 1, tzinfo=UTC)


def mjd(ts: dt.datetime) -> float:
    return (ts - EPOCH).total_seconds() / 86400.0 + 40587.0


def fmt_utc(ts: dt.datetime | None) -> str | None:
    return None if ts is None else ts.strftime("%Y-%m-%d_%H:%M:%S")


HOST_BEAMS = {
    "tpn-0-37": [
        {"absnum": 0, "coherent": True, "ra_hms": "4:40:17.07", "dec_dms": "-43:33:09.0",
         "mc_ip": "10.0.0.1", "mc_port": 1234, "relnum": 0, "source": "J0440-4333"},
        {"absnum": 1, "coherent": True, "ra_hms": "4:40:20.00", "dec_dms": "-43:34:00.0",
         "mc_ip": "10.0.0.1", "mc_port": 1234, "relnum": 1, "source": "J0440-4333"},
        {"absnum": 2, "coherent": False, "ra_hms": "4:40:00.00", "dec_dms": "-43:30:00.0",
         "mc_ip": "10.0.0.1", "mc_port": 1234, "relnum": 2, "source": "J0440-4333"},
    ],
    "tpn-0-38": [
        {"absnum": 3, "coherent": True, "ra_hms": "4:41:00.00", "dec_dms": "-43:35:00.0",
         "mc_ip": "10.0.0.2", "mc_port": 1235, "relnum": 0, "source": "J0440-4333"},
        {"absnum": 4, "coherent": True, "ra_hms": "4:41:10.00", "dec_dms": "-43:36:00.0",
         "mc_ip": "10.0.0.2", "mc_port": 1235, "relnum": 1, "source": "J0440-4333"},
    ],
}

SB1 = {
    "id": 79119, "id_code": "20231120-0001",
    "actual_start_time": "2023-11-20 21:37:42.000+00:00",
    "expected_duration_seconds": 600,
    "proposal_id": "SCI-20230101-AB-01",
    "script_profile_config": "x duration=300\\n y",
    "targets": '[{"track_start_offset": 32.6, "target": "J0408-6545", "track_duration": 600.0}]',
}
# expected_duration 0 → duration mined GLOBALLY across both blocks'
# scripts: 300 + 600 + 1200 = 2100 s (reference quirk).
SB2 = {
    "id": 79120, "id_code": "20231120-0002",
    "actual_start_time": "2023-11-20 23:00:00.000+00:00",
    "expected_duration_seconds": 0,
    "proposal_id": "SCI-20230101-AB-01",
    "script_profile_config": "a duration=600\\n b duration=1200\\n",
    "targets": None,
}

OBS = [
    # (sb, utc_start, utc_stop)
    (SB1, dt.datetime(2023, 11, 20, 21, 57, 11, tzinfo=UTC), None),
    (SB1, dt.datetime(2023, 11, 20, 22, 7, 11, tzinfo=UTC),
     dt.datetime(2023, 11, 20, 22, 17, 0, tzinfo=UTC)),
    (SB2, dt.datetime(2023, 11, 20, 23, 10, 0, tzinfo=UTC), None),
]


def run_summary(sb: dict, utc_start: dt.datetime, utc_stop: dt.datetime | None,
                host: str, hosts: dict = HOST_BEAMS) -> dict:
    return {
        "beams": {
            "ca_target_request": {
                "beams": [],
                "tilings": [
                    {"coordinate_type": "equatorial", "epoch": 1700517405.4,
                     "epoch_offset": 300.0, "method": "variable_size", "nbeams": 780,
                     "overlap": 0.25, "reference_frequency": 1284000000.0,
                     "shape": "circle",
                     "target": "J0440-4333, radec gaincal, 4:40:17.07, -43:33:09.0"},
                    {"coordinate_type": "equatorial", "epoch": 1700517405.4,
                     "epoch_offset": 300.0, "method": "variable_size", "nbeams": 390,
                     "overlap": 0.5, "reference_frequency": 1284000000.0,
                     "shape": "circle",
                     "target": "J0408-6545, radec target, 4:08:20.38, -65:45:09.1"},
                ],
                "unique_id": None,
            },
            "cb_antennas": ["m000", "m001"],
            "coherent_beam_shape": {"angle": -54.52, "overlap": 0.25,
                                    "x": 0.00813, "y": 0.00749},
            "ib_antennas": ["m000"],
            "list": hosts[host],
        },
        "data": {"bw": 856.0, "cfreq": 1284.0, "nbeam": 780, "nbit": 8,
                 "nchan": 1024, "npol": 1, "sync_time": 1697000000.0,
                 "tsamp": 0.000306},
        "pipeline": {"version": "x"},
        "sb_details": sb,
        "utc_start": fmt_utc(utc_start),
        "utc_stop": fmt_utc(utc_stop),
        "version_info": {"app": "1"},
    }


def spccl_line(m: float, dm: float, width: float, snr: float, beam: int,
               mode: str, ra: str, dec: str) -> str:
    fields = ["0", repr(m), str(dm), str(width), str(snr), str(beam), mode,
              ra, dec, "1", "0.93", "cand.fil", "plot.jpg"]
    return "\t".join(fields) + "\n"


def write_tree(data: Path, pretty=lambda i: False, obs=OBS, hosts=HOST_BEAMS,
               late_beam: int = 0) -> None:
    """Write the candidate-directory tree of the observations ``obs`` on
    the host beams ``hosts``; the i-th run summary is pretty-printed when
    ``pretty(i)``. A later directory repeats the first candidate on beam
    ``late_beam`` (a duplicate on beam 0)."""
    ts0 = 1700000000
    summaries = 0

    def cand_dir(host: str, offset: int) -> Path:
        d = data / f"{host}_{ts0 + offset}"
        d.mkdir(exist_ok=True)
        return d

    def write_summary(d: Path, host: str, summary: dict) -> None:
        nonlocal summaries
        indent = 2 if pretty(summaries) else None
        summaries += 1
        (d / f"t{ts0}_{host}_run_summary.json").write_text(
            json.dumps(summary, indent=indent))

    n_dirs = 0
    for i, (sb, start, stop) in enumerate(obs):
        for host, beams in hosts.items():
            d = cand_dir(host, n_dirs)
            n_dirs += 1
            write_summary(d, host, run_summary(sb, start, stop, host, hosts))
            # one candidate 0.3 s after obs start (exercises 1 s rounding),
            # one later
            t1 = start + dt.timedelta(seconds=0.3)
            t2 = start + dt.timedelta(seconds=120 + i)
            b0, b1 = beams[0], beams[-1]
            (d / "candA_beam.spccl.log").write_text(
                spccl_line(mjd(t1), 123.45, 4.2, 9.7, b0["absnum"],
                           "C" if b0["coherent"] else "I", b0["ra_hms"], b0["dec_dms"]))
            (d / "candB_beam.spccl.log").write_text(
                spccl_line(mjd(t2), 55.5, 2.0, 12.0, b1["absnum"],
                           "C" if b1["coherent"] else "I", b1["ra_hms"], b1["dec_dms"]))

    # duplicate candidate in a later-processed dir (dedup keeps first)
    d_late = cand_dir("tpn-0-37", 999)
    write_summary(d_late, "tpn-0-37", run_summary(*OBS[0], "tpn-0-37", hosts))
    t1 = OBS[0][1] + dt.timedelta(seconds=0.3)
    (d_late / "candA_beam.spccl.log").write_text(
        spccl_line(mjd(t1), 123.45, 4.2, 9.7, late_beam, "C", "4:40:17.07", "-43:33:09.0"))


def run_tables(spark, data: Path) -> dict[str, list]:
    tables = meertrap_run(spark, str(data), partition_key="2023-11-20")
    return {name: df.collect() for name, df in tables.items()}


@pytest.fixture(scope="module")
def pipeline_tree(tmp_path_factory) -> Path:
    data = tmp_path_factory.mktemp("meertrap_data")
    write_tree(data)
    return data


@pytest.fixture(scope="module")
def pipeline_output(spark, pipeline_tree):
    return run_tables(spark, pipeline_tree)


def test_schedule_block(pipeline_output):
    rows = sorted(pipeline_output["schedule_block"], key=lambda r: r["id"])
    assert [r["id"] for r in rows] == [1, 2]
    assert rows[0]["start_at"] == dt.datetime(2023, 11, 20, 21, 37, 42)
    assert rows[0]["est_end_at"] == dt.datetime(2023, 11, 20, 21, 47, 42)
    # zero-duration block: global mined sum 300+600+1200 = 2100 s
    assert rows[1]["est_end_at"] == dt.datetime(2023, 11, 20, 23, 35, 0)


def test_meerkat_schedule_block(pipeline_output):
    rows = sorted(pipeline_output["meerkat_schedule_block"], key=lambda r: r["id"])
    assert [(r["meerkat_id"], r["schedule_block_id"]) for r in rows] == [
        (79119, 1), (79120, 2)]


def test_observation_interval_join_and_tmax(pipeline_output):
    rows = sorted(pipeline_output["observation"], key=lambda r: r["id"])
    assert len(rows) == 3
    assert [r["schedule_block_id"] for r in rows] == [1, 1, 2]
    # t_max: imputed = least(sb_est_end, next_t_min); given value kept
    assert rows[0]["t_max"] == dt.datetime(2023, 11, 20, 21, 47, 42)
    assert rows[1]["t_max"] == dt.datetime(2023, 11, 20, 22, 17, 0)
    assert rows[2]["t_max"] == dt.datetime(2023, 11, 20, 23, 35, 0)
    # enums + em math (faithful reference formula: (c/MHz)*1e6)
    assert rows[0]["pol_states"] == "I"
    assert rows[0]["dataproduct_type"] == "dynamic spectrum"
    assert rows[0]["em_min"] == pytest.approx(299792458.0 / 1712.0 * 1e6)
    assert rows[0]["s_ra"] == pytest.approx(70.07113)
    assert rows[0]["s_dec"] == pytest.approx(-43.5525)


def test_coherent_beam_config(pipeline_output):
    rows = pipeline_output["coherent_beam_config"]
    assert len(rows) == 1
    assert rows[0]["angle"] == pytest.approx(-54.52)
    assert rows[0]["fraction_overlap"] == pytest.approx(0.25)


def test_tiling_config(pipeline_output):
    rows = sorted(pipeline_output["tiling_config"], key=lambda r: r["id"])
    assert len(rows) == 6  # 3 obs × 2 tilings
    assert [r["id"] for r in rows] == list(range(1, 7))
    first = rows[0]
    assert first["target"] == "J0440-4333"
    assert first["ra"] == pytest.approx(70.07113)
    assert first["dec"] == pytest.approx(-43.5525)
    assert first["reference_frequency"] == pytest.approx(1284.0)
    assert first["nbeams"] == 780


def test_host_and_beam(pipeline_output):
    hosts = sorted(pipeline_output["host"], key=lambda r: r["id"])
    assert [(h["hostname"], h["ip_address"], h["port"]) for h in hosts] == [
        ("tpn-0-37", "10.0.0.1", 1234), ("tpn-0-38", "10.0.0.2", 1235)]
    beams = pipeline_output["beam"]
    # 3 obs × (3 beams host1 + 2 beams host2) = 15
    assert len(beams) == 15
    assert all(b["host_id"] is not None and b["observation_id"] is not None
               for b in beams)
    by_num = {(b["observation_id"], b["number"]): b for b in beams}
    assert by_num[(1, 0)]["coherent"] is True
    assert by_num[(1, 2)]["coherent"] is False
    assert by_num[(1, 3)]["ra"] == pytest.approx(70.25)


def test_candidates(pipeline_output):
    cands = sorted(pipeline_output["candidate"], key=lambda r: r["id"])
    # 6 dirs × 2 candidates + 1 duplicate − 1 deduped = 12
    assert len(cands) == 12
    assert all(c["beam_id"] is not None for c in cands)
    assert all(c["pos"].startswith("(") and c["pos"].endswith(")") for c in cands)
    # the 0.3 s candidate resolved to its observation despite starting
    # before t_min (1 s rounding)
    first = cands[0]
    assert first["observed_at"].second == 11  # 21:57:11.3
    assert first["dm"] == pytest.approx(123.45)


def test_sp_candidate(pipeline_output):
    sps = sorted(pipeline_output["sp_candidate"], key=lambda r: r["id"])
    assert len(sps) == 12
    assert all(s["plot_path"].startswith("data/2023-11-20/") for s in sps)
    assert all(s["candidate_id"] is not None for s in sps)


def test_pretty_printed_summaries_parse(spark, tmp_path, pipeline_output):
    """The reference reads each summary with ``json.load``, which takes
    pretty-printed and compact files alike; a tree mixing both yields the
    same tables as the all-compact one."""
    write_tree(tmp_path, pretty=lambda i: i % 2 == 0)
    got = run_tables(spark, tmp_path)
    assert got.keys() == pipeline_output.keys()
    for name, rows in pipeline_output.items():
        assert sorted(map(repr, got[name])) == sorted(map(repr, rows)), name


def test_observation_frames_read_checkpoints(spark, pipeline_tree):
    """Every observation table and the candidate as-of input plan against
    materialized dimension frames: no frame replays the JSON scan or the
    dedup, numbering and ``lead`` windows behind it."""
    tables = transform_observation(read_run_summaries(spark, str(pipeline_tree)))
    frames = {**tables.as_dict(), "beam_obs": tables.beam_obs}
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan, (name, plan)
        assert "Window" not in plan and "FileScan" not in plan, (name, plan)


def test_null_coherent_beam_config_key(spark, tmp_path):
    """An observation whose summaries hold no ``coherent_beam_shape`` gets
    a NULL config id, as from the reference's equi-join back to the
    configs, and the config table still holds the NULL-key row and id."""
    write_tree(tmp_path)
    for path in tmp_path.glob("*/*run_summary.json"):
        summary = json.loads(path.read_text())
        if summary["utc_start"] == fmt_utc(OBS[2][1]):
            del summary["beams"]["coherent_beam_shape"]
            path.write_text(json.dumps(summary))
    got = run_tables(spark, tmp_path)
    obs = sorted(got["observation"], key=lambda r: r["id"])
    assert [r["coherent_beam_config_id"] for r in obs] == [1, 1, None]
    configs = sorted(got["coherent_beam_config"], key=lambda r: r["id"])
    assert [(r["id"], r["angle"], r["x"]) for r in configs] == [
        (1, pytest.approx(-54.52), pytest.approx(0.00813)), (2, None, None)]


SB3 = {**SB2, "id": 79121, "id_code": "20231120-0003"}  # SB2's start time
NULL_IP = {**HOST_BEAMS, "tpn-0-38": [{**b, "mc_ip": None} for b in HOST_BEAMS["tpn-0-38"]]}


@pytest.mark.parametrize(
    "tree, error, match",
    [
        # more than 1 h after SB1's estimated end (21:47:42): no parent
        ({"obs": OBS + [(SB1, dt.datetime(2023, 11, 20, 22, 50, 0, tzinfo=UTC), None)]},
         UnexpectedShapeError, "1 null schedule_block_id"),
        ({"obs": OBS + [(SB3, dt.datetime(2023, 11, 20, 23, 20, 0, tzinfo=UTC), None)]},
         CardinalityError, r"\['sb_start_at'\] not unique on right side"),
        ({"hosts": NULL_IP}, UnexpectedShapeError, "null host_id"),
        ({"late_beam": 99}, UnexpectedShapeError, "after beam-id as-of join"),
    ],
    ids=["orphan_observation", "duplicate_sb_start", "null_host_ip", "unmatched_beam"],
)
def test_invariant_violation_raises(spark, tmp_path, tree, error, match):
    """Each of the reference's runtime invariants (null FKs, m:1 joins,
    the as-of beam match) raises its error on a tree that breaks it."""
    write_tree(tmp_path, **tree)
    with pytest.raises(error, match=match):
        meertrap_run(spark, str(tmp_path))


def test_invariants_run_no_job_of_their_own(spark, pipeline_tree):
    """The checks read counts that the checkpoint jobs observe (a run
    took 87-88 jobs when each check ran its own), the config and host
    ids ride the observation and beam checkpoints (52 jobs and 12-13 pins
    when each had its own table, map and join back), and both candidate
    ids come from one sorted checkpoint (36 jobs and 9 pins with a cached
    scan and a second numbering pass over a second checkpoint)."""
    sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
    pins = sc.getPersistentRDDs().size()
    with measure(spark, "meertrap_run") as m:
        meertrap_run(spark, str(pipeline_tree))
    assert m["jobs"] <= 35, m
    # ContextCleaner may drop pins that are garbage, never add any
    assert sc.getPersistentRDDs().size() - pins <= 7


@pytest.mark.parametrize("incremental", [False, True], ids=["overwrite", "incremental"])
def test_cli_config_remote_root(spark, tmp_path, monkeypatch, incremental):
    """``meertrap --config`` prefixes plot paths with the config's
    ``remote_file_root_path``, on the overwrite and incremental paths."""
    from ska_src_maltopuft_etl_spark.cli import main

    data = tmp_path / "data" / "2023-11-20"
    data.mkdir(parents=True)
    write_tree(data)
    out = tmp_path / "out"
    cfg = tmp_path / "config.yml"
    cfg.write_text(
        f"data_path: {tmp_path / 'data'}\n"
        "partition_key: 2023-11-20\n"
        f"output_path: {out}\n"
        "remote_file_root_path: s3://bucket/cands\n"
    )
    # main stops its session when done; keep the shared test session
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    assert main(["meertrap", "--config", str(cfg)] + ["--incremental"] * incremental) == 0
    paths = [r["plot_path"] for r in spark.read.parquet(f"{out}/sp_candidate.parquet").collect()]
    assert len(paths) == 12
    assert all(p.startswith("s3://bucket/cands/2023-11-20/") for p in paths), paths


@pytest.mark.parametrize("config", [False, True], ids=["no_output", "save_output_false"])
def test_cli_incremental_without_output_fails(spark, tmp_path, monkeypatch, config):
    """``meertrap --incremental`` with nowhere to load raises instead of
    running the plain in-memory pipeline and exiting 0."""
    from ska_src_maltopuft_etl_spark.cli import main

    data = tmp_path / "data" / "2023-11-20"
    data.mkdir(parents=True)
    write_tree(data)
    argv = ["meertrap", str(data), "--incremental"]
    if config:
        cfg = tmp_path / "config.yml"
        cfg.write_text(
            f"data_path: {tmp_path / 'data'}\n"
            "partition_key: 2023-11-20\n"
            f"output_path: {tmp_path / 'out'}\n"
            "remote_file_root_path: data\n"
            "save_output: false\n"
        )
        argv += ["--config", str(cfg)]
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    with pytest.raises(SystemExit, match="no output dir"):
        main(argv)


def test_cand_obs_count_asset(spark):
    """Parity for the reference's plot_cand_obs_count asset data
    (reference assets.py:55-76): distributed counts, plotting gated."""
    from ska_src_maltopuft_etl_spark.plans.meertrap.assets import (
        cand_obs_counts,
        plot_cand_obs_count,
    )

    obs = spark.createDataFrame([(1,), (1,), (2,)], "observation_id long")
    cand = spark.createDataFrame([(i,) for i in range(5)], "id long")
    assert cand_obs_counts(obs, cand) == {"num_obs": 2, "num_cands": 5}
    # missing id column -> 0 observations (ColumnNotFoundError parity)
    noid = spark.createDataFrame([(1,)], "other long")
    assert cand_obs_counts(noid, cand)["num_obs"] == 0
    try:
        md = plot_cand_obs_count(obs, cand)
    except ImportError:
        pass  # matplotlib absent in this container — counts still covered
    else:
        assert md.startswith("![img](data:image/png;base64,")
