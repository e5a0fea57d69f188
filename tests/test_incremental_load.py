"""Incremental-load reconciliation test (K4 + J9): two overlapping
pipeline batches land in one parquet 'database'; ids are reconciled on
natural keys and downstream FKs are remapped through the keymaps."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.plans.meertrap import meertrap_run
from ska_src_maltopuft_etl_spark.sinks import MEERTRAP_TARGETS, incremental_load

from tests.test_meertrap_pipeline import HOST_BEAMS, OBS, mjd, run_summary, spccl_line
from tools.metrics import measure


def _write_batch(root, obs_list, start_offset):
    n = start_offset
    for sb, start, stop in obs_list:
        for host in HOST_BEAMS:
            d = root / f"{host}_{1700000000 + n}"
            d.mkdir(parents=True)
            n += 1
            (d / f"t0_{host}_run_summary.json").write_text(
                json.dumps(run_summary(sb, start, stop, host))
            )
            b = HOST_BEAMS[host][0]
            t1 = start + dt.timedelta(seconds=30)
            (d / "candA_beam.spccl.log").write_text(
                spccl_line(mjd(t1), 123.45, 4.2, 9.7, b["absnum"], "C",
                           b["ra_hms"], b["dec_dms"])
            )
    return n


def test_incremental_load_reconciles_ids_and_fks(spark, tmp_path):
    out = str(tmp_path / "warehouse")
    batch1 = tmp_path / "p1"
    batch2 = tmp_path / "p2"
    # batch 1: SB1 observations only; batch 2 overlaps (all three obs,
    # including SB1's two plus SB2's one)
    _write_batch(batch1, OBS[:2], 0)
    _write_batch(batch2, OBS, 100)

    t1 = meertrap_run(spark, str(batch1), partition_key="p1")
    with measure(spark, "first") as first:
        loaded1 = incremental_load(spark, t1, MEERTRAP_TARGETS, out)
    sb1 = {(r["id"],) for r in loaded1["schedule_block"].collect()}
    assert len(sb1) == 1
    n_obs_1 = loaded1["observation"].count()
    assert n_obs_1 == 2

    t2 = meertrap_run(spark, str(batch2), partition_key="p2")
    with measure(spark, "overlap") as overlap:
        loaded2 = incremental_load(spark, t2, MEERTRAP_TARGETS, out)
    sbs = sorted(r["id"] for r in loaded2["schedule_block"].collect())
    assert sbs == [1, 2]  # SB1 kept its id, SB2 appended
    obs = loaded2["observation"].collect()
    assert len(obs) == 3
    by_tmin = {r["t_min"]: r for r in obs}
    # SB2's observation points at the APPENDED schedule block id (2),
    # not its batch-local id (which was also 2 in batch2 but for a
    # different ordering — the natural-key match guarantees consistency)
    sb_rows = {r["id"]: r for r in loaded2["schedule_block"].collect()}
    for r in obs:
        assert r["schedule_block_id"] in sb_rows
        sb = sb_rows[r["schedule_block_id"]]
        assert sb["start_at"] <= r["t_min"]

    # hosts deduped across batches on (ip, hostname, port)
    assert loaded2["host"].count() == 2
    # beams: batch1 contributed 2 obs × 5 beams, batch2 adds SB2's obs
    assert loaded2["beam"].count() == 15
    # every candidate's beam_id resolves in the final beam table
    beams = {r["id"] for r in loaded2["beam"].collect()}
    cands = loaded2["candidate"].collect()
    assert all(c["beam_id"] in beams for c in cands)
    # re-running batch2 is a no-op (idempotency)
    t3 = meertrap_run(spark, str(batch2), partition_key="p2")
    with measure(spark, "rerun") as rerun:
        loaded3 = incremental_load(spark, t3, MEERTRAP_TARGETS, out)
    for name in ("schedule_block", "observation", "beam", "candidate", "sp_candidate"):
        assert loaded3[name].count() == loaded2[name].count(), name
    # the returned frames carry the written tables' schemas
    for loaded in (loaded1, loaded2, loaded3):
        for name, df in loaded.items():
            assert df.schema == spark.read.parquet(f"{out}/{name}.parquet").schema, name
    # 54, 97 and 89 jobs alone; a full suite run once read one more
    bounds = ((first, 56), (overlap, 99), (rerun, 91))
    assert all(m["jobs"] <= n for m, n in bounds), bounds


def test_incremental_load_matches_on_every_unique_set(spark, tmp_path):
    """Round-6 ADVICE: a table with extra_unique_keys must get the same
    conflict semantics on the incremental path as in the merge sinks —
    a row matching an existing row on ANY unique set adopts the
    existing id instead of re-appending."""
    from ska_src_maltopuft_etl_spark.sinks import TargetInformation

    out = str(tmp_path / "wh")
    target = TargetInformation(
        "account", "id",
        unique_key=("email",),
        extra_unique_keys=(("username",),),
    )
    b1 = spark.createDataFrame(
        [(1, "a@x.io", "alice"), (2, "b@x.io", "bob")],
        "id long, email string, username string",
    )
    loaded = incremental_load(spark, {"account": b1}, [target], out)
    assert loaded["account"].count() == 2

    b2 = spark.createDataFrame(
        [
            (1, "a@x.io", "alice2"),      # matches set 1 (email)
            (2, "bob@new.io", "bob"),     # matches ONLY set 2 (username)
            (3, "c@x.io", "carol"),       # novel
        ],
        "id long, email string, username string",
    )
    loaded = incremental_load(spark, {"account": b2}, [target], out)
    rows = {r["username"]: r["id"] for r in loaded["account"].collect()}
    # bob matched on username alone -> adopted id 2, no duplicate row;
    # carol appended above the existing max id.
    assert loaded["account"].count() == 3
    assert rows == {"alice": 1, "bob": 2, "carol": 3}

    # Gappy local ids, a matched row among them: novel rows get
    # contiguous ids above the existing max, in local-id order.
    b3 = spark.createDataFrame(
        [
            (1, "d@x.io", "dave"),
            (2, "b@x.io", "bob"),
            (7, "f@x.io", "frank"),
            (5, "e@x.io", "erin"),
        ],
        "id long, email string, username string",
    )
    loaded = incremental_load(spark, {"account": b3}, [target], out)
    rows = {r["username"]: r["id"] for r in loaded["account"].collect()}
    assert loaded["account"].count() == 6
    assert rows == {"alice": 1, "bob": 2, "carol": 3, "dave": 4, "erin": 5, "frank": 6}


def test_incremental_load_raises_on_unreadable_table(spark, tmp_path):
    """A table that exists but cannot be read is not a first load: the
    load raises and leaves the table's files as they were, instead of
    renumbering from 1 beside them."""
    from ska_src_maltopuft_etl_spark.sinks import TargetInformation

    out = tmp_path / "wh"
    target = TargetInformation("account", "id", unique_key=("email",))
    batch = spark.createDataFrame([(1, "a@x.io")], "id long, email string")
    incremental_load(spark, {"account": batch}, [target], str(out))
    table = out / "account.parquet"
    for f in table.glob("part-*"):
        f.write_bytes(b"not parquet")
    files = sorted(p.name for p in table.iterdir())

    with pytest.raises(Exception):
        incremental_load(spark, {"account": batch}, [target], str(out))
    assert sorted(p.name for p in table.iterdir()) == files


def test_incremental_load_releases_its_pins(spark, tmp_path):
    """The call releases its per-table checkpoints before returning (it
    used to leave one pinned per table) and nothing else: a batch table
    the caller cached, which the call's own jobs materialize, stays
    cached."""
    batch, stage = tmp_path / "p1", str(tmp_path / "stage")
    _write_batch(batch, OBS[:2], 0)
    meertrap_run(spark, str(batch), output_dir=stage)
    tables = {
        t.table_name: spark.read.parquet(f"{stage}/{t.table_name}.parquet")
        for t in MEERTRAP_TARGETS
    }
    tables["beam"] = tables["beam"].cache()
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    before = set(jsc.getPersistentRDDs())
    incremental_load(spark, tables, MEERTRAP_TARGETS, str(tmp_path / "wh"))
    added = set(jsc.getPersistentRDDs()) - before
    # the one RDD added is the caller's cache, built by the call's jobs
    assert len(added) == 1
    assert added <= {info.id() for info in jsc.sc().getRDDStorageInfo()}
    tables["beam"].unpersist(blocking=True)
    # ContextCleaner may drop pins that are garbage, never add any
    assert set(jsc.getPersistentRDDs()) <= before


def test_incremental_load_rejects_orphan_fk(spark, tmp_path):
    """A non-NULL FK with no row in its parent's batch raises, naming
    the table and column, and no table is written, the parent's
    neither; a NULL FK loads as NULL. ``login`` declares no unique key,
    so it matches on all its columns but the primary key."""
    from ska_src_maltopuft_etl_spark.sinks import TargetInformation

    out = tmp_path / "wh"
    targets = [
        TargetInformation("account", "id", unique_key=("email",)),
        TargetInformation("login", "id", {"account_id": "account"}),
    ]
    account = spark.createDataFrame([(1, "a@x.io")], "id long, email string")
    login = spark.createDataFrame([(1, 10, 1), (2, 11, None)], "id long, at long, account_id long")
    loaded = incremental_load(spark, {"account": account, "login": login}, targets, str(out / "ok"))
    assert {r["at"]: r["account_id"] for r in loaded["login"].collect()} == {10: 1, 11: None}
    loaded = incremental_load(spark, {"account": account, "login": login}, targets, str(out / "ok"))
    assert loaded["login"].count() == 2

    orphan = spark.createDataFrame([(1, 10, 1), (2, 11, 7)], "id long, at long, account_id long")
    with pytest.raises(ValueError, match=r"login\.account_id: 1 rows reference no account"):
        incremental_load(spark, {"account": account, "login": orphan}, targets, str(out / "bad"))
    assert list((out / "bad").glob("*.parquet")) == []


def test_incremental_load_rerun_writes_no_file(spark, tmp_path):
    """Rerunning a loaded batch appends nothing, so it leaves every
    table's files and the returned frames as they were; an empty first
    batch still creates its table."""
    from ska_src_maltopuft_etl_spark.sinks import TargetInformation

    out = tmp_path / "wh"
    targets = [
        TargetInformation("account", "id", unique_key=("email",)),
        TargetInformation("login", "id", {"account_id": "account"}, ("at", "account_id")),
        TargetInformation("note", "id", unique_key=("text",)),
    ]
    tables = {
        "account": spark.createDataFrame(
            [(1, "a@x.io"), (2, "b@x.io")], "id long, email string"
        ),
        "login": spark.createDataFrame([(1, 10, 2), (2, 11, 1)], "id long, at long, account_id long"),
        "note": spark.createDataFrame([], "id long, text string"),
    }

    def files() -> dict[str, list[str]]:
        return {
            t.table_name: sorted(p.name for p in (out / f"{t.table_name}.parquet").iterdir())
            for t in targets
        }

    def rows(loaded) -> dict[str, list]:
        return {name: sorted(df.collect()) for name, df in loaded.items()}

    first = rows(incremental_load(spark, tables, targets, str(out)))
    assert first["note"] == [] and len(first["login"]) == 2
    before = files()
    again = rows(incremental_load(spark, tables, targets, str(out)))
    assert files() == before
    assert again == first
