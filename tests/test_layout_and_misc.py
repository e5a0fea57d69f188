"""Tests for the layout CLIs (O4) and small leftovers: partition-pruned
scans, the SQL frontend, the CLI and pipeline config, shingling, hash
splits and the partitioned oracle digest."""

from __future__ import annotations

import json
import tarfile

from pyspark.sql import functions as F

from ska_src_maltopuft_etl_spark.sources.layout import (
    delete_empty_candidate_dirs,
    reorganise_candidate_dirs,
    untar_directory,
)


def test_untar_and_reorg_and_cleanup(tmp_path):
    # build a tarball holding one candidate dir
    src = tmp_path / "incoming"
    payload = tmp_path / "payload" / "tpn-0-37_1700000000"
    payload.mkdir(parents=True)
    (payload / "x_run_summary.json").write_text(
        json.dumps({"sb_details": {"actual_start_time": "2023-11-20 21:37:42.000+00:00"}})
    )
    src.mkdir()
    with tarfile.open(src / "batch1.tar.gz", "w:gz") as tf:
        tf.add(payload, arcname="tpn-0-37_1700000000")
    data = tmp_path / "data"
    roots = untar_directory(src, data)
    assert len(roots) == 1
    # flatten extraction root into data dir layout
    extracted = roots[0] / "tpn-0-37_1700000000"
    extracted.rename(data / "tpn-0-37_1700000000")
    roots[0].rmdir()

    moved = reorganise_candidate_dirs(data)
    assert moved == {"2023-11-20": ["tpn-0-37_1700000000"]}
    assert (data / "2023-11-20" / "tpn-0-37_1700000000" / "x_run_summary.json").exists()

    (data / "empty1" / "empty2").mkdir(parents=True)
    removed = delete_empty_candidate_dirs(data)
    assert any("empty2" in r for r in removed) and any("empty1" in r for r in removed)


def test_partition_pruned_scan(spark, tmp_path):
    """Hive-partitioned layout (O1): a date filter must prune partitions
    at the scan, not filter rows post-hoc."""
    import contextlib
    import io

    from ska_src_maltopuft_etl_spark.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "events_partitioned")
    ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd")).write.partitionBy(
        "day"
    ).parquet(path)
    back = spark.read.parquet(path).where(F.col("day") == "2024-01-05")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "day" in pf_line
    assert back.count() > 0
    assert back.select("day").distinct().count() == 1


def test_sql_frontend_over_pipeline_outputs(spark, tmp_path):
    """The reference's post-load SQL surface: register pipeline outputs
    as views and run the documented smoke query via spark.sql."""
    from ska_src_maltopuft_etl_spark.plans.meertrap import meertrap_run
    from tests.test_meertrap_pipeline import OBS, run_summary, spccl_line, mjd
    import datetime as dt
    import json

    data = tmp_path / "d"
    sb, start, stop = OBS[0]
    d = data / "tpn-0-37_1700000000"
    d.mkdir(parents=True)
    (d / "t0_tpn-0-37_run_summary.json").write_text(
        json.dumps(run_summary(sb, start, stop, "tpn-0-37"))
    )
    (d / "candA_beam.spccl.log").write_text(
        spccl_line(mjd(start + dt.timedelta(seconds=5)), 1.0, 2.0, 3.0, 0, "C",
                   "4:40:17.07", "-43:33:09.0")
    )
    tables = meertrap_run(spark, str(data), partition_key="x")
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    rows = spark.sql("SELECT * FROM sp_candidate LIMIT 1").collect()
    assert len(rows) == 1


def test_jaccard_doc_frequency_cap(spark):
    from ska_src_maltopuft_etl_spark.operators import similarity

    docs = spark.createDataFrame(
        [
            (1, "common common common unique1 unique1 unique1"),
            (2, "common common common unique2 unique2 unique2"),
            (3, "common common common unique1 unique1 unique1"),
        ],
        "doc_id long, text string",
    )
    sh = similarity.ngram_shingles(docs, "doc_id", "text", n=3)
    # every pair shares the 'common common common' shingle
    full = similarity.jaccard_pairs(sh, "doc_id", min_intersection=1)
    assert full.count() == 3


def test_cli_parser():
    from ska_src_maltopuft_etl_spark.cli import build_parser

    p = build_parser()
    a = p.parse_args(["meertrap", "/data/x", "--output", "/out",
                      "--incremental", "--partition-key", "2023-11-20"])
    assert a.command == "meertrap" and a.incremental
    a = p.parse_args(["untar", "src", "dst", "--remove-archives"])
    assert a.command == "untar" and a.remove_archives
    a = p.parse_args(["reorg", "/data"])
    assert a.command == "reorg"


def test_ngram_shingles_short_documents(spark):
    # docs shorter than n tokens must yield zero shingles, not crash
    # (sequence(0, size-n) with size<n counts DOWN -> element_at OOB)
    from ska_src_maltopuft_etl_spark.operators.similarity import (
        jaccard_pairs,
        ngram_shingles,
    )

    d = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "only two"), (4, "now three tokens"),
         (5, "now three tokens")],
        ["doc_id", "text"],
    )
    for hashed in (False, True):
        sh = ngram_shingles(d, "doc_id", "text", n=3, hashed=hashed)
        got = {r["doc_id"] for r in sh.select("doc_id").distinct().collect()}
        assert got == {4, 5}
    pairs = jaccard_pairs(
        ngram_shingles(d, "doc_id", "text", n=3, hashed=True),
        "doc_id",
        min_intersection=1,
    ).collect()
    assert [(p["doc_a"], p["doc_b"], p["jaccard"]) for p in pairs] == [(4, 5, 1.0)]


def test_hash_split_partition_invariant(spark):
    # split membership must be a pure function of the key: identical
    # assignment regardless of partitioning or row order
    from pyspark.sql import functions as F

    from ska_src_maltopuft_etl_spark.operators.similarity import md5_hash60

    def assign(df):
        bucket = md5_hash60(F.col("id").cast("string")) % 100
        split = (
            F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
        )
        return {r["id"]: r["s"] for r in df.select("id", split.alias("s")).collect()}

    base = spark.range(0, 500)
    a = assign(base)
    b = assign(base.repartition(17).orderBy(F.col("id").desc()))
    assert a == b
    # rough proportions hold (not exact — hash buckets)
    from collections import Counter

    c = Counter(a.values())
    assert c["train"] > 400 and c["val"] + c["test"] > 20


def test_pipeline_config_contract(tmp_path):
    """YAML config twin of reference core/config.py:39-139 — default file
    + override file + CLI overrides, the derived data path, unknown-key and
    missing-key failure modes."""
    import pytest

    from ska_src_maltopuft_etl_spark.config import load_config

    default = tmp_path / "config.default.yml"
    default.write_text(
        "data_path: ./data/\n"
        "output_path: {out}\n"
        "save_output: true\n"
        "remote_file_root_path: ./results/data/\n".format(out=tmp_path / "meta")
    )
    cfg = load_config(default_cfg_path=default)
    assert cfg.data_path == __import__("pathlib").Path("./data")
    assert cfg.output_path.exists()  # created eagerly, as the reference does

    # cfg file wins over default; CLI overrides win over both.
    override = tmp_path / "config.yml"
    override.write_text("partition_key: 2023-11-20\n")
    cfg = load_config(override, default_cfg_path=default)
    assert cfg.partition_key == "2023-11-20"
    assert cfg.partition_data_path.name == "2023-11-20"
    cfg = load_config(override, default_cfg_path=default,
                      overrides={"partition_key": "2024-01-01"})
    assert cfg.partition_key == "2024-01-01"

    with pytest.raises(ValueError, match="unknown config keys"):
        load_config(default_cfg_path=default, overrides={"outptu_path": "x"})
    with pytest.raises(ValueError, match="missing required"):
        load_config(overrides={"output_path": str(tmp_path)})


def test_cli_meertrap_config_flag(tmp_path):
    from ska_src_maltopuft_etl_spark.cli import build_parser

    p = build_parser()
    ns = p.parse_args(["meertrap", "--config", "cfg/config.yml"])
    assert ns.command == "meertrap" and ns.config and ns.data_dir is None


def test_partitioned_oracle_digest_equals_frame_hash():
    """The sliced oracle's accumulate-then-sort digest must be
    bit-identical to check_correctness.frame_hash on the same rows —
    this identity is what lets a sliced DuckDB run certify the same
    hash a single-shot oracle would (tools/partitioned_oracle.py)."""
    import random

    from tools.check_correctness import frame_hash
    from tools.partitioned_oracle import digest, lines_of

    rng = random.Random(7)
    cols = ["b_id", "a_val", "c_note"]
    rows = [
        (
            rng.randint(0, 50),
            rng.choice([None, rng.random(), float("nan"), 3, -7]),
            rng.choice([None, "x", "y\x1fz", ""]),
        )
        for _ in range(500)
    ]
    # arbitrary uneven slicing of the same multiset
    k1, k2 = rng.randint(1, 499), rng.randint(1, 499)
    lo, hi = min(k1, k2), max(k1, k2)
    slices = [rows[:lo], rows[lo:hi], rows[hi:], []]
    acc: list[str] = []
    for s in slices:
        acc.extend(lines_of(cols, s))
    assert digest(acc) == frame_hash(cols, rows)
