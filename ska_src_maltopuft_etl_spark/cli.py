"""Command-line entry points (reference: meertrap/main.py, atnf/main.py,
click/*.py).

    python -m ska_src_maltopuft_etl_spark meertrap [DATA_DIR] [--config YML]
        [--output DIR] [--partition-key KEY] [--incremental]
    python -m ska_src_maltopuft_etl_spark atnf --output DIR
    python -m ska_src_maltopuft_etl_spark untar SRC DEST
    python -m ska_src_maltopuft_etl_spark reorg DATA_DIR
    python -m ska_src_maltopuft_etl_spark clean-empty DATA_DIR
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="ska_src_maltopuft_etl_spark")
    sub = p.add_subparsers(dest="command", required=True)

    mt = sub.add_parser("meertrap", help="run the MeerTRAP pipeline over a partition dir")
    mt.add_argument("data_dir", nargs="?", default=None)
    mt.add_argument(
        "--config", default=None,
        help="YAML config with the reference's keys (data_path, output_path, "
        "remote_file_root_path, partition_key, save_output — "
        "cfg/config.default.yml contract); flags override file values",
    )
    mt.add_argument("--output", default=None)
    mt.add_argument("--partition-key", default=None)
    mt.add_argument(
        "--incremental", action="store_true",
        help="reconcile ids against existing --output tables instead of overwriting",
    )

    at = sub.add_parser("atnf", help="run the ATNF catalogue pipeline (requires psrqpy)")
    at.add_argument("--output", required=True)

    un = sub.add_parser("untar", help="extract candidate archives")
    un.add_argument("source_dir")
    un.add_argument("dest_dir")
    un.add_argument("--remove-archives", action="store_true")

    ro = sub.add_parser("reorg", help="reorganise candidate dirs by schedule-block date")
    ro.add_argument("data_dir")

    ce = sub.add_parser("clean-empty", help="delete empty candidate dirs")
    ce.add_argument("data_dir")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.command == "untar":
        from ska_src_maltopuft_etl_spark.sources.layout import untar_directory

        roots = untar_directory(args.source_dir, args.dest_dir, args.remove_archives)
        print(f"extracted {len(roots)} archives")
        return 0
    if args.command == "reorg":
        from ska_src_maltopuft_etl_spark.sources.layout import (
            reorganise_candidate_dirs,
        )

        moved = reorganise_candidate_dirs(args.data_dir)
        print(f"moved {sum(len(v) for v in moved.values())} dirs into {len(moved)} partitions")
        return 0
    if args.command == "clean-empty":
        from ska_src_maltopuft_etl_spark.sources.layout import (
            delete_empty_candidate_dirs,
        )

        removed = delete_empty_candidate_dirs(args.data_dir)
        print(f"removed {len(removed)} empty dirs")
        return 0

    from ska_src_maltopuft_etl_spark.engine import get_spark

    spark = get_spark()
    try:
        if args.command == "meertrap":
            from ska_src_maltopuft_etl_spark.plans.meertrap import meertrap_run

            # --config carries the reference's YAML contract
            # (core/config.py:130-139); explicit flags override it.
            remote_file_root_path = "data"
            if args.config:
                from ska_src_maltopuft_etl_spark.config import load_config

                cfg = load_config(
                    args.config,
                    overrides=(
                        {"partition_key": args.partition_key}
                        if args.partition_key is not None
                        else None
                    ),
                )
                args.data_dir = args.data_dir or str(cfg.partition_data_path)
                if args.output is None and cfg.save_output:
                    args.output = str(cfg.output_path)
                args.partition_key = cfg.partition_key
                remote_file_root_path = cfg.remote_file_root_path
            if args.data_dir is None:
                raise SystemExit("meertrap: DATA_DIR or --config required")
            if args.incremental and args.output is None:
                raise SystemExit(
                    "meertrap --incremental: no output dir (--output, or a "
                    "--config with save_output true)"
                )
            args.partition_key = args.partition_key or ""

            if args.incremental:
                from ska_src_maltopuft_etl_spark.sinks import (
                    MEERTRAP_TARGETS,
                    incremental_load,
                )

                tables = meertrap_run(
                    spark, args.data_dir,
                    remote_file_root_path=remote_file_root_path,
                    partition_key=args.partition_key,
                )
                loaded = incremental_load(spark, tables, MEERTRAP_TARGETS, args.output)
                for name, df in loaded.items():
                    print(f"{name}: {df.count()} rows")
            else:
                tables = meertrap_run(
                    spark, args.data_dir,
                    output_dir=args.output,
                    remote_file_root_path=remote_file_root_path,
                    partition_key=args.partition_key,
                )
                for name, df in tables.items():
                    print(f"{name}: {df.count()} rows")
        elif args.command == "atnf":
            from ska_src_maltopuft_etl_spark.plans.atnf import atnf_run, psrqpy_fetcher
            from ska_src_maltopuft_etl_spark.sinks import ATNF_TARGETS, incremental_load

            tables = atnf_run(spark, psrqpy_fetcher)
            # incremental_load reconciles the batch-local ids (e.g.
            # catalogue_visit_id=1 from transform()) above the existing
            # table's max and remaps known_pulsar FKs, so each visit
            # gets a fresh id — matching the reference's
            # INSERT..RETURNING per-visit behavior.
            tables = incremental_load(spark, tables, ATNF_TARGETS, args.output)
            for name, df in tables.items():
                print(f"{name}: {df.count()} rows")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
