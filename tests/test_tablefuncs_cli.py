"""CLI parsing and the layout commands."""

from __future__ import annotations


def test_cli_parser_and_layout_commands(tmp_path):
    from ska_src_maltopuft_etl_spark.cli import build_parser, main

    p = build_parser()
    ns = p.parse_args(["meertrap", "/data", "--incremental"])
    assert ns.command == "meertrap" and ns.incremental

    # clean-empty runs end-to-end without Spark
    d = tmp_path / "cands" / "empty_dir"
    d.mkdir(parents=True)
    rc = main(["clean-empty", str(tmp_path / "cands")])
    assert rc == 0
    assert not d.exists()
