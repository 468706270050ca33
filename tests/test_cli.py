"""CLI surface smoke tests (in-process: subcommands accept an
injected SparkSession so tests reuse the warm fixture)."""

from __future__ import annotations

import os
import tempfile

from lsd_spark.cli import main
from tests.conftest import SF_DIR


def test_cli_query_prints(capsys, spark):
    main(
        ["query", "SELECT r_name FROM region ORDER BY r_name", "--db", SF_DIR],
        spark=spark,
    )
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 5 and out[0] == "AFRICA"


def test_cli_query_writes_csv(spark, tmp_path):
    out = str(tmp_path / "res")
    main(
        ["query", "SELECT n_name, n_regionkey FROM nation", "--db", SF_DIR,
         "--out", out, "--format", "csv"],
        spark=spark,
    )
    got = spark.read.option("header", "true").csv(out)
    assert got.count() == 25


def test_cli_import_roundtrip(spark, tmp_path, capsys):
    src = str(tmp_path / "src")
    spark.read.parquet(f"{SF_DIR}/region.parquet").coalesce(1).write.option(
        "header", "true"
    ).csv(src)
    db = str(tmp_path / "wh")
    os.makedirs(db, exist_ok=True)
    main(
        ["import", src, "--table", "region2",
         "--schema", "r_regionkey int, r_name string, r_comment string",
         "--db", db],
        spark=spark,
    )
    assert "imported 5 rows" in capsys.readouterr().out
    assert spark.read.parquet(f"{db}/region2.parquet").count() == 5


def test_cli_xmatch_and_footprint(spark, tmp_path, capsys):
    out = str(tmp_path / "xm")
    main(["xmatch", "--db", SF_DIR, "--out", out], spark=spark)
    assert spark.read.parquet(out).columns == ["m1", "m2", "dist_us"]
    main(["footprint", "--db", SF_DIR, "--out", str(tmp_path / "fp"),
          "--format", "parquet"], spark=spark)
    assert spark.read.parquet(str(tmp_path / "fp")).count() > 0


def test_cli_xmatch2d_and_decontaminate(capsys, spark):
    from lsd_spark.cli import main

    main(["xmatch2d", "--db", "/root/testdata/sf0.001"], spark=spark)
    out = capsys.readouterr().out.strip().splitlines()
    assert all(len(ln.split("\t")) == 3 for ln in out)  # l_id, r_id, dist
    # ops return unordered rows; the terminal print orders them
    rows = [(int(a), int(b), float(d)) for a, b, d in (ln.split("\t") for ln in out)]
    assert rows and rows == sorted(rows)

    main(["decontaminate", "--db", "/root/testdata/sf0.001"], spark=spark)
    out = capsys.readouterr().out.strip()
    # 0+ contaminated rows, each (doc_id, n_hits)
    assert all(len(ln.split("\t")) == 2 for ln in out.splitlines() if ln)
    rows = [tuple(map(int, ln.split("\t"))) for ln in out.splitlines() if ln]
    assert rows == sorted(rows)


def test_cli_import_stamp_id(spark, tmp_path, capsys):
    """--stamp-id stamps the packed _id at import: fields round-trip
    through div/mod unpacking and the index is gap-free per cell."""
    from lsd_spark.cli import main

    src = str(tmp_path / "det.csv")
    db = str(tmp_path / "db")
    with open(src, "w") as fh:
        fh.write("det_id,epoch,cx,cy\n")
        for i in range(12):
            fh.write(f"{i},{100 + i % 2},{i % 3},{i % 2}\n")
    main(
        ["import", src, "--table", "det",
         "--schema", "det_id bigint, epoch bigint, cx bigint, cy bigint",
         "--db", db, "--stamp-id", "epoch:cx:cy:det_id"],
        spark=spark,
    )
    assert "imported 12 rows" in capsys.readouterr().out
    back = spark.read.parquet(f"{db}/det.parquet")
    rows = back.selectExpr(
        "det_id", "epoch", "cx", "cy", "_id",
        "_id div 68719476736 AS epoch_u",
        "_id % 1048576 AS idx_u",
    ).collect()
    assert all(r.epoch_u == r.epoch for r in rows)
    # index gap-free per (epoch, cell): each group's indexes are 0..n-1
    from collections import defaultdict

    groups = defaultdict(list)
    for r in rows:
        groups[(r.epoch, (r._id // 1048576) % 65536)].append(r.idx_u)
    for idxs in groups.values():
        assert sorted(idxs) == list(range(len(idxs)))
