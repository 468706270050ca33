"""CLI tools mirroring the reference's command-line surface
[lsd: lsd-query / lsd-import / lsd-xmatch / lsd-footprint /
lsd-make-object-catalog scripts — UNVERIFIED]:

    python -m lsd_spark.cli query  "SELECT ..." --db DIR [--format ...]
    python -m lsd_spark.cli import SRC --table t --schema DDL --db DIR
    python -m lsd_spark.cli xmatch --db DIR --out PATH
    python -m lsd_spark.cli footprint --db DIR
    python -m lsd_spark.cli make-object-catalog --db DIR --out PATH

Thin shims over the engine: each subcommand builds (or receives) a
SparkSession, delegates to lsd_spark machinery, and prints/writes
results. Kept import-light so `--help` works without a JVM.
"""

from __future__ import annotations

import argparse
import functools
import os
import sys


def _spark(args, spark=None):
    if spark is not None:
        return spark
    from lsd_spark.session import get_spark

    return get_spark(app_name=f"lsd-cli-{args.cmd}")


def _emit(df, fmt: str, out: str | None):
    if out:
        w = df.write.mode("overwrite")
        {"csv": lambda: w.option("header", "true").csv(out),
         "json": lambda: w.json(out),
         "parquet": lambda: w.parquet(out)}[fmt]()
        print(f"wrote {fmt} -> {out}")
    else:
        for row in df.toLocalIterator():
            print("\t".join("" if v is None else str(v) for v in row))


def cmd_query(args, spark=None):
    from lsd_spark.api import DB

    db = DB(_spark(args, spark), args.db)
    q = db.query(args.sql)
    if args.into:
        db_df = q.into(args.into)
        print(f"INTO {args.into}: {db_df.count()} rows")
    else:
        _emit(q.df(), args.format, args.out)


def cmd_import(args, spark=None):
    s = _spark(args, spark)
    reader = s.read.schema(args.schema)
    if args.src_format == "csv":
        df = reader.option("header", "true").csv(args.src)
    else:
        df = reader.json(args.src)
    if args.stamp_id:
        from lsd_spark.plans.spatial import stamp_packed_id

        df = stamp_packed_id(df, *args.stamp_id.split(":"))
    out = os.path.join(args.db, f"{args.table}.parquet")
    w = df.write.mode("overwrite")
    if args.partition_by:
        w = w.partitionBy(*args.partition_by.split(","))
    w.parquet(out)
    print(f"imported {df.count()} rows -> {out}")


def cmd_xmatch(args, spark=None):
    from lsd_spark.plans.xmatch import build_xmatch

    path = build_xmatch(_spark(args, spark), args.db, args.out)
    print(f"xmatch table -> {path}")


def _emit_op(op: str, args, spark=None):
    """Run registry op `op` over --db and emit it. Ops return
    unordered rows; the terminal is where a person reads them, so
    printed rows are ordered by every output column. --out files are
    written unsorted."""
    from lsd_spark.registry import QUERIES, load_all

    load_all()
    df = QUERIES[op](_spark(args, spark), args.db)
    _emit(df if args.out else df.orderBy(*df.columns), args.format, args.out)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="lsd_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query", help="run SQL over a DB dir (lsd-query)")
    q.add_argument("sql")
    q.add_argument("--db", default=os.environ.get("LSD_DB", "/root/testdata/sf0.01"))
    q.add_argument("--format", choices=["csv", "json", "parquet"], default="csv")
    q.add_argument("--out", default=None, help="output dir (default: print)")
    q.add_argument("--into", default=None, help="CTAS into named table")
    q.set_defaults(fn=cmd_query)

    i = sub.add_parser("import", help="ingest CSV/JSON with explicit schema (lsd-import)")
    i.add_argument("src")
    i.add_argument("--table", required=True)
    i.add_argument("--schema", required=True, help="DDL, e.g. 'id bigint, name string'")
    i.add_argument("--src-format", choices=["csv", "json"], default="csv")
    i.add_argument("--db", required=True, help="writable warehouse dir")
    i.add_argument("--partition-by", default=None)
    i.add_argument(
        "--stamp-id",
        default=None,
        metavar="EPOCH:CX:CY:ORDER",
        help="stamp the packed 64-bit _id (epoch<<36 | morton(cx,cy)<<20 "
        "| index) from these columns at import time",
    )
    i.set_defaults(fn=cmd_import)

    x = sub.add_parser("xmatch", help="materialize a cross-match table (lsd-xmatch)")
    x.add_argument("--db", default=os.environ.get("LSD_DB", "/root/testdata/sf0.01"))
    x.add_argument("--out", default=None)
    x.set_defaults(fn=cmd_xmatch)

    f = sub.add_parser("footprint", help="density map (lsd-footprint)")
    f.add_argument("--db", default=os.environ.get("LSD_DB", "/root/testdata/sf0.01"))
    f.add_argument("--format", choices=["csv", "json", "parquet"], default="csv")
    f.add_argument("--out", default=None)
    f.set_defaults(fn=functools.partial(_emit_op, "agg_density_map_2d"))

    x2 = sub.add_parser("xmatch2d", help="2-D spatial nearest-neighbor cross-match")
    x2.add_argument("--db", default=os.environ.get("LSD_DB", "/root/testdata/sf0.01"))
    x2.add_argument("--format", choices=["csv", "json", "parquet"], default="csv")
    x2.add_argument("--out", default=None)
    x2.set_defaults(fn=functools.partial(_emit_op, "join_xmatch_2d"))

    dc = sub.add_parser("decontaminate", help="train/test shingle-overlap check")
    dc.add_argument("--db", default=os.environ.get("LSD_DB", "/root/testdata/sf0.01"))
    dc.add_argument("--format", choices=["csv", "json", "parquet"], default="csv")
    dc.add_argument("--out", default=None)
    dc.set_defaults(fn=functools.partial(_emit_op, "llm_decontaminate"))

    m = sub.add_parser(
        "make-object-catalog", help="FoF clustering build (lsd-make-object-catalog)"
    )
    m.add_argument("--db", default=os.environ.get("LSD_DB", "/root/testdata/sf0.01"))
    m.add_argument("--out", default=None)
    m.set_defaults(fn=functools.partial(_emit_op, "cluster_fof"), format="parquet")
    return p


def main(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    args.fn(args, spark=spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
