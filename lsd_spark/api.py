"""User-facing LSD-style API — the `lsd.DB` surface re-expressed
over Spark [lsd:src/lsd/__init__.py DB; query.py Query — UNVERIFIED].

LSD's public workflow:

    db = lsd.DB('db_dir')
    rows = db.query("SELECT ra, dec FROM obj WHERE r < 16").fetch()
    for block in db.query(...).iterate(): ...
    db.query(...).execute([(kernel, args), (reducer, args)])
    ... INTO newtable

The same workflow here:

    db = DB(spark, '/root/testdata/sf0.01')
    pdf = db.query("SELECT l_orderkey, l_quantity FROM lineitem "
                   "WHERE l_quantity > 45").fetch()
    for row in db.query(...).iterate(): ...
    db.query(...).execute([Map(fn, schema), Reduce(fn, schema, key)])
    db.query(...).into('newtable')

Divergences from LSD, by design:
- SQL is real Spark SQL (Catalyst), not LSD's mini-language; WHERE
  supports full SQL instead of numpy expression strings.
- Kernels receive/emit pandas DataFrames over Arrow batches (LSD:
  numpy ColGroups over pickled pipes) and must declare an output
  schema — Spark needs it at plan time, LSD inferred it at runtime.
- INTO writes partitioned Parquet into the DB's writable warehouse
  dir (LSD: cells inside the db directory).
"""

from __future__ import annotations

import os
import re
import tempfile
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from lsd_spark.catalog import TABLES, load
from lsd_spark.session import apply_session_defaults


_SQL_TOKEN = re.compile(
    r"""
      '(?:[^']|'')*'            # string literal ('' escape)
    | "[^"]*" | `[^`]*`         # quoted identifiers
    | --[^\n]*                  # line comment
    | /\*.*?\*/                 # block comment
    | [A-Za-z_][A-Za-z0-9_$]*   # word
    | \d[\w.]*                  # number
    | \S                        # any other single char
    """,
    re.VERBOSE | re.DOTALL,
)

# Words that end a FROM item list (or an item's implicit alias).
_FROM_STOP = frozenset(
    "where group order having limit offset join inner left right full "
    "cross natural anti semi union intersect except on using qualify "
    "window lateral distribute cluster sort values pivot unpivot "
    "tablesample".split()
)


def _rewrite_from_lists(sql: str, joins: dict) -> str:
    """Parse every FROM item list in `sql` (including subqueries) and
    rewrite declared comma-joined pairs through their mapping view.
    Tokenizer-driven: FROM inside strings/comments is never touched."""
    toks = [
        (m.group(0), m.start(), m.end())
        for m in _SQL_TOKEN.finditer(sql)
        if not m.group(0).startswith(("--", "/*"))
    ]
    out: list[tuple[int, int, str]] = []  # (start, end, replacement)
    i = 0
    while i < len(toks):
        text, _, _ = toks[i]
        if text.lower() == "from":
            items, nxt = _parse_from_items(toks, i + 1)
            if items is not None and len(items) >= 2:
                rep = _rewrite_items(sql, items, joins)
                if rep is not None:
                    out.append(rep)
                i = nxt
                continue
        i += 1
    for start, end, replacement in sorted(out, reverse=True):
        sql = sql[:start] + replacement + sql[end:]
    return sql


def _parse_from_items(toks, i):
    """Parse `name [AS alias] (, name [AS alias])*` starting at token
    index i. Returns (items, next_index) where each item is
    (name, alias, char_start, char_end) — or (None, i) when the list
    is not a plain table list (subquery, EXTRACT(x FROM y), ...)."""
    items = []
    while True:
        if i >= len(toks):
            return (items or None), i
        text, start, end = toks[i]
        if not (text[0].isalpha() or text[0] in "_`\""):
            # subquery / expression operand: keep any plain prefix
            # already parsed (the rebuild span excludes this item)
            return (items or None), i
        if text.lower() in _FROM_STOP:
            return (items or None), i
        name, item_end = text.strip('`"'), end
        i += 1
        while i + 1 < len(toks) and toks[i][0] == ".":
            name += "." + toks[i + 1][0].strip('`"')
            item_end = toks[i + 1][2]
            i += 2
        alias = None
        if i < len(toks) and toks[i][0].lower() == "as":
            if i + 1 < len(toks):
                alias, item_end = toks[i + 1][0].strip('`"'), toks[i + 1][2]
                i += 2
        elif (
            i < len(toks)
            and (toks[i][0][0].isalpha() or toks[i][0][0] in "_`\"")
            and toks[i][0].lower() not in _FROM_STOP
        ):
            alias, item_end = toks[i][0].strip('`"'), toks[i][2]
            i += 1
        items.append((name, alias, start, item_end))
        if i < len(toks) and toks[i][0] == ",":
            i += 1
            continue
        return items, i


def _rewrite_items(sql, items, joins):
    """Find declared pairs among the comma-list items (either order,
    any positions) and build the replacement text for the whole item
    list span. Returns (char_start, char_end, text) or None."""
    lower = {(l.lower(), r.lower()): (l, r) for l, r in joins}
    consumed: set[int] = set()
    rendered: dict[int, str] = {}
    for a in range(len(items)):
        if a in consumed:
            continue
        for b in range(len(items)):
            if b == a or b in consumed:
                continue
            la, lb = items[a][0].lower(), items[b][0].lower()
            if (la, lb) in lower:
                l, r = lower[(la, lb)]
            elif (lb, la) in lower:
                l, r = lower[(lb, la)]
            else:
                continue
            if items[a][1] or items[b][1]:
                raise ValueError(
                    f"declared join pair ({l}, {r}) is comma-joined "
                    f"with an alias; aliases cannot be resolved "
                    f"through the mapping — use explicit JOIN syntax "
                    f"or DB.xjoin()"
                )
            lk, rk, lid, rid = joins[(l, r)]
            view = f"_join_{l}_{r}"
            rendered[min(a, b)] = (
                f"{l} JOIN {view} ON {l}.{lid} = {view}.{lk} "
                f"JOIN {r} ON {view}.{rk} = {r}.{rid}"
            )
            consumed.update((a, b))
            break
    if not rendered:
        return None
    parts = []
    for idx, (name, alias, _s, _e) in enumerate(items):
        if idx in rendered:
            parts.append(rendered[idx])
        elif idx not in consumed:
            parts.append(f"{name} {alias}" if alias else name)
    return items[0][2], items[-1][3], ", ".join(parts)


@dataclass
class Map:
    """pool2 mapper analog: fn(pdf: pandas.DataFrame, *args) ->
    pandas.DataFrame (0..n rows per input batch), run via
    mapInPandas. `schema` is the output schema (DDL string)."""

    fn: Callable[..., Any]
    schema: str
    args: tuple = field(default_factory=tuple)


@dataclass
class Reduce:
    """pool2 keyed-reducer analog: fn(key: tuple, pdf, *args) ->
    pandas.DataFrame, run via groupBy(*key).applyInPandas."""

    fn: Callable[..., Any]
    schema: str
    key: list[str] = field(default_factory=list)
    args: tuple = field(default_factory=tuple)


class Query:
    """A lazily-planned query over a DB (LSD Query analog)."""

    def __init__(self, db: "DB", sql: str):
        self._db = db
        self._sql = sql

    def df(self, bounds=None) -> DataFrame:
        """The DataFrame plan (LSD had no such escape hatch; Spark's
        whole point is that the plan is first-class). ``bounds`` — a
        Region from lsd_spark.bounds (beam / rectangle / polygon,
        composable with | & -) — scopes the result to a sky
        footprint: candidate-cell IN-list pruning + the exact refine,
        composed onto this query's plan (requires ra/dec columns in
        the projection), exactly LSD's fetch(bounds=...) contract."""
        self._db._ensure_views()
        out = self._db.spark.sql(self._db._rewrite_implicit_joins(self._sql))
        if bounds is not None:
            from lsd_spark.plans.region import region_select

            missing = {"ra", "dec"} - set(out.columns)
            if missing:
                raise ValueError(
                    f"bounds= needs ra/dec columns in the projection; missing {sorted(missing)}"
                )
            out = region_select(out, bounds, keep_all=True)
        return out

    def fetch(self, bounds=None):
        """Materialize to a pandas DataFrame (Arrow path) — LSD's
        fetch() returned a numpy structured array; ``bounds`` scopes
        to a sky footprint (see df())."""
        return self.df(bounds=bounds).toPandas()

    def iterate(self) -> Iterator:
        """Stream rows to the driver without materializing the full
        result (LSD fetch-by-cell analog)."""
        return self.df().toLocalIterator()

    def count(self) -> int:
        return self.df().count()

    def into(self, name: str, partition_by: list[str] | None = None) -> DataFrame:
        """`... INTO newtable`: CTAS as (optionally partitioned)
        Parquet in the DB's warehouse dir; the new table is queryable
        immediately."""
        out = os.path.join(self._db.warehouse, name)
        w = self.df().write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(out)
        self._db._extra[name] = out
        self._db._views_done = False
        return self._db.table(name)

    def execute(self, kernels: list[Map | Reduce]) -> DataFrame:
        """LSD map/reduce chain [lsd:src/lsd/pool2.py map_reduce_chain
        — UNVERIFIED]: stage 0 is this query's result; each Map runs
        as mapInPandas (1:N Arrow batches), each Reduce shuffles by
        its key and runs as applyInPandas. Everything stays
        distributed; only the final DataFrame reaches the driver."""
        df = self.df()
        for k in kernels:
            if isinstance(k, Map):
                fn, schema, args = k.fn, k.schema, k.args

                def run_map(batches, _fn=fn, _args=args):
                    for pdf in batches:
                        out = _fn(pdf, *_args)
                        if out is not None and len(out):
                            yield out

                df = df.mapInPandas(run_map, schema)
            elif isinstance(k, Reduce):
                if not k.key:
                    raise ValueError("Reduce kernel needs a grouping key")
                # applyInPandas inspects the callable's arity: build a
                # clean 2-arg closure via a factory
                def make_reduce(_fn, _args):
                    def run_reduce(key, pdf):
                        return _fn(key, pdf, *_args)

                    return run_reduce

                df = df.groupBy(*k.key).applyInPandas(make_reduce(k.fn, k.args), k.schema)
            else:
                raise TypeError(f"kernel must be Map or Reduce, got {type(k)}")
        return df


class DB:
    """A warehouse directory of Parquet tables (LSD DB analog).

    `path` is the read-only table directory (e.g. an sf dir);
    `warehouse` is where INTO writes (defaults to a temp dir)."""

    def __init__(self, spark: SparkSession, path: str, warehouse: str | None = None):
        self.spark = apply_session_defaults(spark)
        self.path = path
        self.warehouse = warehouse or tempfile.mkdtemp(prefix="lsd_db_")
        self._extra: dict[str, str] = {}
        self._joins: dict[tuple[str, str], tuple[str, str, str, str]] = {}
        self._views_done = False

    def tables(self) -> list[str]:
        base = [t for t in TABLES if os.path.exists(os.path.join(self.path, f"{t}.parquet"))]
        return base + sorted(self._extra)

    def ingest(
        self,
        df: DataFrame,
        name: str,
        id_spec: tuple[str, str, str, str] | None = None,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """lsd-import analog: write `df` into this DB's warehouse as
        table `name`. With `id_spec=(epoch_col, cx_col, cy_col,
        order_col)` the packed 64-bit `_id` primary key is stamped at
        write time — LSD's import step, where every detection gets
        its (epoch, cell, index) identity as it enters the database
        [lsd:src/lsd/table.py _ID packing — UNVERIFIED]. Returns the
        read-back table."""
        if id_spec is not None:
            from lsd_spark.plans.spatial import stamp_packed_id

            df = stamp_packed_id(df, *id_spec)
        out = os.path.join(self.warehouse, f"{name}.parquet")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(out)
        self._extra[name] = out
        self._views_done = False
        return self.table(name)

    def table(self, name: str) -> DataFrame:
        if name in self._extra:
            return self.spark.read.parquet(self._extra[name])
        if name in TABLES and os.path.exists(os.path.join(self.path, f"{name}.parquet")):
            return load(self.spark, self.path, name)
        # session temp views (e.g. tables registered by the user or a
        # Query.into of a previous DB instance) resolve last
        return self.spark.table(name)

    def _ensure_views(self) -> None:
        # Temp views are SESSION-global, so two DB objects over
        # different paths on one SparkSession would silently serve
        # each other's tables (found via a test reading sf0.001 rows
        # through an sf0.01 DB). Track which DB last owned the
        # namespace on the session itself and re-register whenever
        # ownership changed, not just on first use.
        owner = getattr(self.spark, "_lsd_db_view_owner", None)
        if self._views_done and owner is self:
            return
        for t in self.tables():
            self.table(t).createOrReplaceTempView(t)
        self.spark._lsd_db_view_owner = self
        self._views_done = True

    def declare_join(
        self,
        left: str,
        right: str,
        mapping: DataFrame,
        left_key: str = "l_id",
        right_key: str = "r_id",
        left_id: str | None = None,
        right_id: str | None = None,
    ) -> None:
        """LSD join-definition analog [lsd:src/lsd/join_ops.py,
        .join files — UNVERIFIED]: register a pre-computed cross-match
        mapping (pairs of row ids, typically with a dist column) so
        that `FROM left, right` in this DB's queries resolves THROUGH
        the mapping — LSD's signature implicit-xmatch-join syntax.

        `mapping` rows are (left_key, right_key[, extras...]);
        `left_id`/`right_id` name the id columns in the base tables
        (default: same names as the mapping keys). The mapping is
        also exposed as the view `_join_<left>_<right>` for explicit
        SQL. At 100 TB the mapping is itself a Parquet table bucketed
        by its keys (the xmatch_consume layout), so the implicit join
        is two co-located equi-joins."""
        view = f"_join_{left}_{right}"
        mapping.createOrReplaceTempView(view)
        self._joins[(left, right)] = (
            left_key,
            right_key,
            left_id or left_key,
            right_id or right_key,
        )

    def _rewrite_implicit_joins(self, sql: str) -> str:
        """Rewrite `FROM l, r` into joins through the declared
        mapping. Only DECLARED pairs are rewritten — undeclared
        comma-joins keep plain Spark SQL cross-join semantics, and
        explicit JOIN syntax is never touched (same resolution rule
        as LSD's parser: a comma between two joined tables means
        'through the join definition').

        Resolution parses each FROM item list (a real tokenizer, not
        a whole-SQL regex): string literals and comments are opaque,
        a declared pair matches anywhere in the comma list in either
        order, and a declared pair that is comma-joined but cannot be
        rewritten (an alias on either side) raises instead of
        silently cross-joining."""
        if not self._joins:
            return sql
        return _rewrite_from_lists(sql, self._joins)

    def xjoin(self, left: str, right: str) -> DataFrame:
        """DataFrame face of the declared join: left table joined to
        right through the mapping, mapping extras (dist, ...)
        included."""
        if (left, right) not in self._joins:
            raise KeyError(f"no declared join for ({left}, {right})")
        from pyspark.sql import functions as F

        lk, rk, lid, rid = self._joins[(left, right)]
        # alias all three sides: left/right often share lineage (two
        # filters of one table), which trips the ambiguous-self-join
        # analyzer without qualification
        m = self.spark.table(f"_join_{left}_{right}").alias("_m")
        l_df = self.table(left).alias("_l")
        r_df = self.table(right).alias("_r")
        return l_df.join(m, F.col(f"_l.{lid}") == F.col(f"_m.{lk}")).join(
            r_df, F.col(f"_m.{rk}") == F.col(f"_r.{rid}")
        )

    def query(self, sql: str) -> Query:
        return Query(self, sql)

    def op(self, name: str) -> DataFrame:
        """Run any registered engine operator (SURVEY.md §2 id)
        against this DB's tables — the programmatic face of the
        lsd-xmatch / lsd-footprint / make-object-catalog tool set:
        `db.op("join_xmatch_2d")`, `db.op("llm_decontaminate")`,
        `db.op("cluster_fof")`, ... Rows come back unordered; sort
        the returned frame where order matters."""
        from lsd_spark.registry import QUERIES, load_all

        load_all()
        if name not in QUERIES:
            raise KeyError(f"unknown operator {name!r}; see lsd_spark.registry")
        return QUERIES[name](self.spark, self.path)
