"""lsd_spark.sizing: both branches of every sizing rule, forced at
sf0.01, and a guard that keeps partition-count decisions in that one
module."""

from __future__ import annotations

import ast
import os

import pytest

from lsd_spark import sizing
from lsd_spark.catalog import load
from lsd_spark.registry import ORACLES, QUERIES_RAW, load_all
from tests.conftest import SF_DIR
from tests.test_oracle import canon_rows

load_all()

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "lsd_spark")


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _oracle_green(spark, duck, name):
    got = canon_rows(QUERIES_RAW[name](spark, SF_DIR).toPandas())
    assert got == canon_rows(duck.sql(ORACLES[name]).df())


def test_spread_round_robins_input_with_fewer_splits_than_cores(spark, monkeypatch):
    ev = load(spark, SF_DIR, "events").select("event_id")
    n_in = ev.rdd.getNumPartitions()
    monkeypatch.setattr(sizing, "cores", lambda s: n_in + 3)
    out = sizing.spread(ev)
    assert "RoundRobinPartitioning" in _physical(out)
    assert out.rdd.getNumPartitions() == n_in + 3
    assert sorted(out.toPandas()["event_id"]) == sorted(ev.toPandas()["event_id"])


def test_spread_leaves_input_with_enough_splits(spark, monkeypatch):
    ev = load(spark, SF_DIR, "events").select("event_id")
    monkeypatch.setattr(sizing, "cores", lambda s: ev.rdd.getNumPartitions())
    out = sizing.spread(ev)
    assert out is ev
    assert "RoundRobinPartitioning" not in _physical(out)


def test_spread_leaves_streaming_input(spark, tmp_path, monkeypatch):
    stage = str(tmp_path / "ids")
    spark.range(10).write.parquet(stage)
    stream = spark.readStream.schema("id bigint").parquet(stage)
    monkeypatch.setattr(sizing, "cores", lambda s: 64)
    assert sizing.spread(stream) is stream


@pytest.mark.parametrize("forced_cores", [1, 64], ids=["wide-input", "spread-keyed"])
def test_sizing_consumer_oracle_green_on_both_branches(
    spark, duck, monkeypatch, forced_cores
):
    """join_xmatch_sphere spreads both point tables and prepares its
    cell join with cpu_join_inputs. With one core the sf0.01 input
    already has enough splits and the join is left to the planner; with
    64 the input is spread and both join sides are hash-partitioned to
    64."""
    ev = load(spark, SF_DIR, "events")
    many = forced_cores > ev.rdd.getNumPartitions()
    monkeypatch.setattr(sizing, "cores", lambda s: forced_cores)
    plan = _physical(QUERIES_RAW["join_xmatch_sphere"](spark, SF_DIR))
    assert ("RoundRobinPartitioning" in plan) == many
    assert plan.count(f", {forced_cores}), REPARTITION_BY_NUM") == (2 if many else 0)
    _oracle_green(spark, duck, "join_xmatch_sphere")


def test_session_conf_restores_previous_value(spark):
    key = "spark.sql.limit.initialNumPartitions"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "3")
    try:
        with sizing.session_conf(spark, {key: 100}):
            assert spark.conf.get(key) == "100"
        assert spark.conf.get(key, None) == "3"
        with pytest.raises(RuntimeError):
            with sizing.session_conf(spark, {key: 7}):
                assert spark.conf.get(key) == "7"
                raise RuntimeError("body failed")
        assert spark.conf.get(key, None) == "3"
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_session_conf_unsets_key_that_was_unset(spark):
    key = "spark.sql.limit.initialNumPartitions"
    old = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        with sizing.session_conf(spark, {key: 100}):
            assert spark.conf.get(key) == "100"
        assert spark.conf.get(key, None) is None
        with pytest.raises(RuntimeError):
            with sizing.session_conf(spark, {key: 100}):
                raise RuntimeError("body failed")
        assert spark.conf.get(key, None) is None
    finally:
        if old is not None:
            spark.conf.set(key, old)


def test_codegen_cache_holds_the_operator_set(spark):
    """get_spark sizes the generated-class cache above the ~200
    classes one pass over the headline ops needs (Spark's default
    of 100 evicts them, so every repeat pass recompiles). The conf is
    static, so the JVM's SQLConf shows what the cache was built
    with."""
    conf = spark._jsparkSession.sessionState().conf()
    assert conf.getConfString("spark.sql.codegen.cache.maxEntries") == "1000"


# ---- guard: partition counts are decided in one place -------------------

_SIZING_READS = ("defaultParallelism", "getNumPartitions")
_SIZING_CONFS = {
    "spark.sql.shuffle.partitions",
    "spark.sql.limit.initialNumPartitions",
}


def _modules():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                yield os.path.relpath(path, PKG), path


def _conf_literals(tree):
    """(enclosing top-level function, line) of every string literal
    that names a sizing conf."""
    for top in tree.body:
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            if isinstance(node, ast.Constant) and node.value in _SIZING_CONFS:
                yield owner, node.lineno


def test_partition_sizing_lives_in_sizing_module():
    """No module but sizing.py reads the core count or a frame's split
    count, and none but sizing.py and session.get_spark's builder
    names the shuffle-partition or limit-partition confs."""
    bad = []
    for rel, path in _modules():
        if rel == "sizing.py":
            continue
        with open(path) as f:
            src = f.read()
        for i, line in enumerate(src.splitlines(), 1):
            if any(tok in line for tok in _SIZING_READS):
                bad.append(f"{rel}:{i}: {line.strip()}")
        for owner, line in _conf_literals(ast.parse(src)):
            if (rel, owner) != ("session.py", "get_spark"):
                bad.append(f"{rel}:{line}: sizing conf named in {owner}")
    assert not bad, "sizing decisions outside lsd_spark/sizing.py:\n" + "\n".join(bad)
