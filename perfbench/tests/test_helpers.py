"""Self-tests of the benchmark's measurement helpers.

    python3 -m pytest perfbench/tests -q
"""

import importlib.util
import os
import time

import pandas as pd
import pytest

from perfbench import trace as tr
from perfbench.workloads import layer_metric_names

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --- percentile with ten samples beyond ---------------------------------

def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert tr.tail_percentile(xs) == (90, 90.0)
    assert tr.tail_percentile(xs[:50]) == (80, 40.0)
    p, v = tr.tail_percentile(xs[:21])
    assert p == 52 and sum(x > v for x in xs[:21]) == 10


def test_tail_percentile_ignores_input_order():
    xs = [5.0, 1.0, 9.0] * 10
    assert tr.tail_percentile(xs) == tr.tail_percentile(sorted(xs))


def test_tail_percentile_refuses_too_few_samples():
    assert tr.tail_percentile([1.0] * 20) == (50, 1.0)
    with pytest.raises(ValueError):
        tr.tail_percentile([1.0] * 19)


# --- canonical hash ----------------------------------------------------------

def _driver_sim_canon():
    spec = importlib.util.spec_from_file_location(
        "driver_sim", os.path.join(ROOT, "scripts", "driver_sim.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def test_result_pin_is_order_insensitive():
    a = pd.DataFrame({"b": [2.5, 1.0, None], "a": [3, 1, 2]})
    shuffled = a.iloc[[2, 0, 1]][["a", "b"]].reset_index(drop=True)
    assert tr.result_pin(a) == tr.result_pin(shuffled)
    assert tr.result_pin(a) != tr.result_pin(a.assign(a=[3, 1, 4]))
    assert tr.result_pin(a)["rows"] == 3


def test_canon_matches_the_oracle_harness_rule():
    pdf = pd.DataFrame({
        "x": [1.5, float("nan"), 0.1],
        "k": [3, 1, 2],
        "t": pd.to_datetime(["2024-01-01 00:00:00", None, "2024-01-02 03:04:05"]),
        "v": [[1.0, 2.0], [], [0.5]],
    })
    assert tr.canon(pdf) == _driver_sim_canon()(pdf)


# --- self time on nested spans ----------------------------------------------

def _span(sid, parent, start, end):
    return tr.Span(sid, f"s{sid}", "layer", 1, parent, start, end)


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),   # overlaps span 1: covered 1..6 counts once
        _span(3, 1, 2.0, 3.0),   # grandchild: only its parent loses it
        _span(4, 0, 8.0, 12.0),  # runs past its parent: clipped at 10
    ]
    st = tr.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_tracer_nests_spans_by_parent():
    t = tr.Tracer()
    with t.span("outer", "a", 7):
        with t.span("inner", "b", 7):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert {s.request for s in t.spans} == {7}


def test_uncovered_handles_gaps_and_clipping():
    assert tr.uncovered(0.0, 10.0, []) == 10.0
    assert tr.uncovered(0.0, 10.0, [(-5.0, 2.0), (4.0, 6.0), (5.0, 7.0)]) == pytest.approx(5.0)


def test_layer_metric_names_are_unique_and_module_named():
    names = layer_metric_names()
    assert len(names) == len(set(names)) == 87
    assert "plans.spatial.spill_bytes" in names and "api.catalyst_ms" in names


# --- counter reader on a tiny known plan -------------------------------------

@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-selftest")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
    yield s
    s.stop()


def test_counter_reader_on_one_exchange_aggregate(spark):
    from pyspark.sql import functions as F

    df = spark.range(0, 6000, 1, 2).groupBy((F.col("id") % 10).alias("k")).count()
    spark.sparkContext.setJobGroup("selftest-agg", "one exchange")
    rows = df.collect()
    spark.sparkContext.setJobGroup("selftest-idle", "idle")
    assert len(rows) == 10
    c = tr.SparkCounters(spark)
    g = c.group("selftest-agg")
    # one job: a 2-task map stage feeding a 4-task reduce stage
    assert g["jobs"] == 1 and g["tasks"] == 6
    assert g["shuffle_bytes"] > 0 and g["cpu_s"] > 0 and g["spill_bytes"] == 0
    (lo, hi), = g["intervals"]
    assert lo <= hi
    assert tr.catalyst_ms(df) >= 0


def test_guard_sees_reused_shuffle_output(spark):
    """Re-running the same Dataset reuses its shuffle output: the map
    stage is skipped (the call completes fewer tasks), and no stage of
    the call computed its RDDs, so the guard reports it stale. A fresh Dataset
    (``alias``) runs every stage again."""
    from pyspark.sql import functions as F

    df = spark.range(0, 6000, 1, 2).groupBy((F.col("id") % 7).alias("k")).count()
    c = tr.SparkCounters(spark)
    counts, stale = [], []
    for i, frame in enumerate((df, df, df.alias("fresh"))):
        spark.sparkContext.setJobGroup(f"selftest-reuse-{i}", "reuse")
        frame.collect()
        counts.append(c.group(f"selftest-reuse-{i}")["tasks"])
        stale.append(len(c.stale_stages(f"selftest-reuse-{i}")))
    assert counts == [6, 4, 6]
    assert stale == [0, 1, 0]


def test_guard_accepts_stages_reused_within_one_adaptive_query(spark):
    """Under AQE the final job skips the map stage its own query just
    materialized in an earlier job: skipped, but not stale."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        df = spark.range(0, 6000, 1, 2).groupBy((F.col("id") % 5).alias("k")).count()
        spark.sparkContext.setJobGroup("selftest-aqe", "aqe")
        df.collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    c = tr.SparkCounters(spark)
    assert c.group("selftest-aqe")["jobs"] == 2
    assert c.stale_stages("selftest-aqe") == []


def test_tree_rss_counts_this_process_as_python():
    parts = tr.tree_rss(os.getpid())
    assert parts["python"] > 10 * 2**20
    assert set(parts) == {"python", "jvm", "workers"}


def test_tree_cpu_counts_this_process():
    before = tr.tree_cpu_s(os.getpid())
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    assert tr.tree_cpu_s(os.getpid()) - before >= 0.2


def test_steal_share_is_a_share_of_all_ticks():
    assert tr.steal_share((10, 1000), (30, 3000)) == pytest.approx(0.01)
    assert tr.steal_share((5, 50), (5, 50)) == 0.0
    steal, total = tr.cpu_ticks()
    assert 0 <= steal <= total
