"""Driver simulation — verification harness, NOT pytest.

Mimics the external driver's contract against __spark_entry__.py:
builds its OWN SparkSession with stock defaults (ANSI on in Spark 4,
200 shuffle partitions, no UTC preset — deliberately NOT our tuned
session), then:
  t1: entry(spark) on sf0.001, expects rows > 0 and a stable schema
  t2: every queries()[name] at sf0.01, hash-compared to
      oracle_sql()[name] via DuckDB (column names + rowcount +
      order-insensitive canonical rows); rows-only ops must run
      twice and return identical results.

Usage: python scripts/driver_sim.py [--sample N]
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.01"
if "--sf" in sys.argv:
    SF01 = "/root/testdata/sf" + sys.argv[sys.argv.index("--sf") + 1]
if "--sfdir" in sys.argv:  # arbitrary path (e.g. the inflated .cache/sf1)
    SF01 = sys.argv[sys.argv.index("--sfdir") + 1]


def canon_cell(v):
    if v is None:
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (np.bool_, bool)):
        return bool(v)
    if isinstance(v, (np.integer, int)):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if v is pd.NaT:
        return None
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon_cell(x) for x in v)
    return v


def canon(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(canon_cell(c) for c in row) for row in pdf[cols].itertuples(index=False)]
    rows.sort(key=repr)
    return cols, rows


def main():
    import tempfile

    from pyspark.sql import SparkSession

    # Run from a NEUTRAL cwd: the real driver may launch from
    # anywhere, and Python workers must not depend on lsd_spark being
    # importable (kernels must ship by value — caught a real bug).
    os.chdir(tempfile.mkdtemp(prefix="lsd_driver_cwd_"))

    # stock driver-ish session: NO engine SQL defaults applied.
    # driver.memory is a machine-capacity knob, not a semantics
    # default — the real driver runs 128 GiB; pyspark's 1g default
    # OOMs the 10x-inflated stress dir (cluster_fof's replica-dense
    # edge set), so size it like the target box.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    print("ansi default:", spark.conf.get("spark.sql.ansi.enabled"))
    print("tz default:", spark.conf.get("spark.sql.session.timeZone"))

    import __spark_entry__ as entrymod

    # t1 smoke
    df = entrymod.entry(spark)
    rows = df.collect()
    print(f"t1 entry: {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
    assert len(rows) > 0

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF01}/{t}.parquet'")

    import time

    # Ops whose oracle is tractable only at the driver's own gate
    # scale (sf0.01): at larger SF the self-check falls back to the
    # rows-only double-run, explicitly labeled in the artifact.
    # cluster_fof_2d_super's oracle is a full transitive closure —
    # O(giant-component^2) rows at its supercritical sf0.1 regime
    # (the sf0.1 exactness check is the numpy union-find third
    # opinion in tests/test_plans.py instead).
    oracle_sf001_only = {"cluster_fof_2d_super"}
    if SF01 != "/root/testdata/sf0.01":
        for name in oracle_sf001_only:
            if name in oracles:
                del oracles[name]
                print(f"  note {name}: oracle runs at sf0.01 only "
                      "(O(component^2) transitive closure); rows-only here")

    # Quadratic brute-force oracles (all-pairs distance joins,
    # recursive-CTE transitive closures): fine at the driver's gate
    # scales, infeasible in DuckDB against the 10x-inflated stress
    # dir (~1M events) — there they demote to the rows-only
    # double-run; exactness is already pinned at sf0.01 + sf0.1.
    heavy_brute = {
        "cluster_fof", "cluster_fof_exact", "cluster_fof_2d",
        "agg_object_coadd", "llm_dedup_keep_best",
        "join_xmatch_2d", "join_xmatch_2d_knn", "join_xmatch_2d_margin",
        "join_xmatch_sphere", "join_xmatch_sphere_knn",
        "join_xmatch_sphere_margin", "join_xmatch_sphere_chain",
        "agg_angular_corr", "join_xmatch_bayes", "join_xmatch_mutual",
        "agg_completeness_mag", "stream_xmatch_sphere",
        "join_xmatch_pm_epoch", "join_self_nearest_sphere",
        "llm_dedup_embcos_exact",
        # recursive-CTE transitive closure over the MinHash pair CTEs
        "llm_dedup_cluster",
        # same closure shape over the simhash pair CTEs — at 90%
        # duplicates the reach CTE is quadratic in group size
        "llm_dedup_simhash_clusters",
        # quadratic-per-cluster with the FIXED fixture k=8: at the
        # inflated dir each cluster is corpus/8-sized, so the
        # within-cluster pairwise (engine AND oracle) is O(n^2)/8 by
        # construction — at 100 TB k scales with the corpus instead
        "llm_dedup_semantic",
    }
    # Sampling oracle at inflated scale (round-5 VERDICT #9): the
    # count ops keep a REAL hash-match there — hash-pick ~0.4% of
    # left keys (md5 prefix '00'), brute-force only those in DuckDB
    # (the key filter pushes below the quadratic join: measured
    # 5-23 s at the 10x dir vs infeasible unsampled), and compare
    # against the Spark result restricted to the same keys.
    sample_filter: dict[str, str] = {}
    if not SF01.startswith("/root/testdata/"):
        for name in ("xmatch_2d_count", "xmatch_sphere_count"):
            if name in oracles:
                sample_filter[name] = "l_id"
                oracles[name] = (
                    "SELECT * FROM (" + oracles[name] + ") WHERE "
                    "substring(md5(CAST(l_id AS VARCHAR)), 1, 2) = '00'"
                )
        if sample_filter:
            print("  note: sampled oracle (md5-prefix '00' keys) at "
                  f"inflated scale: {', '.join(sorted(sample_filter))}")
        demoted = sorted(heavy_brute & set(oracles))
        for name in demoted:
            del oracles[name]
        if demoted:
            print(f"  note: {len(demoted)} quadratic oracles demoted to "
                  f"rows-only at inflated scale: {', '.join(demoted)}")
        # The *_exact ops are quarantined fixture-scale recall
        # baselines BY CONTRACT (their docstrings): the ENGINE side
        # is a deliberate all-pairs scan (4e8 interpreted cosines at
        # 20k vectors) whose whole point is to exist only at fixture
        # scale. Running them at 10x contradicts their contract, so
        # skip rather than burn an hour proving O(n^2) is O(n^2).
        skipped = [n for n in ("cluster_fof_exact", "llm_dedup_embcos_exact")
                   if n in qs]
        for name in skipped:
            del qs[name]
            oracles.pop(name, None)
        print(f"  note: fixture-scale-only baselines skipped at inflated "
              f"scale: {', '.join(skipped)}")

    # Stress-dir time budget (round-8 VERDICT #6): at any inflated
    # dir, per-op Spark-side seconds are checked against the recorded
    # envelope in STRESS_BUDGET.json — a plan change that regresses
    # the stress profile fails the sweep (exit 2) instead of hiding
    # until someone reads the per-side times by hand.
    stress_budget: dict[str, float] = {}
    iso_pins: dict[str, float] = {}
    budget_over: list[tuple[str, float, float]] = []
    if not SF01.startswith("/root/testdata/"):
        import json as _json

        bpath = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "STRESS_BUDGET.json")
        if os.path.exists(bpath):
            with open(bpath) as fh:
                b = _json.load(fh)
            env = b["_meta"]["envelope"]
            # tiered budgets (round-10): recordings are only
            # comparable at the scale they were taken — the base
            # tier was recorded at the 10x-of-sf0.1 dir, extra tiers
            # (e.g. the 100x spatial tier) name their dir basename
            # in _meta.tiers and override per-op where present.
            stress_budget = {
                k: env * v for k, v in b["recorded_spark_sec"].items()
            }
            tier = b.get("_meta", {}).get("tiers", {}).get(
                os.path.basename(SF01.rstrip("/"))
            )
            if tier:
                stress_budget.update(
                    {k: env * v for k, v in b[tier].items()}
                )
                print(f"  note: stress tier '{tier}' overrides active")
            # round-10 VERDICT "keep the simhash budget honest": a
            # sweep-context envelope absorbs JVM drag from 270 prior
            # ops, so it would also absorb a real ~1.7x regression.
            # Isolated-run pins are the tight bound; they apply when
            # --only runs a small op set (no sweep drag to excuse).
            iso_pins = {
                k: env * v
                for k, v in b.get("recorded_spark_sec_isolated", {}).items()
            }
            print(f"  note: stress budget active for "
                  f"{len(stress_budget)} ops (envelope {env}x)")

    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        if iso_pins and len(only) <= 5:
            applied = sorted(set(iso_pins) & only)
            stress_budget.update({k: iso_pins[k] for k in applied})
            if applied:
                print("  note: isolated-run pins active for "
                      f"{', '.join(applied)}")

    # default: alphabetical; --reg-order mimics the real driver's
    # registration-order iteration (catches order-dependent state)
    names = list(qs) if "--reg-order" in sys.argv else sorted(qs)

    failed = []
    for name in names:
        if only is not None and name not in only:
            continue
        t_op = time.perf_counter()
        try:
            sdf = qs[name](spark, SF01).toPandas()
            # per-side attribution (round-7 VERDICT #4): the stress
            # sweep's worst numbers were unattributable when one
            # combined figure covered Spark AND the DuckDB mirror
            t_spark = time.perf_counter() - t_op
            if name in stress_budget and t_spark > stress_budget[name]:
                budget_over.append((name, t_spark, stress_budget[name]))
                print(f"  OVER {name}: spark {t_spark:.1f}s exceeds "
                      f"stress budget {stress_budget[name]:.1f}s")
            if name in sample_filter:
                import hashlib

                key = sample_filter[name]
                mask = sdf[key].map(
                    lambda v: hashlib.md5(str(int(v)).encode())
                    .hexdigest()[:2] == "00"
                )
                sdf = sdf[mask]
            if name in oracles:
                t_d0 = time.perf_counter()
                ddf = con.sql(oracles[name]).df()
                t_duck = time.perf_counter() - t_d0
                sc, sr = canon(sdf)
                dc, dr = canon(ddf)
                if sc != dc:
                    failed.append((name, f"cols {sc} != {dc}"))
                elif len(sr) != len(dr):
                    failed.append((name, f"rows {len(sr)} != {len(dr)}"))
                elif sr != dr:
                    d = [(a, b) for a, b in zip(sr, dr) if a != b][:2]
                    failed.append((name, f"values {d}"))
                else:
                    print(f"  OK   {name} ({len(sr)} rows, oracle match, "
                          f"spark {t_spark:.1f}s + oracle {t_duck:.1f}s)")
            else:
                t_r0 = time.perf_counter()
                sdf2 = qs[name](spark, SF01).toPandas()
                t_run2 = time.perf_counter() - t_r0
                _, r1 = canon(sdf)
                _, r2 = canon(sdf2)
                if r1 != r2:
                    failed.append((name, "rows-only op not deterministic across runs"))
                else:
                    print(f"  OK   {name} ({len(r1)} rows, rows-only, stable x2, "
                          f"spark {t_spark:.1f}s + rerun {t_run2:.1f}s)")
        except Exception as e:  # noqa: BLE001
            failed.append((name, f"EXC {type(e).__name__}: {str(e)[:200]}"))
        # Release the finished op's logical plan (and with it the
        # executor-side broadcast blocks it pins): a 185-op serial
        # audit otherwise accumulates every op's broadcasts in the
        # heap — the r04 stress sweep OOM'd the JVM around op 100.
        # Materialized disk layouts (margins, fits fixtures) stay
        # cached; rebuilding those per consumer would cost minutes.
        from lsd_spark import registry as _reg

        _reg._PLAN_CACHE.clear()

    print(f"\n{len(qs) - len(failed)}/{len(qs)} ok")
    for n, msg in failed:
        print(f"  FAIL {n}: {msg}")
    if stress_budget:
        checked = [n for n in names if n in stress_budget
                   and (only is None or n in only)]
        print(f"stress budget: {len(checked) - len(budget_over)}/"
              f"{len(checked)} within envelope")
        for n, t, lim in budget_over:
            print(f"  OVER {n}: {t:.1f}s > {lim:.1f}s")
    sys.exit(1 if failed else (2 if budget_over else 0))


if __name__ == "__main__":
    main()
