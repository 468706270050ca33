"""Round-14 profiling lab for q_dedup_minhash (llm_dedup_cluster):
times each REAL stage of the round-13 chain (collapse routing,
spread signatures, edges-collect fixpoint) under bench.py's session
settings, with the same per-run cache reset the bench applies, plus
a Spark job count per stage. Replaces the pre-r13 profiler, whose
"sig build" stage bypassed both the collapse routing and the
repartition spread. Not part of the driver contract.

Usage: python scripts/profile_minhash_r14.py
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
RUNS = 5


def main() -> None:
    os.environ.setdefault("LSD_SHUFFLE_PARTITIONS", "8")
    from lsd_spark import catalog
    from lsd_spark.registry import QUERIES, drop_plans_matching, load_all
    from lsd_spark.session import get_spark

    load_all()
    spark = get_spark(app_name="lsd-prof-mh14", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    sc = spark.sparkContext

    def njobs():
        try:
            return sc._jsc.sc().statusStore().jobsList(None).size()
        except Exception:
            return -1

    for t in ("documents",):
        df = catalog.load(spark, SF_DIR, t)
        df.persist()
        df.count()

    from lsd_spark.llm import dedup as dd

    qid = "llm_dedup_cluster"
    QUERIES[qid](spark, SF_DIR).toPandas()  # warm plan + codegen
    print("dup_fraction:", dd.corpus_dup_fraction(spark, SF_DIR),
          "collapse_T:", dd.DUP_COLLAPSE_T)

    def reset():
        drop_plans_matching("ckpt:minhash")
        drop_plans_matching("ckpt:text_")
        dd.clear_dup_stats()

    def timed(label, fn, pre=None):
        samples, jobs = [], []
        for _ in range(RUNS):
            reset()
            if pre is not None:
                pre()
            j0 = njobs()
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
            jobs.append(njobs() - j0)
        print(f"{label}: median {statistics.median(samples):.3f}s "
              f"min {min(samples):.3f}s jobs {jobs[0]} "
              f"all={[round(s, 3) for s in samples]}", flush=True)

    # cumulative stages of the REAL chain
    timed("dup-stats", lambda: dd.corpus_dup_fraction(spark, SF_DIR))
    timed("+text groups+mem", lambda: (dd.text_groups(spark, SF_DIR),
                                       dd.text_mem(spark, SF_DIR)))
    timed("+hits ckpt (sig+band+refine)",
          lambda: dd._minhash_hits(spark, SF_DIR))
    timed("full llm_dedup_cluster",
          lambda: QUERIES[qid](spark, SF_DIR).toPandas())
    # isolated remainders (chain pre-warmed, NOT reset):
    def no_reset_run():
        t0 = time.perf_counter()
        j0 = njobs()
        QUERIES[qid](spark, SF_DIR).toPandas()
        print(f"fixpoint+report only (warm ckpts): "
              f"{time.perf_counter()-t0:.3f}s jobs {njobs()-j0}")
    no_reset_run()
    no_reset_run()


if __name__ == "__main__":
    main()
