"""Profile the table-log family: wall time + Spark job count per op."""
import json, os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
os.environ.setdefault("LSD_SHUFFLE_PARTITIONS", "8")
from lsd_spark import catalog
from lsd_spark.registry import QUERIES, load_all
from lsd_spark.session import get_spark

OPS = sys.argv[1].split(",") if len(sys.argv) > 1 else [
    "sink_table_log", "sink_table_log_checkpoint", "sink_table_log_vacuum",
    "sink_table_log_compact", "sink_table_log_skipping",
    "sink_table_log_compact_zorder", "sink_table_log_changes",
    "sink_table_log_delete", "sink_table_log_merge",
    "stream_table_log_sink", "stream_table_log_source",
]
load_all()
spark = get_spark(app_name="lsd-profile-tlog", master=f"local[{CPUS}]")
spark.sparkContext.setLogLevel("ERROR")
sc = spark.sparkContext

def njobs():
    try:
        return sc._jsc.sc().statusStore().jobsList(None).size()
    except Exception:
        return -1

for t in catalog.TABLES:
    try:
        df = catalog.load(spark, SF_DIR, t); df.persist(); df.count()
    except Exception:
        pass

res = {}
for name in OPS:
    for phase in ("cold", "warm"):
        j0 = njobs(); t0 = time.perf_counter()
        QUERIES[name](spark, SF_DIR).toPandas()
        dt = time.perf_counter() - t0; j1 = njobs()
        res.setdefault(name, {})[phase] = {"sec": round(dt, 3), "jobs": j1 - j0}
    print(f"{name}: cold {res[name]['cold']} warm {res[name]['warm']}", flush=True)
print(json.dumps(res))
