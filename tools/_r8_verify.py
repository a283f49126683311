"""Round-8 verify: drive the driver contract exactly — foreign cwd,
vanilla session (driver-default 200 shuffle partitions), module loaded
by file path. Prints FAIL lines as they happen, rows-only counts, and
a final FAILS list (must be []). The data dir is the test suite's:
``$SPARK_GRAFT_TEST_SF_DIR``, else the sf0.01 default of
tests/conftest.py."""

import importlib.util
import os
import sys
import time

from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from tests.conftest import SF_TEST as SF_DIR  # noqa: E402

# same core count as session.get_spark
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

spark = SparkSession.builder.master(f"local[{CPUS}]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
)
E = importlib.util.module_from_spec(spec)
sys.modules["__spark_entry__"] = E
spec.loader.exec_module(E)
rows = E.entry(spark).collect()
print("entry rows:", len(rows), flush=True)
sys.path.insert(0, os.path.join(REPO, "tests"))
from oracle_utils import compare  # noqa: E402

q, o = E.queries(), E.oracle_sql()
fails, rowsonly = [], {}
t0 = time.time()
for n, fn in sorted(q.items()):
    df = fn(spark, SF_DIR)
    if n in o:
        ok, msg = compare(df, o[n], SF_DIR)
        if not ok:
            fails.append((n, msg))
            print("FAIL", n, msg, flush=True)
    else:
        rowsonly[n] = df.count()
print("sf_dir", SF_DIR, "elapsed", round(time.time() - t0, 1))
print("rows-only counts:", rowsonly)
print("FAILS:", fails)
