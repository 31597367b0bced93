"""Verify driver: vanilla session, cwd outside the repository, oracle
spot-check.

Mimics the external driver's contract: imports __spark_entry__ from the
repository root, runs entry() plus a sample of queries() against their
oracle_sql() counterparts at sf0.01 via DuckDB. Run it from another
directory (``cd /tmp && python <repo>/scripts/verify_driver.py [names]``)
so that Spark's Python workers do not find the package on their path.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as ep

SF = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Which queries to check: all by default, or names from argv.
spark = SparkSession.builder.master("local[8]").getOrCreate()  # VANILLA
spark.sparkContext.setLogLevel("ERROR")

df = ep.entry(spark)
n = df.count()
print(f"entry(): {n} rows, schema ok", flush=True)
assert n >= 0

qs, os_ = ep.queries(), ep.oracle_sql()
print(f"{len(qs)} queries, {len(os_)} oracles", flush=True)

con = duckdb.connect()
for t in TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
    )

# Full value comparison (not just row counts): reuse the suite's
# order-insensitive exact-value diff so a query returning the right
# NUMBER of wrong rows cannot print OK.
from tests.oracle_diff import compare  # noqa: E402

names = sys.argv[1:] or sorted(qs)
failed = []
for name in names:
    try:
        if name in os_:
            problems = compare(spark, name, qs[name], os_[name], SF)
            orows = con.execute(
                f"SELECT COUNT(*) FROM ({os_[name]})"
            ).fetchone()[0]
            srows = orows if not problems else "?"
            ok = not problems
            if problems:
                for p in problems[:3]:
                    print(f"  {p}", flush=True)
        else:
            srows, orows = qs[name](spark, SF).count(), None
            ok = srows >= 0
        status = "OK " if ok else "VALUE-MISMATCH"
        if not ok:
            failed.append(name)
        print(f"{status} {name}: spark={srows} oracle={orows}", flush=True)
    except Exception as e:
        failed.append(name)
        msg = str(e).splitlines()[0][:160]
        print(f"ERR {name}: {msg}", flush=True)
    finally:
        # Cache-lifecycle contract (node_cdc_nats_spark/cache.py): the
        # harness owning the consuming action releases each query's
        # persisted intermediates so a full-registry walk in one session
        # doesn't accumulate cached relations.
        from node_cdc_nats_spark.cache import release_persisted

        release_persisted()

print(f"\n{len(names) - len(failed)}/{len(names)} ok; failed: {failed}")
sys.exit(1 if failed else 0)
