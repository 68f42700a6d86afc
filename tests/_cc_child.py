"""Child worker for the two-process concurrency tests
(tests/test_concurrency.py, tests/test_lazy_artifacts.py): builds its OWN
SparkSession (separate JVM, separate Python process — a genuinely
independent writer or reader), rendezvouses with its sibling through
marker files so both race the same table generation, then runs one DML
kernel (roles delete/update) or the first read of the q1 rollup cut
(roles read-*) and prints its result.

Usage: python tests/_cc_child.py <sf_dir> <role:delete|update|read-*> <rv_dir>
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.compute as pc  # noqa: E402

from data_etl_sh_lianjia_spark import session as sess  # noqa: E402


def main() -> None:
    sf_dir, role, rv = sys.argv[1], sys.argv[2], sys.argv[3]
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName(f"cc-child-{role}")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # warm the ingest (fingerprint hit on the parent's pre-ingested copy)
    # so the race window is the DML kernels themselves, not session startup
    sess.ingest_tables(spark, sf_dir)
    with open(os.path.join(rv, f"ready-{role}"), "w") as fh:
        fh.write(str(os.getpid()))
    deadline = time.monotonic() + 120
    while not os.path.exists(os.path.join(rv, "go")):
        if time.monotonic() > deadline:
            print("RESULT", role, "TIMEOUT", flush=True)
            sys.exit(2)
        time.sleep(0.002)
    if role.startswith("read"):
        import json

        from data_etl_sh_lianjia_spark.plans.registry import all_queries

        published = []
        real_publish = sess._publish_dir

        def counting(dst, *a, **k):
            published.append(os.path.basename(dst))
            return real_publish(dst, *a, **k)

        sess._publish_dir = counting
        df = all_queries()["q1_scan_agg"].spark_fn(spark, sf_dir)
        served = "q1cut" in df._jdf.queryExecution().toString()
        payload = {
            "cols": df.columns,
            "rows": [list(r) for r in df.collect()],
            "published": published,
        }
        print(
            "RESULT", role, "served" if served else "fallback",
            json.dumps(payload), flush=True,
        )
        spark.stop()
        return
    if role == "delete":
        n = sess.delete_where(
            spark, sf_dir, "customer",
            pc.field("c_mktsegment") == "BUILDING",
        )
    else:
        n = sess.update_where(
            spark, sf_dir, "customer",
            pc.field("c_mktsegment") == "AUTOMOBILE",
            {"c_acctbal": lambda t: pc.add(t["c_acctbal"], 1000.0)},
        )
    print("RESULT", role, n, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
