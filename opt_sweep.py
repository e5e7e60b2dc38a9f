#!/usr/bin/env python
"""Per-key timing sweep for the r16 optimization round (guide §1).

Times EVERY registered query at ``$SPARK_GRAFT_SF_DIR`` with the noop sink
(``df.write.format("noop")`` — computes every column of every row, no
result-fetch skew; guide §1.4), so computation is measured rather than the
py4j fetch of the answer. Per key:

  - ``compile``: best-of-2 DataFrame build + full Catalyst/physical planning
    — the per-fresh-plan constant. CAVEAT (r16 review): builders are not
    all job-free — iterative keys (bfs, pagerank, shortest-path, cc,
    kcore) run their fixpoint supersteps DURING build, and the
    knn fast path collects its block at build time, so for those keys
    "compile" includes real execution and the compile/exec split is not
    meaningful; read their ``wall`` instead.
  - ``noop``:    best-of-2 noop-sink write of ONE prebuilt plan — pure
    execution.
  - ``wall``:    single fresh build+noop run (what a cold caller pays).

Output: one JSON object on stdout ``{key: {compile, noop, wall}}`` plus a
sorted top-40 table on stderr. Not part of the driver contract — a
measurement tool only (bench.py stays the contract artifact).
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    only = sys.argv[1:]  # optional key filter (prefix match)

    from pyspark.sql import SparkSession

    from naqed_spark.registry import QUERIES, load_all
    from naqed_spark.session import tune_session

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("naqed-opt-sweep")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune_session(spark)
    load_all()
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def timed(thunk) -> float:
        t0 = time.perf_counter()
        thunk()
        return round(time.perf_counter() - t0, 3)

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    out: dict[str, dict[str, float]] = {}
    keys = [k for k in QUERIES if not only or any(k.startswith(p) for p in only)]
    for i, key in enumerate(keys):
        fn = QUERIES[key]
        spark.sparkContext.setJobDescription(f"sweep:{key}")
        try:
            df = fn(spark, sf_dir)
            wall = timed(lambda: noop(df))  # cold: codegen + first exec
            ex = timed(lambda: noop(df))  # warm repeat of the same plan
            comp = timed(
                lambda: fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
            )
            out[key] = {"compile": comp, "noop": ex, "wall": wall}
            print(f"# [{i+1}/{len(keys)}] {key}: wall {wall:.3f} compile {comp:.3f} noop {ex:.3f}", file=sys.stderr)
        except Exception as ex_:
            out[key] = {"err": str(ex_)[:200]}
            print(f"# [{i+1}/{len(keys)}] {key}: FAILED {ex_}", file=sys.stderr)
        finally:
            spark.sparkContext.setJobDescription(None)

    print(json.dumps(out))
    ranked = sorted(
        (k for k in out if "noop" in out[k]),
        key=lambda k: -(out[k]["noop"] + out[k]["compile"]),
    )
    print("## slowest by compile+noop:", file=sys.stderr)
    for k in ranked[:40]:
        v = out[k]
        print(f"#   {k}: compile {v['compile']:.3f} noop {v['noop']:.3f} wall {v['wall']:.3f}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
