"""Registry-wide plan-BUILD census (optimization rounds).

For every declared query: time (a) the Python call qfn(spark, sf_dir)
— py4j Column/DataFrame construction plus any driver-side barrier jobs
the builder runs — and (b) executedPlan() — Catalyst analyze/optimize/
plan. Neither executes the query (except barriers the builder itself
pays). One JSON line per query to stdout; sorted summary at the end.

Usage: python tools/build_census.py [--sf-dir DIR] [name ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--sf-dir" in args:
        i = args.index("--sf-dir")
        if i + 1 == len(args):
            sys.exit("usage: build_census.py [--sf-dir DIR] [name ...]")
        sf_dir = args.pop(i + 1)
        args.pop(i)
    names = args

    from curatorhadoopinterface_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("build_census")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"warning: unknown queries skipped: {unknown}", file=sys.stderr)
    names = [n for n in names if n in qs] if names else list(qs)

    # warm JVM + Python worker pool
    next(iter(qs.values()))(spark, sf_dir).write.mode("overwrite").format("noop").save()
    spark.range(64).repartition(64).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).write.mode("overwrite").format("noop").save()

    rows = []
    for name in names:
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        t1 = time.time()
        df._jdf.queryExecution().executedPlan()
        t2 = time.time()
        rows.append({"name": name, "build_s": round(t1 - t0, 3),
                     "plan_s": round(t2 - t1, 3),
                     "total_s": round(t2 - t0, 3)})
        print(json.dumps(rows[-1]), flush=True)
    rows.sort(key=lambda r: -r["total_s"])
    print("== top 30 by build+plan ==")
    for r in rows[:30]:
        print(f"{r['name']:38s} build={r['build_s']:7.3f} plan={r['plan_s']:7.3f}")
    print(json.dumps({"sum_build_s": round(sum(r["build_s"] for r in rows), 2),
                      "sum_plan_s": round(sum(r["plan_s"] for r in rows), 2),
                      "n": len(rows)}))


if __name__ == "__main__":
    main()
