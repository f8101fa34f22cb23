"""Per-query isolation harness.

Times named registry queries on an otherwise-idle session (guide §1):
``--reps`` repetitions each, reporting min/median, with the timed action
selectable between the gate's own ``.collect()`` (the bench's
methodology) and the noop sink (``--noop``, guide §1.4 — computes every
column, excludes result pickling). ``--plans <tag>`` also dumps
``.explain("formatted")`` to ``plans/<round>/<query>_<tag>.txt``: a
local dump for comparing plans before and after a change, which git
ignores and nothing reads.

Usage:
  python tools/profile_query.py [--sf DIR] [--reps N] [--noop]
         [--plans before|after] query [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--plans", default=None, help="dump plans/<round>/<q>_<tag>.txt")
    ap.add_argument("--round", default="r14", help="plans subdirectory (round tag)")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument(
        "--conf", action="append", default=[],
        help="extra k=v Spark conf (repeatable) for config A/B runs",
    )
    args = ap.parse_args()

    from coffea_spark.queries import REGISTRY
    from coffea_spark.session import get_spark

    cpus = args.cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    extra = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark(app_name="profile-query", cpus=cpus, extra_conf=extra or None)
    spark.read.parquet(os.path.join(args.sf, "region.parquet")).count()

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.round
    )
    out: dict[str, dict] = {}
    for name in args.queries:
        q = REGISTRY[name]
        if args.plans:
            os.makedirs(plans_dir, exist_ok=True)
            df = q.fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{args.plans}.txt"), "w") as fh:
                fh.write(plan)
            spark.catalog.clearCache()
        samples = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = q.fn(spark, args.sf)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            samples.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
            spark.catalog.clearCache()
        out[name] = {
            "min": round(min(samples), 3),
            "med": round(statistics.median(samples), 3),
            "samples": [round(s, 3) for s in samples],
        }
        print(name, out[name], flush=True)
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
