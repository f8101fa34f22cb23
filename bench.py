#!/usr/bin/env python
"""Benchmark: run every registry query at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]; print ONE JSON line with per-query
wall seconds.

Each query runs $SPARK_GRAFT_BENCH_REPS times (default 3) and reports
the per-query MEDIAN; the headline total is the sum of medians. The
bench box has heavy run-to-run noise (the same query has been observed
at 2-20 s across runs under host contention), and single-shot timings
repeatedly produced false regressions that cost manual re-adjudication —
medians make one contended rep harmless."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from coffea_spark.queries import REGISTRY  # noqa: E402
from coffea_spark.session import get_spark  # noqa: E402
from coffea_spark.testing import FixtureMissing  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # record the box load at launch, so a reader can judge a noisy run
    # without a re-measure (the one-sided noise: BASELINE.md)
    try:
        load_at_launch = round(os.getloadavg()[0], 2)
    except OSError:
        load_at_launch = None
    # idle gate (bounded): wait for the 1-min load to drain below
    # SPARK_GRAFT_IDLE_GATE before the timed sweep, for at most
    # SPARK_GRAFT_IDLE_WAIT_MAX seconds. A still-loaded start is
    # recorded, not fatal: the per-query medians and burst reps remain
    # the noise backstop. Why 1.0 and 300 s: OPTIMIZATION_r14.md.
    idle_gate = float(os.environ.get("SPARK_GRAFT_IDLE_GATE", "1.0"))
    idle_max = float(os.environ.get("SPARK_GRAFT_IDLE_WAIT_MAX", "300"))
    idle_waited = 0.0
    load_at_start = load_at_launch
    if load_at_launch is not None:
        while load_at_start > idle_gate and idle_waited < idle_max:
            time.sleep(10.0)
            idle_waited += 10.0
            load_at_start = round(os.getloadavg()[0], 2)
        if load_at_start > idle_gate:
            print(
                f"BENCH WARN: load {load_at_start} still above the idle gate "
                f"{idle_gate} after {idle_waited:.0f} s; timings may be contended",
                file=sys.stderr,
            )
    spark = get_spark(app_name="coffea-spark-bench", cpus=cpus)

    # warm the JVM/codegen path once (tiny scan, not timed)
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    times: dict[str, float] = {}
    spreads: dict[str, float] = {}
    errors: dict[str, str] = {}
    skipped: dict[str, str] = {}
    for i, (name, q) in enumerate(REGISTRY.items()):
        samples: list[float] = []
        for _ in range(reps):
            t0 = time.perf_counter()
            try:
                q.fn(spark, sf_dir).collect()
                samples.append(time.perf_counter() - t0)
            except FixtureMissing as exc:
                skipped[name] = str(exc)
                print(f"BENCH SKIP {name}: {exc}", file=sys.stderr)
                break
            except Exception as exc:
                # one broken query must not void the whole bench run
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
                break
            # drop caches a query pinned (e.g. shared minhash signatures)
            # so every rep pays the same cache-fill cost and storage
            # memory doesn't accumulate across unrelated queries
            spark.catalog.clearCache()
        # noise guard: when the sample spread betrays an interference
        # burst (median > 1.5x min and > 0.5 s over it), two extra reps
        # let the median shed the contaminated samples. Bounded: at most
        # 2 extra reps per query. Why these thresholds: OPTIMIZATION_r14.md.
        if samples and len(samples) >= 3:
            med = statistics.median(samples)
            if med > 1.5 * min(samples) and med - min(samples) > 0.5:
                for _ in range(2):
                    t0 = time.perf_counter()
                    try:
                        q.fn(spark, sf_dir).collect()
                        samples.append(time.perf_counter() - t0)
                    except Exception:
                        break
                    spark.catalog.clearCache()
        if samples:
            times[name] = round(statistics.median(samples), 3)
            spreads[name] = round(max(samples) - min(samples), 3)
        if (i + 1) % 10 == 0:
            # broadcast/shuffle state is only reclaimed by the
            # ContextCleaner on driver GC, which a large heap rarely
            # triggers on its own — nudge it so dozens of accumulated
            # broadcasts don't degrade later queries
            spark.sparkContext._jvm.System.gc()

    # stdout contract: the driver tail-captures only the LAST 2000 chars
    # of stdout (BENCH_r04-r07 evidence), and 149 named per-query entries
    # are ~3.5 KB — they can never all fit in the tail. So the per-query
    # record is PERSISTED to a file in the repo (committed with the
    # round, so per-query regression tracking has no holes), the full
    # line still goes to stdout for local trails, and the VERY LAST
    # stdout line is a short summary (~140 bytes) that always survives
    # the tail cut and names the file carrying the complete record.
    summary = {
        "metric": "total_query_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "reps": reps,
        "n_queries": len(times),
        "n_errors": len(errors),
        "n_skipped": len(skipped),
        "load_at_launch": load_at_launch,
        "load_at_start": load_at_start,
        "idle_wait_sec": idle_waited,
        "full": "BENCH_FULL_LATEST.json",
    }
    full = dict(summary)
    full["queries"] = {k: round(v, 2) for k, v in times.items()}
    full["spread"] = spreads
    if errors:
        full["errors"] = {k: v[:80] for k, v in errors.items()}
    if skipped:
        full["skipped"] = skipped
    try:
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL_LATEST.json"
        )
        with open(out_path, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:  # read-only checkout must not void the bench
        print(f"BENCH WARN: could not persist {exc}", file=sys.stderr)
    print(
        json.dumps({"spread": spreads, "errors": errors}, separators=(",", ":")),
        file=sys.stderr,
    )
    print(json.dumps(full, separators=(",", ":")))
    sys.stdout.flush()
    # LAST line: short summary only — must stay well under any tail cap.
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
