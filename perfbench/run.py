"""coffea_spark benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload nano_analysis --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, starts a local Spark session, writes the inputs through the
engine's writers, runs one cold pass and the workload's warm-up passes,
then timed passes for ``--seconds``. Every pass is checked against the
oracle; a failed pass counts in ``failed`` and is left out of timing.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (names and units in BENCHMARK.json): it alternates untraced and
traced passes, so the tracing overhead is measured in the same process,
and writes the spans to ``perfbench/.traces/``. The last stdout line is
the result object; the line before it holds the run's context (slots,
input sizes, seed, load at start, pass times)."""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SLOTS = 2  # local[2] on 4 cores: steadier than local[4], see README
DRIVER_MEMORY = "2g"
MIN_TIMED = 3  # timed passes (per side in a traced run), even past --seconds
TIME_GUARD_S = 140  # past this, stop timing once each side has one pass
PROBE_EVENTS = 10_000
PROBE_REPEATS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def isolate_io(work: str) -> None:
    """Point every temporary file of Python, Spark and the JVM into
    ``work``, and let Python workers import the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process the
    session started."""
    from pyspark import SparkContext

    from spans import tree_pids

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    left = tree_pids()[1:]
    for pid in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 20
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if os.path.exists(f"/proc/{p}")]


def root_probes(seed: int, work: str) -> dict:
    """Single-thread ROOT writer and reader on one generated file, outside
    Spark. Bytes are computed: the serialized file and the Arrow table."""
    import numpy as np

    import gen
    from coffea_spark.root_reader import open_tree
    from coffea_spark.root_writer import serialize_root_file

    cols, cmap = gen.root_columns(gen.nano_events(np.random.default_rng([seed, 1]), PROBE_EVENTS))
    path = os.path.join(work, "probe.root")
    ser, dec = [], []
    for _ in range(PROBE_REPEATS):
        t = time.perf_counter()
        blob = serialize_root_file(cols, counts_map=cmap)
        ser.append(time.perf_counter() - t)
        with open(path, "wb") as f:
            f.write(blob)
        t = time.perf_counter()
        table = open_tree(path, cache=False).to_arrow()
        dec.append(time.perf_counter() - t)
    return {
        "root_writer.serialize_mb_per_s": len(blob) / statistics.median(ser) / 1e6,
        "root_writer.probe_computed_bytes": len(blob),
        "root_reader.decode_mb_per_s": len(blob) / statistics.median(dec) / 1e6,
        "root_reader.probe_computed_bytes": table.nbytes,
    }


def pass_layers(spans: list[dict], wall: float, cpu: float) -> dict:
    """Per-layer numbers of one traced pass, from its spans."""
    from spans import STAGE_FIELDS, union_seconds

    def spans_named(name):
        return [s for s in spans if s["name"] == name]

    def dur(name):
        return sum(s["end"] - s["start"] for s in spans_named(name))

    def total(key, name=None):
        return sum(s[key] for s in (spans_named(name) if name else spans))

    out = {
        "schema.plan_build_ms": dur("schema.apply") * 1e3,
        "nanoevents.plan_build_ms": dur("nanoevents.build") * 1e3,
        "weights.plan_build_ms": dur("weights.build") * 1e3,
        "selection.cutflow_s": dur("selection.cutflow"),
        "hist.action_s": dur("hist.fill"),
        "hist.shuffle_write_bytes": total("shuffle_write_bytes", "hist.fill"),
        "hist.jobs": total("jobs", "hist.fill"),
        "runner.dataset_s": dur("runner.dataset"),
        "accumulator.merge_ms": dur("accumulator.merge") * 1e3,
        "root_writer.action_s": dur("root_writer.write_events_root"),
        "root_reader.scan_tasks": sum(
            s["stage_tasks"][max(s["stage_tasks"])]
            for s in spans_named("root_writer.write_events_root") if s["stage_tasks"]),
        "dedup.action_s": dur("dedup.jaccard_join"),
        "dedup.stages": total("stages", "dedup.jaccard_join"),
        "dedup.shuffle_write_bytes": total("shuffle_write_bytes", "dedup.jaccard_join"),
        # the prefix self-join is the join keyed on the shingle
        "dedup.prefix_join_rows": sum(
            j["rows"] for s in spans_named("dedup.jaccard_join")
            for j in s["join_rows"] if "shingle" in j["desc"]),
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.stages_skipped": total("stages_skipped"),
        "spark.tasks": total("tasks"),
        "spark.driver_s": wall - union_seconds(
            [iv for s in spans for iv in s["job_intervals"]]),
        "process.cpu_s": cpu,
        # set from the pass result by the workloads they apply to
        "root_writer.output_bytes_per_event": 0.0,
        "dedup.pairs_out": 0.0,
    }
    for metric, _ in set(STAGE_FIELDS.values()):
        out[f"spark.{metric}"] = total(metric)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    t_process = time.perf_counter()
    load_1m = os.getloadavg()[0]
    if not os.path.isfile(os.path.join(ROOT, "coffea_spark", "__init__.py")):
        print(f"perfbench: no coffea_spark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    wanted = load_spec()["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        isolate_io(work)
        return measure(args, wanted, work, t_process, load_1m)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, wanted, work, t_process, load_1m) -> int:
    import numpy as np

    from coffea_spark import get_spark
    from spans import RssSampler, Tracer, tree_cpu_s
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](np.random.default_rng(args.seed), SLOTS, work)
    t = time.perf_counter()
    wl.generate()
    generate_s = time.perf_counter() - t

    with RssSampler() as rss:
        t = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", cpus=SLOTS, driver_memory=DRIVER_MEMORY,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        session_start_s = time.perf_counter() - t
        try:
            tracer = Tracer(spark, enabled=False)
            wl.attach(spark, tracer)
            t = time.perf_counter()
            wl.write_inputs(os.path.join(work, "inputs"))
            input_write_s = time.perf_counter() - t

            attempted = failed = 0
            passes: list[dict] = []

            def one_pass(traced: bool) -> dict:
                nonlocal attempted, failed
                spark.catalog.clearCache()
                spark._jvm.System.gc()
                gc.collect()
                tracer.enabled, tracer.pass_id = traced, len(passes)
                cpu0 = tree_cpu_s()
                t0 = time.perf_counter()
                rec = {"traced": traced, "ok": False}
                try:
                    with tracer.span("pass"):
                        result = wl.run_pass()
                    rec["wall"] = time.perf_counter() - t0
                    rec["cpu"] = tree_cpu_s() - cpu0
                    rec["ok"] = wl.check(result)
                    rec.update(wl.pass_counts(result))
                except Exception:  # a broken pass is counted, not fatal
                    traceback.print_exc()
                attempted += 1
                failed += not rec["ok"]
                passes.append(rec)
                return rec

            t = time.perf_counter()
            cold_s = one_pass(False).get("wall", 0.0)
            for _ in range(wl.warmups):
                one_pass(False)
            warmup_s = time.perf_counter() - t - cold_s
            setup_s = session_start_s + input_write_s + cold_s + warmup_s

            n_warm = len(passes)
            t_timed = time.perf_counter()
            k = 0
            while True:
                timed = passes[n_warm:]
                n_plain = sum(not p["traced"] for p in timed)
                n_traced = sum(p["traced"] for p in timed) if args.trace else n_plain
                if (min(n_plain, n_traced) >= MIN_TIMED
                        and time.perf_counter() - t_timed >= args.seconds):
                    break
                if min(n_plain, n_traced) >= 1 and time.perf_counter() - t_process > TIME_GUARD_S:
                    break
                one_pass(bool(args.trace) and k % 2 == 1)
                k += 1
            probes = root_probes(args.seed, work) if args.trace else {}
        finally:
            stop_spark(spark)

    timed = [p for p in passes[n_warm:] if p["ok"]]
    plain = [p["wall"] for p in timed if not p["traced"]]
    median_wall = statistics.median(plain) if plain else float("inf")
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "slots": SLOTS, "driver_memory": DRIVER_MEMORY, "load_1m_at_start": load_1m,
        "sizes": wl.sizes, "items_per_pass": wl.items,
        "generate_s": generate_s, "setup_parts_s": {
            "session_start": session_start_s, "input_write": input_write_s,
            "cold_pass": cold_s, "warmups": warmup_s},
        "timed_passes": len(plain), "pass_s": [round(p.get("wall", 0.0), 4) for p in passes],
        "pass_cpu_s": [round(p.get("cpu", 0.0), 2) for p in passes],
        "failed_ratio": failed / attempted,
        f"{wl.item}_per_s": wl.items / median_wall,
        "process_s": time.perf_counter() - t_process,
    }

    if args.trace:
        traced = [p for p in timed if p["traced"]]
        layers = [
            pass_layers([s for s in tracer.spans if s["pass"] == i], p["wall"], p["cpu"])
            | {k: v for k, v in p.items() if "." in k}
            for i, p in enumerate(passes) if p["traced"] and p["ok"]
        ]
        values = ({k: statistics.median(d[k] for d in layers) for k in layers[0]}
                  if layers else pass_layers([], 0.0, 0.0))
        values |= probes
        values["session.start_s"] = session_start_s
        values["root_writer.input_write_s"] = input_write_s if wl.root_inputs else 0.0
        values["trace.overhead_pct"] = 100.0 * (
            statistics.median(p["wall"] for p in traced) / median_wall - 1.0) if traced else 0.0
        os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
        with open(os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"context": context, "spans": tracer.spans}, f)
    else:
        values = {
            "items_per_s": wl.items / median_wall,
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak / 2**20,
        }
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    print("perfbench context: " + json.dumps(context))
    print(json.dumps({"correct": failed == 0 and bool(plain), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
