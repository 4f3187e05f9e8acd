#!/usr/bin/env python3
"""KG-construction benchmark: one workload per run, on local[4].

    python3 kgbench/run.py --workload annotate_short --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, sets up, measures for `--seconds` as a closed loop, checks every
output and prints one JSON line last: `correct`, `attempted` and `failed`
documents, and `metrics` — the `end_to_end` metrics of BENCHMARK.json
with `--trace 0`, its `per_layer` metrics with `--trace 1`. The traced run
also writes its input statistics, spans and per-layer values to
`kgbench/_work/trace-<workload>-<seed>.json`.
Everything the run writes stays under `kgbench/_work/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Staged annotate layers whose summed busy time the fused job is compared to.
STAGED = ("spotter", "tokenizer", "candidates", "windows", "score", "rank")
FOLDED = ("executor_s", "shuffle_bytes", "spill_bytes", "gc_s", "python_s",
          "python_bytes_in", "stages")


def session(work: str, trace: bool):
    from dbpedia_spotlight_spark import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms2g",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # uncompressed, so reading it back needs no codec module (Spark's
        # default codec, zstd, needs zstandard)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{work}/eventlog",
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="kgbench", master="local[4]", extra_conf=conf)


def stop(spark, children: list) -> None:
    """Stops Spark and its JVM, then waits for every process this run
    started (JVM, Python workers) to end."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 60
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def layer_metrics(spans: list, folded: dict, wall: tuple, cached_end: int) -> dict:
    """Per-layer metrics from the last span of each name and the stage
    metrics Spark logged under that span's job group."""
    from tracing import busy_union_s

    out: dict = {}
    for rec in spans:
        layer, _, sub = rec["name"].partition(".")
        if sub:  # a sub-stage of a layer reports only its time and counts
            out[f"{layer}.{sub}_s"] = rec["busy_s"]
        else:
            out[f"{layer}.busy_s"] = rec["busy_s"]
            stage = folded["groups"].get(rec["group"], {})
            for key in FOLDED:
                out[f"{layer}.{key}"] = stage.get(key, 0.0)
        for key, value in rec["counts"].items():
            out[f"{layer}.{key}"] = value
    out["spotter.dict_build_s"] = out.get("dict_build.busy_s", 0.0)
    staged = sum(out.get(f"{n}.busy_s", 0.0) for n in STAGED)
    udf_bytes = out.get("spotter.python_bytes_in", 0) + out.get("tokenizer.python_bytes_in", 0)
    if all(f"{n}.busy_s" in out for n in STAGED) and "annotate.busy_s" in out:
        out["annotate.fused_over_staged"] = out["annotate.busy_s"] / staged
        out["annotate.udf_scan_passes"] = out["annotate.python_bytes_in"] / max(1, udf_bytes)
    if out.get("annotate.executor_s"):
        out["annotate.python_share"] = out["annotate.python_s"] / out["annotate.executor_s"]
    groups = folded["groups"].values()
    jobs = [(max(s, wall[0]), min(e, wall[1])) for s, e in folded["jobs"]]
    busy = busy_union_s([j for j in jobs if j[1] > j[0]])
    out.update({
        "engine.busy_s": busy,
        "engine.idle_s": (wall[1] - wall[0]) - busy,
        "engine.executor_s": sum(g.get("executor_s", 0.0) for g in groups),
        "engine.gc_s": sum(g.get("gc_s", 0.0) for g in groups),
        "engine.fetch_wait_s": sum(g.get("fetch_wait_s", 0.0) for g in groups),
        "engine.task_failures": folded["task_failures"],
        "engine.cached_rdds_end": cached_end,
    })
    return out


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    if not os.path.isdir(os.path.join(ROOT, "dbpedia_spotlight_spark")):
        print("kgbench: no dbpedia_spotlight_spark package next to kgbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    wanted = spec["per_layer" if trace else "end_to_end"]

    base = os.path.join(HERE, "_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.makedirs(f"{work}/eventlog")
    os.environ["TMPDIR"] = f"{work}/tmp"
    # Python workers import the library
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, HERE]

    from tracing import RssSampler, descendants, fold_event_log, persistent_rdds
    from workloads import WORKLOADS, Run

    phases = [("start", time.time())]
    cached_end = 0
    try:
        with RssSampler() as rss:
            run = Run(lambda: session(work, trace), args.workload, args.seed, work, trace)
            try:
                WORKLOADS[args.workload](run, args.seconds)
            finally:
                wall = (run.session_ready, time.time())
                phases.append(("workload", wall[1]))
                if run.started:
                    cached_end = persistent_rdds(run.spark)
                    stop(run.spark, descendants(os.getpid()))
                phases.append(("stop", time.time()))
        values, attempted, failed = run.result(rss.peak_mb)
        if trace:
            values = {**layer_metrics(run.tracer.spans, fold_event_log(f"{work}/eventlog"),
                                      wall, cached_end), **values}
            with open(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "inputs": run.stats, "spans": run.tracer.spans,
                           "per_layer": {m["name"]: values.get(m["name"], 0.0)
                                         for m in spec["per_layer"]}}, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"kgbench: session start {run.session_s:.1f}s " + " ".join(
        f"{name} {t - prev:.1f}s" for (_, prev), (name, t) in zip(phases, phases[1:])),
        file=sys.stderr)
    print("kgbench: iterations " + " ".join(f"{t:.2f}s" for t in run.iter_s), file=sys.stderr)
    print("kgbench: spans " + " ".join(f"{r['name']} {r['busy_s']:.1f}s"
                                       for r in run.tracer.spans), file=sys.stderr)
    for why, n in run.problems.items():
        print(f"kgbench: {why}: {n}", file=sys.stderr)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
