#!/usr/bin/env python3
"""The repository benchmark: seeded events → Hive partitions → first query,
the batch query mix, and the stateful TTL stream.

One workload per process:

    python3 perfbench/run.py --workload ingest_ordered --seed 1 --seconds 6 --trace 0

prints progress on stderr, a ``{"record": …}`` line of recorded
(ungated) context, and as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json; ``--trace 1`` runs an
untraced, a traced and another untraced pass, reports the per-layer
metrics of the traced one and writes its spans to
``.perfbench_work/traces/``.

    python3 perfbench/run.py --workload all --seed 1     # every workload, one process each
    python3 perfbench/run.py --smoke                     # tiny sizes, every metric asserted

Run it from the root of a checkout: it builds nothing, imports the
engine package from there, and keeps every file it writes under
``.perfbench_work/``. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "flume_hive_batch_sink_spark"
SPEC = ROOT / "BENCHMARK.json"
WORKROOT = ROOT / ".perfbench_work"
WORKLOADS = ("ingest_ordered", "ingest_scattered", "query_mix", "stateful_ttl")
SETUP_REPS = 3  # generation + staging repeated, median reported
HEAP = "1g"  # JVM heap of the Spark session
LAYERS = ("source", "engine", "sink", "metastore", "table", "query", "state")


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _configure_env(work: Path, k: int) -> None:
    """Pin the session shape and keep every file Spark, the JVM and
    Python write inside ``work``. Must run before pyspark starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(k)
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_CACHE_INPUTS"] = "0"
    os.environ.pop("SPARK_GRAFT_REPARTITION_INPUTS", None)
    # -Xms = -Xmx: a fixed heap, so peak RSS does not depend on when
    # the collector decides to grow it
    java_opts = (
        f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
        "-XX:-UsePerfData"
    )
    # also reaches the launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = str(tmp)


def _wait_for_jvm(timeout: float = 60.0) -> None:
    """End the JVM this process started and wait for it. The gateway
    JVM exits when its stdin closes; its Python workers go with it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)


def run_workload(args) -> int:
    if not PACKAGE.is_dir() or not SPEC.is_file():
        print(
            f"perfbench: {PACKAGE.name}/ or BENCHMARK.json not found in {ROOT}; "
            "run from the root of a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    spec = json.loads(SPEC.read_text())
    k = max(1, min(4, os.cpu_count() or 1))
    run_id = uuid.uuid4().hex[:12]
    work = WORKROOT / f"run-{run_id}"
    # a terminated run still stops Spark and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _configure_env(work, k)
    sys.path.insert(0, str(ROOT))

    from perfbench import trace, workloads as W
    from flume_hive_batch_sink_spark.registry import load_all_operators
    from flume_hive_batch_sink_spark.session import get_spark

    load_all_operators()  # before anything imports a registry tail module
    sizes = W.TINY if args.size == "tiny" else W.FULL
    tr = trace.Tracer(run_id, k)
    load0, (steal0, jif0) = os.getloadavg(), _cpu_jiffies()
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        confs0 = dict(spark.conf.getAll)
        wl = W.make(args.workload, spark, tr, work, k, args.seed)

        stage_s = []
        for r in range(SETUP_REPS):
            t = time.perf_counter()
            inputs = wl.stage(work / f"inputs{r}", sizes)
            stage_s.append(time.perf_counter() - t)
            if r < SETUP_REPS - 1:
                shutil.rmtree(work / f"inputs{r}")
        wl.reference(inputs)
        W.log(f"{args.workload}: session {session_s:.2f}s, staged, warming up")
        warm = [wl.run_pass(inputs, traced=False) for _ in range(wl.warm_passes)]
        setup_s = session_s + statistics.median(stage_s) + sum(p.wall_s for p in warm)

        passes = []
        if args.trace:
            # untraced, traced, untraced: drift between passes cancels
            # in the overhead estimate
            passes.append(wl.run_pass(inputs, traced=False))
            tr.enabled = True
            tr.start_sampler()
            passes.append(wl.run_pass(inputs, traced=True))
            tr.stop_sampler()
            tr.enabled = False
            passes.append(wl.run_pass(inputs, traced=False))
        else:
            measured = 0.0
            while not passes or measured < args.seconds:
                passes.append(wl.run_pass(inputs, traced=False))
                measured += passes[-1].wall_s
                W.log(f"{args.workload}: pass {len(passes)} {passes[-1].wall_s:.2f}s")
        record = wl.record(inputs)
        confs1 = dict(spark.conf.getAll)
        leaked = sorted(
            c for c in set(confs0) | set(confs1) if confs0.get(c) != confs1.get(c)
        )
        rss_mb = trace.peak_rss_mb()
    finally:
        tr.stop_sampler()
        try:
            if spark is not None:
                spark.stop()
                _wait_for_jvm()
        finally:
            tr.write(WORKROOT / "traces" / f"{args.workload}-seed{args.seed}-{run_id}.jsonl")
            shutil.rmtree(work, ignore_errors=True)

    steal1, jif1 = _cpu_jiffies()
    attempted = sum(p.attempted for p in warm + passes)
    failed = sum(p.failed for p in warm + passes)
    record.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "run_id": run_id,
            "size": args.size,
            "nproc": os.cpu_count(),
            "k": k,
            "heap": HEAP,
            "loadavg_start": [round(x, 2) for x in load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_pct": round(100.0 * (steal1 - steal0) / max(1, jif1 - jif0), 3),
            "leaked_confs": leaked,
            "passes": [round(p.wall_s, 4) for p in passes],
            "setup_parts_s": {
                "session": session_s,
                "stage_median": statistics.median(stage_s),
                "warm_passes": [p.wall_s for p in warm],
            },
        }
    )
    if args.trace:
        values, units = _layer_metrics(tr, passes, session_s, len(leaked)), {
            m["name"]: m["unit"] for m in spec["per_layer"]
        }
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p.wall_s for p in passes),
            "events_per_s": statistics.median(p.events / p.process_s for p in passes),
            "peak_rss_mb": rss_mb,
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}
    print(json.dumps({"record": record}), flush=True)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


def _layer_metrics(tr, passes, session_s: float, leaked: int) -> dict:
    """Per-layer figures of the traced pass (``passes[1]``); the passes
    around it ran untraced, and the difference is the tracing overhead."""
    before, traced, after = passes
    layer = dict(traced.layer)
    root = traced.root
    totals = tr.layer_totals(root)
    for name in LAYERS:
        t = totals.get(name, {"self_s": 0.0, "wait_s": 0.0})
        layer[f"{name}.self_s"] = t["self_s"]
        layer[f"{name}.wait_s"] = t["wait_s"]
    rs = tr.spans[root]
    layer["trace.wall_s"] = rs["end"] - rs["start"]
    layer["trace.untraced_s"] = totals.get("bench", {"self_s": 0.0})["self_s"]
    layer["trace.overhead_s"] = traced.wall_s - (before.wall_s + after.wall_s) / 2
    layer["table.time_to_queryable_s"] = traced.answer_s
    layer["session.start_s"] = session_s
    layer["session.leaked_confs"] = float(leaked)
    accounted = sum(t["self_s"] for t in totals.values())
    if abs(accounted - layer["trace.wall_s"]) > 1e-6:
        raise AssertionError(
            f"layer self times sum to {accounted}, traced wall is {layer['trace.wall_s']}"
        )
    return layer


def _child(workload: str, seed: int, seconds: int, trace: int, size: str) -> dict:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        "--size", size,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} (trace {trace}) exited {proc.returncode}")
    return json.loads(lines[-1])


def run_all(args) -> int:
    """Every workload, each in its own process; one table and one JSON
    summary keyed by workload."""
    summary = {}
    for w in WORKLOADS:
        res = _child(w, args.seed, args.seconds, args.trace, args.size)
        summary[w] = res
        for name, m in res["metrics"].items():
            print(f"{w:17s} {name:36s} {m['value']:>14.4f} {m['unit']}")
        print(f"{w:17s} correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    print(json.dumps(summary))
    return 0 if all(r["correct"] for r in summary.values()) else 1


def smoke(args) -> int:
    """Tiny sizes, all four workloads, both modes: every metric named in
    BENCHMARK.json is printed with its unit and every check passes."""
    spec = json.loads(SPEC.read_text())
    bad = []
    for trace_on, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        for w in WORKLOADS:
            res = _child(w, args.seed, 1, trace_on, "tiny")
            got = {n: m.get("unit") for n, m in res["metrics"].items()}
            if got != want:
                bad.append(f"{w} trace={trace_on}: metrics/units differ from {key}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                bad.append(f"{w} trace={trace_on}: checks failed ({res['failed']}/{res['attempted']})")
            if trace_on == 0 and any(m["value"] <= 0 for m in res["metrics"].values()):
                bad.append(f"{w}: an end-to-end metric is not positive")
            print(f"smoke {w} trace={trace_on}: {len(got)} metrics, correct={res['correct']}")
    for b in bad:
        print("smoke FAILED:", b)
    print("smoke", "FAILED" if bad else "ok")
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if args.smoke:
        return smoke(args)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
