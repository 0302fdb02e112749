#!/usr/bin/env python3
"""croco-spark benchmark runner.

    python3 perfbench/run.py --workload er_batch --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 7

Runs one workload (BENCHMARK.json) in this process with its own Spark
session at local[nproc], from the root of a checkout. ``--trace 0`` times
the workload and prints the end-to-end metrics; ``--trace 1`` makes the
separate traced run and prints the per-layer metrics. The last line of
stdout is the result object; the line before it stamps the host and
reports the amount of work. ``--workload all`` runs every workload in its
own process and prints one table.

Everything the run writes goes under ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
# Input builds per run; setup_s takes their median.
SETUP_REPEATS = 3
# Timed iterations per run, at least: the JIT keeps warming for several
# iterations, so a run-to-run change in the count would move the median.
# A third iteration would not fit the time a run may take.
MIN_ITERATIONS = 2
# Driver heap: small enough to keep peak RSS steady and the host unloaded.
DRIVER_MEMORY = "2g"
SPAN_FIELDS = ("wall_s", "jobs", "tasks", "rows_out", "shuffle_write_bytes")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- session -----------------------------------------------------------------
def start_session(work: str, name: str, trace: bool):
    """get_spark at local[nproc] with every scratch path inside ``work``;
    the event log is on only for the traced run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap size keeps peak RSS from following G1's resizing
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ev,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from crocodile_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{name}", master=f"local[{nproc()}]", extra_conf=conf
    )
    return spark, time.perf_counter() - t0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def settle(spark) -> None:
    """Collect garbage on both sides between iterations, so an iteration
    does not pay for cleaning up after the previous one."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def env_stamp(spark, load_start: float, jiffies_start: tuple[int, int]) -> dict:
    steal, total = (b - a for a, b in zip(jiffies_start, cpu_jiffies()))
    return {
        "nproc": nproc(),
        "load_1m_start": load_start,
        "load_1m_end": os.getloadavg()[0],
        # share of this VM's CPU time the hypervisor gave to other guests
        "cpu_steal_frac": steal / total if total else 0.0,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }


# -- one workload --------------------------------------------------------------
def run_workload(name: str, seed: int, seconds: float, trace: bool, spec: dict):
    from workloads import WORKLOADS

    load_start, jiffies_start = os.getloadavg()[0], cpu_jiffies()
    work = os.path.join(OUT_DIR, f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark, init_s = start_session(work, name, trace)
    try:
        wl = WORKLOADS[name](spark, seed, work)
        build_s, inp = [], None
        # setup_s is an end-to-end metric: the traced run builds once
        for _ in range(1 if trace else SETUP_REPEATS):
            if inp is not None:
                inp.release()
            t = time.perf_counter()
            inp = wl.build_inputs()
            build_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm = wl.iterate(inp)
        warm_s = time.perf_counter() - t
        ref = wl.summarize(inp, warm)
        quality = None if trace else wl.quality(inp, warm)
        del warm
        setup_s = init_s + statistics.median(build_s) + warm_s
        info = {
            "workload": name,
            "seed": seed,
            "trace": int(trace),
            "setup": {"init_s": init_s, "build_s": build_s, "warmup_s": warm_s},
            "work": {"records": inp.records, "input_bytes": inp.input_bytes, **ref},
            "quality": quality,
        }
        if trace:
            result = traced_run(spark, wl, inp, seconds, init_s, info)
        else:
            result = timed_run(spark, wl, inp, seconds, spec, ref, quality, setup_s, info)
        info["env"] = env_stamp(spark, load_start, jiffies_start)
    finally:
        stop_session(spark)
    if trace:
        finish_trace(work, result, spec, info)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info, default=str))
    return result


def timed_run(spark, wl, inp, seconds, spec, ref, quality, setup_s, info) -> dict:
    walls, attempted, failed = [], 0, 0
    t_start = time.perf_counter()
    while attempted < MIN_ITERATIONS or time.perf_counter() - t_start < seconds:
        attempted += 1
        settle(spark)
        try:
            t = time.perf_counter()
            out = wl.iterate(inp)
            wall = time.perf_counter() - t
            summary = wl.summarize(inp, out)
            del out
        except Exception:  # one failed iteration must not end the run
            log(traceback.format_exc())
            failed += 1
            continue
        if summary != ref:
            log(f"output check failed: {summary} != {ref}")
            failed += 1
        else:
            walls.append(wall)
    if not quality["ok"]:
        log(f"quality check failed: {quality}")
        failed = attempted
    info["iterations_s"] = walls
    wall_s = statistics.median(walls) if walls else 0.0
    rate = (lambda n: n / wall_s) if wall_s else (lambda n: 0.0)
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "records_per_s": rate(inp.records),
        "pairs_per_s": rate(wl.pairs_done(ref)),
        "pairwise_f1": quality["pairwise_f1"],
        "recall_at_5": quality["recall_at_5"],
        "peak_rss_mb": jvm_peak_rss_mb(spark),
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    if set(units) != set(metrics):
        raise RuntimeError(f"end-to-end metrics differ from BENCHMARK.json: {sorted(metrics)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def traced_run(spark, wl, inp, seconds, init_s, info) -> dict:
    """Alternate untraced and traced iterations for ``seconds``, then the
    workload's once-only traced phases. Spans are turned into metrics by
    finish_trace once the event log is complete."""
    from tracing import Tracer, subtree

    tracer = Tracer(spark.sparkContext, f"{wl.name}-{wl.seed}")
    plain, roots, ratios, attempted = [], [], {}, 0
    t_start = time.perf_counter()
    # traced, untraced, traced, ...: an odd count of at least three, so
    # the JIT's warming during the run favours neither side
    while attempted < 3 or attempted % 2 == 0 or time.perf_counter() - t_start < seconds:
        tracer.aux()
        settle(spark)
        if attempted % 2 == 0:
            root, ratios = wl.traced(inp, tracer)
            tracer.collect_status(subtree(root))
            roots.append(root)
        else:
            t = time.perf_counter()
            wl.iterate(inp)
            plain.append(time.perf_counter() - t)
        attempted += 1
    once_roots, once_ratios, failures = wl.traced_once(inp, tracer)
    for root in once_roots:
        tracer.collect_status(subtree(root))
    for msg in failures:
        log(f"output check failed: {msg}")
    failed = len(failures)
    info["iterations_s"] = plain
    return {
        "correct": failed == 0,
        "attempted": attempted + len(once_roots),
        "failed": failed,
        "tracer": tracer,
        "roots": roots,
        "once_roots": once_roots,
        "ratios": {**ratios, **once_ratios},
        "plain": plain,
        "init_s": init_s,
    }


def finish_trace(work: str, result: dict, spec: dict, info: dict) -> None:
    from eventlog import read_event_log
    from tracing import subtree

    tracer = result.pop("tracer")
    ev_dir = os.path.join(work, "eventlog")
    (log_name,) = os.listdir(ev_dir)  # one application, one log
    by_group = read_event_log(os.path.join(ev_dir, log_name))
    tracer.apply_event_log(by_group)
    spans_dir = os.path.join(OUT_DIR, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    tracer.write(os.path.join(spans_dir, f"{tracer.run_id}.jsonl"))

    def per_name(root) -> dict:
        agg: dict = {}
        for s in subtree(root)[1:]:
            a = agg.setdefault(s.name, dict.fromkeys(SPAN_FIELDS, 0))
            for f in SPAN_FIELDS:
                a[f] += getattr(s, f)
        return agg

    samples: dict = {}
    for root in result.pop("roots") + result.pop("once_roots"):
        for name, a in per_name(root).items():
            for f, v in a.items():
                samples.setdefault(f"{name}.{f}", []).append(v)
    values = {k: statistics.median(v) for k, v in samples.items()}
    values.update(result.pop("ratios"))
    traced_roots = [s for s in tracer.spans if s.parent is None and s.name in ("pipeline", "iteration")]
    values["session.init_s"] = result.pop("init_s")
    values["trace.overhead_s"] = statistics.median(
        s.wall_s for s in traced_roots
    ) - statistics.median(result.pop("plain"))
    values["trace.failed_tasks"] = sum(g["failed_tasks"] for g in by_group.values())
    er_roots = [s for s in traced_roots if s.name == "pipeline"]
    if er_roots:
        values["pipeline.orchestration_s"] = statistics.median(s.self_s for s in er_roots)
        values["pipeline.jobs"] = statistics.median(
            sum(x.jobs for x in subtree(s)) for s in er_roots
        )
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    unknown = sorted(set(values) - set(declared))
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    if values["trace.failed_tasks"]:
        result["correct"] = False
    # a layer this workload does not call reports 0
    result["metrics"] = {
        name: {"value": values.get(name, 0), "unit": unit} for name, unit in declared.items()
    }
    info["spans"] = len(tracer.spans)


# -- all workloads ---------------------------------------------------------------
def run_all(args, spec) -> int:
    """Each workload in its own process and JVM; one table of all metrics."""
    key = "per_layer" if args.trace else "end_to_end"
    names = [w["name"] for w in spec["workloads"]]
    results = {}
    for name in names:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            log(f"{name}: exit code {p.returncode}")
            return p.returncode
        results[name] = json.loads(p.stdout.strip().splitlines()[-1])
    rows = [(m["name"], m["unit"]) for m in spec[key]]
    if not args.trace:
        rows.append(("failed_frac", "ratio"))
        for r in results.values():
            r["metrics"]["failed_frac"] = {"value": r["failed"] / r["attempted"]}
    width = max(len(n) for n, _ in rows) + 2
    print(f"{'metric':<{width}}{'unit':<14}" + "".join(f"{n:>16}" for n in names))
    for metric, unit in rows:
        cells = "".join(
            f"{results[n]['metrics'][metric]['value']:>16.6g}" for n in names
        )
        print(f"{metric:<{width}}{unit:<14}{cells}")
    print(f"{'correct':<{width}}{'':<14}" + "".join(f"{str(results[n]['correct']):>16}" for n in names))
    return 0 if all(r["correct"] for r in results.values()) else 1


def main(argv=None) -> int:
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=names + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args, spec)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), spec)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
