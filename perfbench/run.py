#!/usr/bin/env python3
"""Benchmark of the tabbyld_spark KG pipeline on one machine.

    python3 perfbench/run.py --workload annotate_commit --seed 42 --seconds 5 --trace 0

Run from the repository root.  One process starts one SparkSession at
``local[nproc]``, generates its inputs from ``--seed`` and runs the
workload's warm-up passes; all of that is ``setup_s``.  It then runs timed
passes (a closed loop with one client) until ``--seconds`` of pass wall have
accumulated, at least one pass, and reports their median.  Every timed pass
(and a webprep warm-up pass) is checked outside the timed section; a pass
that raises or fails its check counts in ``failed``, and a run with no
passing timed pass reports no metrics and ``correct`` false.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` traces the
first pass after the warm-up, checks it and reports the per-layer metrics
(see ``spans.py``).

The last line of stdout is the result:
``{"correct": .., "attempted": .., "failed": .., "metrics": {name: {value, unit}}}``.
The line before it is the run record (machine, sizes, versions).  Each run
also writes its record, pass series and spans under ``.perfbench-work/runs``.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import glob
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and make the package importable by the Python workers."""
    if not os.path.isfile(os.path.join(ROOT, "tabbyld_spark", "__init__.py")):
        sys.exit(f"tabbyld_spark/ not found under {ROOT}; run from a full checkout")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def start_spark(cores: int, seed: int):
    """The session and the seeded KG.  The KG is built in pure Python while
    the JVM starts, which mostly waits on the gateway, so the two overlap."""
    from tabbyld_spark.fixtures.kg import build_kg
    from tabbyld_spark.session import get_spark

    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        kg = pool.submit(build_kg, seed=seed)
        spark = get_spark(
            "perfbench", cores=cores, extra_conf={"spark.ui.showConsoleProgress": "false"}
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark, kg.result()


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits when its stdin
    closes) and wait for it."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def storage_mb(spark) -> float:
    """Storage memory in use (cached pages plus lineage-cut blocks)."""
    ex = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    return sum(ex.apply(i).memoryUsed() for i in range(ex.size())) / 2**20


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_digest() -> str:
    """Identifies the program when the checkout is not a git repository."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "tabbyld_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def run_record(spark, args, wl) -> dict:
    sc = spark.sparkContext
    conf = sc.getConf()
    jvm = spark._jvm
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "pages_per_pass": wl.pages_per_pass,
        "git_sha": git_sha(),
        "source_digest": source_digest(),
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "python_version": sys.version.split()[0],
        "driver_memory": conf.get("spark.driver.memory", None),
        "driver_heap_max_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
        "spark_local_dir": conf.get("spark.local.dir", None)
        or jvm.java.lang.System.getProperty("java.io.tmpdir"),
    }


def checked_pass(spark, wl, i: int, kind: str, series: list,
                 check: bool = True) -> tuple[float | None, float]:
    """Run pass ``i`` and, with ``check``, check its output.  Returns its
    wall, or None when it raised or failed its check, and the seconds spent
    checking."""
    t0 = time.perf_counter()
    check_s = 0.0
    try:
        wl.prepare(i)
        t0 = time.perf_counter()
        wall, out = wl.run_pass(i)
        t1 = time.perf_counter()
        errors = wl.check(out) if check else []
        wl.done(out)
        check_s = time.perf_counter() - t1
    except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
        log(traceback.format_exc())
        wall, errors = time.perf_counter() - t0, ["pass raised"]
    series.append({"kind": kind, "wall_s": wall, "check_s": check_s,
                   "storage_mb": storage_mb(spark), "errors": errors})
    if errors:
        log(f"{kind} pass {i} failed: {errors}")
    return (None if errors else wall), check_s


def warm_up(spark, wl, series: list) -> float:
    """The workload's warm-up passes.  Returns the seconds spent checking
    them, which do not count in ``setup_s``."""
    return sum(checked_pass(spark, wl, i, "warmup", series, wl.check_warmup)[1]
               for i in range(wl.warmup_passes))


def timed_passes(spark, wl, seconds: float, series: list) -> dict:
    walls, elapsed, i = [], 0.0, wl.warmup_passes
    while i == wl.warmup_passes or elapsed < seconds:
        wall, _ = checked_pass(spark, wl, i, "timed", series)
        i += 1
        if wall is not None:
            walls.append(wall)
        elapsed += series[-1]["wall_s"]
    final = wl.final_check()
    if final:
        log(f"final check failed: {final}")
        series.append({"kind": "final_check", "wall_s": 0.0, "storage_mb": storage_mb(spark),
                       "errors": final})
        return {}
    return {"pass_s_p50": (statistics.median(walls), "s")} if walls else {}


def traced_passes(spark, wl, series: list, trace_out: dict) -> dict:
    """One warm pass, traced, so its spans decompose the pass an untraced
    run times, then checked like a timed pass."""
    from spans import RESIDUAL, RESIDUAL_METRICS, SPANS, SPAN_METRICS, Tracer

    try:
        wl.prepare(wl.warmup_passes)
        with Tracer(spark) as tr:
            wall, out = wl.run_pass(wl.warmup_passes)
        rep = tr.report(extra_rows=wl.pass_rows(out))
        errors = wl.check(out)
        series.append({"kind": "traced", "wall_s": wall, "storage_mb": storage_mb(spark),
                       "errors": errors})
        wl.done(out)
        final = wl.final_check()
    except Exception:  # noqa: BLE001 - reported as a failed run
        log(traceback.format_exc())
        series.append({"kind": "traced", "wall_s": 0.0, "storage_mb": storage_mb(spark),
                       "errors": ["traced pass raised"]})
        return {}
    if final:
        series.append({"kind": "final_check", "wall_s": 0.0, "storage_mb": storage_mb(spark),
                       "errors": final})
    trace_out["spans"] = rep["spans"]
    if any(s["errors"] for s in series):
        log(f"traced run checks failed: {[s['errors'] for s in series]}")
        return {}

    m = rep["metrics"]
    units = {f"{n}.{k}": u for n in SPANS for k, (u, _) in SPAN_METRICS.items()}
    units.update({f"{RESIDUAL}.{k}": SPAN_METRICS[k][0] for k in RESIDUAL_METRICS})
    units.update({"driver.serial_s": "s", "driver.jobs": "count",
                  "driver.broadcast_jobs": "count", "trace.overhead_frac": "ratio"})
    metrics = {k: (v, units[k]) for k, v in m.items()}

    mentions = m["S2.mentions.rows_out"]
    metrics.update({
        "S3.cands_per_mention": (m["S3.candidates.rows_out"] / mentions if mentions else 0.0, "ratio"),
        "S5.linked_frac": (m["S5.cea.rows_out"] / mentions if mentions else 0.0, "ratio"),
        "S5.cea_f1": (wl.info.get("cea_f1", 0.0), "ratio"),
        "S5.cta_f1": (wl.info.get("cta_f1", 0.0), "ratio"),
        "S5.cpa_f1": (wl.info.get("cpa_f1", 0.0), "ratio"),
        "catalog.bytes_written": (wl.info.get("catalog_bytes", 0), "bytes"),
        "jvm.peak_rss_mb": (jvm_peak_rss_mb(spark), "MB"),
        "jvm.storage_mb": (series[-1]["storage_mb"], "MB"),
        "trace.pass_s": (wall, "s"),
    })
    return metrics


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    prepare_env(WORK)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    spark, kg = start_spark(len(os.sched_getaffinity(0)), args.seed)
    series: list[dict] = []
    trace_out: dict = {}
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, WORK, kg)
        check_s = warm_up(spark, wl, series)
        setup_s = time.perf_counter() - t_start - check_s
        record = run_record(spark, args, wl)
        if args.trace:
            metrics = traced_passes(spark, wl, series, trace_out)
        else:
            metrics = timed_passes(spark, wl, args.seconds, series)
            if metrics:
                metrics = {"setup_s": (setup_s, "s"), **metrics}
        record.update(wl.info)
    finally:
        stop_spark(spark)

    # a failed final check fails every pass of the run
    passes = [s for s in series if s["kind"] != "final_check"]
    if len(passes) < len(series):
        failed = len(passes)
    else:
        failed = sum(1 for s in passes if s["errors"])
    result = {
        "correct": failed == 0 and bool(metrics),
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(runs, f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump({"record": record, "result": result, "passes": series, **trace_out}, f, indent=1)
    log(f"setup {setup_s:.2f}s, total {time.perf_counter() - t_start:.2f}s, passes (kind, wall s, "
        f"check s, storage MB): {[(s['kind'], round(s['wall_s'], 2), round(s.get('check_s', 0), 2), round(s['storage_mb'], 1)) for s in series]}")
    print(json.dumps({"run_record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
