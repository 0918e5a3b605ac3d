#!/usr/bin/env python3
"""Closed-loop benchmark of the checkpointed extraction job and pre-visación.

Run from the repository root:

    python3 extractbench/run.py --workload extract_colocated --seed 1 --seconds 10 --trace 0

One client submits one job and waits for its committed result before the
next (closed loop, one client). Spark runs as local[k], k = |CPU affinity|.
The last stdout line is one JSON object {correct, attempted, failed,
metrics}: with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer ledger. README.md in this directory defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "medical_ocr_service_spark"
WORK_ROOT = os.path.join(ROOT, ".extractbench_work")
TRACE_OUT = os.path.join(ROOT, ".extractbench_out")
MIN_REPS = 4
DRIVER_MEMORY = "2g"

E2E_UNITS = {
    "job_s": "s",
    "docs_per_s": "docs/s",
    "cpu_core_s_per_kdoc": "core-s/kdoc",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def host_env(k: int, work: str) -> None:
    """Environment for the Spark JVM and its Python workers, set before the
    JVM starts: k cores, the package importable by the workers, temporary
    directories inside ``work``, one BLAS/OpenMP thread per Python worker."""
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(k),
            "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
            "PYSPARK_PYTHON": sys.executable,
            # the launcher JVM would otherwise write /tmp/hsperfdata_*
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def start_spark(k: int, work: str):
    """``session.get_spark`` on local[k]; returns (spark, seconds it took)."""
    from medical_ocr_service_spark.session import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    t0 = time.perf_counter()
    spark = get_spark(app_name="extractbench", master=f"local[{k}]", extra_conf=conf)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def stop_spark(spark) -> None:
    """Stop Spark and the JVM it launched, and wait until the JVM and every
    process under it (Python daemon and workers) have exited."""
    from pyspark import SparkContext

    from measure import process_tree

    started = process_tree(os.getpid())[1:]
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # orphaned workers are reparented and reaped elsewhere: wait for their
    # /proc entries to go, then kill what is left
    deadline = time.monotonic() + 10
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def measure_reps(wl, seconds: float, evlog=None, tracer=None) -> list[dict]:
    """Closed-loop timed reps for ``seconds``, and at least MIN_REPS. Only
    the last rep's output is kept, for the checker.

    In a traced run (``evlog`` and ``tracer`` given) the event log is
    attached only to reps 1 and 2 of each block of four, and only whole
    blocks run. Traced and untraced reps then sit at the same mean position
    in the JVM's warm-in, in the same window of the host."""
    from measure import timed

    reps: list[dict] = []
    t_end = time.perf_counter() + seconds
    while (
        len(reps) < MIN_REPS
        or time.perf_counter() < t_end
        or (tracer is not None and len(reps) % 4)
    ):
        i = len(reps)
        traced = tracer is not None and i % 4 in (1, 2)
        out = wl.before_rep(f"rep{i}")
        rep = {"out": out, "expected": wl.n_input, "committed": 0, "error": None,
               "traced": traced}
        try:
            if traced:
                with evlog.logged(), tracer.span(f"job.rep{i}"):
                    committed, wall, mon = timed(wl.call, out)
            else:
                committed, wall, mon = timed(wl.call, out)
        except Exception:  # a failed job counts its docs as failed; go on
            rep["error"] = traceback.format_exc(limit=4)
        else:
            rep.update(
                committed=committed,
                job_s=wall,
                cpu_s=mon.cpu_s,
                peak_rss_b=mon.peak_rss_b,
                steal_frac=mon.steal_frac,
            )
        if reps:
            shutil.rmtree(reps[-1]["out"], ignore_errors=True)
        reps.append(rep)
    return reps


def e2e_metrics(reps: list[dict], setup_s: float) -> dict:
    from measure import median

    ok = [r for r in reps if r["error"] is None]
    if not ok:
        raise RuntimeError("every timed rep failed:\n" + reps[-1]["error"])
    job_s = median([r["job_s"] for r in ok])
    return {
        "job_s": job_s,
        "docs_per_s": median([r["committed"] for r in ok]) / job_s,
        "cpu_core_s_per_kdoc": median([1000 * r["cpu_s"] / r["committed"] for r in ok]),
        "peak_rss_mb": median([r["peak_rss_b"] / 2**20 for r in ok]),
        "setup_s": setup_s,
    }


def run(args, work: str) -> tuple[dict, dict]:
    """One benchmark run; returns the result object and a context dict."""
    import check
    import workloads

    k = len(os.sched_getaffinity(0))
    ctx: dict = {"k": k, "workload": args.workload, "seed": args.seed}
    host_env(k, work)

    t0 = time.perf_counter()
    paths = workloads.write_inputs(os.path.join(work, "input"), args.seed)
    input_ids, gold = workloads.golden_sample(paths, args.seed)
    if args.workload == "previsacion":
        gold = workloads.golden_previsacion(gold, args.seed)
    ctx["gen_s"] = time.perf_counter() - t0

    event_log = os.path.join(work, "eventlog")
    spark, start_s = start_spark(k, work)
    evlog = tracer = None
    try:
        if args.trace:
            from ledger import EventLog, Tracer

            evlog, tracer = EventLog(spark, event_log), Tracer(args.workload)
        wl = workloads.WORKLOAD_CLASSES[args.workload](spark, paths, work, args.seed)
        t0 = time.perf_counter()
        wl.prepare(len(input_ids))
        ctx["prepare_s"] = time.perf_counter() - t0
        # the co-located plan is shuffle-free by contract; an Exchange in
        # the job's plan makes the run incorrect
        exchanges = wl.exchanges if args.workload == "extract_colocated" else 0
        ctx["job_plan_exchanges"] = exchanges

        t0 = time.perf_counter()
        wl.call(wl.before_rep("warmup"))
        warmup_s = time.perf_counter() - t0
        ctx.update(start_s=start_s, warmup_s=warmup_s)

        reps = measure_reps(wl, args.seconds, evlog, tracer)
        last = reps[-1]
        if last["error"] is not None:
            res = check.CheckResult(len(input_ids), 0)
        elif args.workload == "previsacion":
            res = check.check_previsacion(spark, last["out"], input_ids, gold)
        else:
            res = check.check_extraction(spark, last["out"], input_ids, gold)
        metrics = e2e_metrics(reps, start_s + warmup_s)

        counts: dict = {}
        if args.trace:
            from layers import run_layers

            with evlog.logged(), tracer.span("layers"):
                run_layers(tracer, wl, counts, last["out"])
    finally:
        if evlog is not None:
            evlog.close()
        stop_spark(spark)

    attempted = sum(r["expected"] for r in reps)
    # docs of a failed job, docs a job did not commit, and the checked rep's
    # missing or duplicated docs all count as failed
    failed = sum(
        r["expected"] if r["error"] else abs(r["expected"] - r["committed"]) for r in reps
    ) + sum(res.once.values())
    ctx.update(
        reps=len(reps),
        rep_job_s=[r.get("job_s") for r in reps],
        rep_traced=[r["traced"] for r in reps],
        steal_frac=[r.get("steal_frac") for r in reps],
        rep_errors=[r["error"] for r in reps if r["error"]],
        golden_checked=res.n_checked,
        golden_mismatch_frac=res.golden_mismatch_frac,
        docs_missing_frac=res.docs_missing_frac,
        exactly_once=res.once,
        mismatched_ids=res.mismatched[:5],
    )
    if args.trace:
        from ledger import parse_event_log
        from measure import median
        from traced import COVERAGE_TOLERANCE, per_layer_metrics

        stages = parse_event_log(event_log)
        traced_s = [r["job_s"] for r in reps if r["traced"] and r["error"] is None]
        untraced_s = [r["job_s"] for r in reps if not r["traced"] and r["error"] is None]
        metrics, extra = per_layer_metrics(
            stages, tracer, reps, counts, start_s, median(traced_s), median(untraced_s)
        )
        ctx.update(extra)
        # With two traced and two untraced jobs per block, the figure is
        # resolved only when every traced job was slower (or every one
        # faster) than every untraced job; otherwise it is within the noise.
        ctx["trace.overhead_resolved"] = (
            min(traced_s) > max(untraced_s) or max(traced_s) < min(untraced_s)
        )
        lo, hi = COVERAGE_TOLERANCE
        ctx["ledger.coverage_tolerance"] = [lo, hi]
        ctx["ledger.coverage_ok"] = lo <= metrics["ledger.coverage"] <= hi
        os.makedirs(TRACE_OUT, exist_ok=True)
        tracer.dump(os.path.join(TRACE_OUT, f"spans-{args.workload}-s{args.seed}.json"))
        with open(os.path.join(TRACE_OUT, f"stages-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump(sorted(stages.values(), key=lambda s: s["id"]), f, indent=1)
    return {
        "correct": bool(res.ok and failed == 0 and exchanges == 0),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }, ctx


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name, or 'all'")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"extractbench: package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload == "all":
        # every workload, each in its own process, one after the other
        rc = 0
        for name in workloads.WORKLOADS:
            argv = ["--workload", name, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace)]
            rc |= subprocess.run([sys.executable, os.path.abspath(__file__), *argv]).returncode
        return rc
    if args.workload not in workloads.WORKLOADS:
        print(f"extractbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, ctx = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        from traced import PER_LAYER_UNITS as units
    else:
        units = E2E_UNITS
    for name, value in result["metrics"].items():
        result["metrics"][name] = {"value": value, "unit": units[name]}
        print(f"{args.workload:18s} {name:34s} {value:>16.6f} {units[name]}")
    for name in ("golden_mismatch_frac", "docs_missing_frac"):
        print(f"{args.workload:18s} {name:34s} {ctx[name]:>16.6f} fraction")
    print("context " + json.dumps(ctx, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
