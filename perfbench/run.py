"""Benchmark of record for arabic_ocr_spark.

    python3 perfbench/run.py --workload ocr_dense --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  One run: start Spark on local[k], generate
the workload's inputs from the seed, warm the full workload path up until
successive reps settle, then repeat the timed job for --seconds seconds and
check every rep's output against its reference.  The last line of stdout is
one JSON object {correct, attempted, failed, metrics}: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1 (a separate run that also
records spans around each layer call and writes them out at the end).  The
run record (calibration, thread environment, warm-up and rep times) goes to
.perfbench_work/records/.  See perfbench/README.md for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# local[k]: at most 4 cores, the same k on every run of one machine
MAX_CORES = 4
WARMUP_MIN, WARMUP_MAX, WARMUP_SETTLE = 4, 5, 0.10
# traced runs alternate untraced and traced reps this many times each
TRACE_PAIRS = 2
CALIBRATE_MS = 300.0

LAYERS = ("session", "sources", "kernel", "job", "dedup", "similarity")


def load_spec() -> dict:
    """BENCHMARK.json: the metric names and units this run must report."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and let the Spark workers import the engine from it."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Dderby.system.home={tmp}' pyspark-shell")


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait until every process under
    this one has ended."""
    from probes import descendants

    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def run(args, work: str, records: str, process_start: float, spec: dict) -> tuple[dict, dict]:
    import probes
    import workloads
    from bench import _calibrate
    from tracer import Tracer

    from arabic_ocr_spark.session import get_spark

    k = min(MAX_CORES, len(os.sched_getaffinity(0)))
    traced = bool(args.trace)
    tracer = Tracer(enabled=traced)
    wl = workloads.WORKLOADS[args.workload]()
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "k": k, "nproc": len(os.sched_getaffinity(0)),
        "threads_env": {v: os.environ.get(v) for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                                                       "MKL_NUM_THREADS")},
    }
    setup = {}
    # the JVM starts in a thread while the inputs are generated: the launch
    # is another process, so the two overlap and set-up pays the longer one
    started: dict = {}

    def start_session():
        t = time.perf_counter()
        try:
            started["spark"] = get_spark(master=f"local[{k}]")
            started["spark"].sparkContext.setLogLevel("ERROR")
        except BaseException as exc:  # re-raised on the main thread below
            started["error"] = exc
        started["span"] = (t, time.perf_counter())

    launcher = threading.Thread(target=start_session, name="session-start")
    launcher.start()
    ctx = workloads.Ctx(spark=None, k=k, seed=args.seed, work=work, tracer=tracer, probe=None)
    t0 = time.perf_counter()
    try:
        with tracer.span("sources.synth"):
            wl.prepare(ctx)
        setup["sources.synth_s"] = time.perf_counter() - t0
    finally:
        launcher.join()
    if "error" in started:
        raise started["error"]
    spark = started["spark"]
    tracer.record("session.start", *started["span"])
    setup["session.start_s"] = started["span"][1] - started["span"][0]
    try:
        ctx.spark, ctx.probe = spark, probes.SparkProbe(spark)

        checks = []
        rep_jobs: list[int] = []
        rep_no = [0]
        peak_rss = [0.0]

        def one_rep(trace_it: bool):
            rep_no[0] += 1
            group = f"rep{rep_no[0]}"
            ctx.probe.start(group)
            tracer.enabled = trace_it
            rep_dir = os.path.join(work, "rep")
            cpu0, epoch0 = probes.tree_cpu_s(os.getpid()), time.time()
            t = time.perf_counter()
            out = wl.rep(ctx, rep_dir)
            wall = time.perf_counter() - t
            cpu = probes.tree_cpu_s(os.getpid()) - cpu0
            tracer.enabled = traced
            peak_rss[0] = max(peak_rss[0], probes.worker_peak_rss_mb(os.getpid()))
            ctx.probe.start(f"{group}-check")
            c = wl.check(ctx, out)
            c.failed += ctx.probe.failed_tasks(group)
            checks.append(c)
            rep_jobs.append(len(ctx.probe.job_ids(group)))
            return workloads.RepInfo(out=out, wall=wall, start_epoch=epoch0, cpu_s=cpu,
                                     group=group, jobs=rep_jobs[-1], n_traced=0)

        # warm-up: the full workload path, untimed and untraced, until two
        # successive reps agree within WARMUP_SETTLE
        t0 = time.perf_counter()
        warm: list[float] = []
        with tracer.span("warmup"):
            while len(warm) < WARMUP_MAX:
                warm.append(one_rep(False).wall)
                if len(warm) >= WARMUP_MIN and abs(warm[-1] - warm[-2]) <= WARMUP_SETTLE * warm[-2]:
                    break
        setup["warmup_s"] = time.perf_counter() - t0
        record["warmup_rep_s"] = warm
        setup_s = time.perf_counter() - process_start

        record["calib_mips_before"] = _calibrate(CALIBRATE_MS)
        walls: list[float] = []
        traced_walls: list[float] = []
        last = None
        t_end = time.perf_counter() + args.seconds
        if traced:
            for _ in range(TRACE_PAIRS):
                walls.append(one_rep(False).wall)
                last = one_rep(True)
                traced_walls.append(last.wall)
        else:
            while not walls or time.perf_counter() < t_end:
                walls.append(one_rep(False).wall)
        record["calib_mips_after"] = _calibrate(CALIBRATE_MS)
        record["rep_s"] = walls
        record["rep_spark_jobs"] = rep_jobs
        record["traced_rep_s"] = traced_walls

        same, kernel = wl.replay(ctx)
        metrics: dict[str, float] = {}
        if traced:
            last.n_traced = len(traced_walls)
            # a layer that does not run on this workload reports 0
            metrics = {m["name"]: 0.0 for m in spec["per_layer"]}
            metrics.update(kernel)
            ctx.probe.start("probes")
            metrics.update(wl.layers(ctx, last))
            metrics.update(setup)
            self_time = tracer.self_time_by_layer()
            for layer in LAYERS:
                metrics[f"self.{layer}_s"] = self_time.get(layer, 0.0)
            metrics["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(walls)
            tracer.dump(os.path.join(records, f"spans-{args.workload}-seed{args.seed}.json"))
    finally:
        _stop_spark(spark)

    exact = sum(c.exact for c in checks)
    exact_of = sum(c.exact_of for c in checks)
    notes = [n for c in checks for n in c.notes]
    if not same:
        notes.append("kernel stage replay differs from extract_page")
    correct = exact == exact_of and not notes
    timed = checks[len(warm):]
    wall = statistics.median(walls)
    if not traced:
        metrics = {
            "wall_s": wall,
            "rows_per_s": wl.rows / wall,
            "setup_s": setup_s,
            "exact_rate": exact / exact_of,
            "truth_rate": sum(c.truth for c in checks) / sum(c.truth_of for c in checks),
            "worker_peak_rss_mb": peak_rss[0],
        }
    record.update(setup=setup, setup_s=setup_s, notes=notes, metrics=metrics)
    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    return {
        "correct": correct,
        "attempted": sum(c.rows for c in timed),
        "failed": sum(c.failed for c in timed),
        "metrics": ({m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted}
                    if correct else {}),
    }, record


def main(argv=None) -> int:
    process_start = time.perf_counter()
    import probes

    process_start -= probes.process_age_s()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ocr_dense", "ocr_skewed", "dedup_bands"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "arabic_ocr_spark", "job.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: no arabic_ocr_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    records = os.path.join(base, "records")
    os.makedirs(records, exist_ok=True)
    _isolate(work)
    sys.path.insert(0, ROOT)
    try:
        result, record = run(args, work, records, process_start, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record), file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
