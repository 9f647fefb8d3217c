"""fuzzylink-spark benchmark: one closed-loop client (this process)
submits one linkage job at a time to a local[<cpus>] session built by the
program's own ``get_spark`` defaults.

    python3 perfbench/run.py --workload docs-link --seed 1 --seconds 10 --trace 0

Set-up (JVM and session, input generation and load, the native JW load and
the workload's untimed, checked warm-up jobs) is timed as ``setup_s``. Then
jobs run back to back until ``--seconds`` have passed (at least one); each
is timed from the entry-point call until its result is on the driver, and
checked against independent references. ``--trace 1`` instead runs one
untraced, one traced and one untraced job and reports the per-layer
metrics. The last line of stdout is the JSON result; Spark's and the
program's stderr go to a log under ``.bench_work/``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env() -> int:
    """Keep every file Spark, the JVM and the program write inside the
    checkout; size the session to the cores this process may use."""
    cores = len(os.sched_getaffinity(0))
    dirs = {d: os.path.join(WORK, d) for d in ("spark-local", "tmp", "native", "cwd")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["FUZZYLINK_NATIVE_CACHE"] = dirs["native"]
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.chdir(dirs["cwd"])          # spark-warehouse, derby.log and the like
    return cores


class StderrLog:
    """fd 2 of this process, and so of the JVM and the Python workers it
    starts, redirected to a file; ``since`` reads what was written after
    an offset."""

    def __init__(self, path: str):
        self.path = path
        self.file = open(path, "w+b")
        sys.stderr.flush()
        self.saved = os.dup(2)
        os.dup2(self.file.fileno(), 2)

    def offset(self) -> int:
        sys.stderr.flush()
        return os.fstat(self.file.fileno()).st_size

    def since(self, offset: int) -> str:
        sys.stderr.flush()
        with open(self.path, "rb") as f:
            f.seek(offset)
            return f.read().decode("utf-8", "replace")

    def restore(self) -> None:
        sys.stderr.flush()
        os.dup2(self.saved, 2)
        os.close(self.saved)
        self.file.close()


def tree_peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) over this process and every
    descendant: driver Python, the JVM, Python workers."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def high_percentile(values: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return f"n={n}: no percentile has 10 samples beyond it"
    q = 100.0 * (n - 10) / n
    return f"p{q:.0f}={sorted(values)[n - 11]:.4f}"


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def set_up(args):
    """Session, inputs and warm-up; returns ``(spark, workload, session_s,
    setup_s)``. ``setup_s`` counts from process start."""
    from fuzzylink_spark import get_spark
    from fuzzylink_spark.functions._jw_native import jw_cross_native

    from perfbench.workloads import WORKLOADS

    t0 = time.monotonic()
    spark = get_spark("perfbench")
    session_s = time.monotonic() - t0
    try:
        wl = WORKLOADS[args.workload]()
        t1 = time.monotonic()
        wl.load(spark, args.seed)
        jw_cross_native()
        t2 = time.monotonic()
        for _ in range(wl.warmups):
            problems = wl.check(wl.run()).problems
            if problems:
                raise RuntimeError(f"warm-up output check failed: {problems}")
    except BaseException:
        stop_spark(spark)
        raise
    end = time.monotonic()
    print(f"set-up {end - T_START:.2f} s: session {session_s:.2f} s, inputs and "
          f"native JW {t2 - t1:.2f} s, {wl.warmups} warm-up jobs {end - t2:.2f} s")
    return spark, wl, session_s, end - T_START


def timed(args, wl, setup_s: float) -> dict:
    """Jobs back to back until ``args.seconds`` have passed (at least one);
    the end-to-end metrics."""
    times, outcomes, failed = [], [], 0
    t_loop = time.monotonic()
    while not times or time.monotonic() - t_loop < args.seconds:
        t0 = time.monotonic()
        try:
            result = wl.run()
        except Exception:  # noqa: BLE001 — a failed job counts, the loop goes on
            traceback.print_exc()
            failed += 1
            times.append(float("nan"))
            continue
        times.append(time.monotonic() - t0)
        out = wl.check(result)
        outcomes.append(out)
        if out.problems:
            print(f"output check failed: {out.problems}", file=sys.stderr)
            failed += 1
    done = [t for t in times if t == t]
    if not done:
        raise RuntimeError("every timed iteration raised")
    job_s = statistics.median(done)
    metrics = {
        "setup_s": setup_s,
        "job_s": job_s,
        "pairs_per_s": statistics.median(o.pairs for o in outcomes) / job_s,
        "match_f1": statistics.median(o.f1 for o in outcomes),
        "peak_rss_mb": tree_peak_rss_mb(),
    }
    print(f"{args.workload} seed={args.seed}: {len(done)} timed jobs, {failed} failed "
          f"(error_rate {failed / len(times):.3f}); job_s {high_percentile(done)}; "
          "jobs " + ", ".join(f"{t:.2f}" for t in times) + " s")
    return {"correct": failed == 0, "attempted": len(times), "failed": failed,
            "metrics": with_units(metrics)}


def traced(args, spark, wl, cores: int, log: StderrLog, session_s: float,
           control: list) -> dict:
    """One traced job between two untraced ones; the tracing overhead is
    the traced wall time minus the mean of the untraced two."""
    from perfbench import kernel, layers
    from perfbench.trace import SparkStatus, Tracer

    def plain() -> tuple[float, int]:
        t0 = time.monotonic()
        problems = wl.check(wl.run()).problems
        return time.monotonic() - t0, int(bool(problems))

    before, failed = plain()
    status = SparkStatus(spark)
    tracer, counts = Tracer(status), {}
    layers.install(tracer, counts)
    try:
        mark, offset = status.mark(), log.offset()
        t0 = time.monotonic()
        result = wl.run(tracer.span)
        traced_s = time.monotonic() - t0
    finally:
        tracer.restore()
    out = wl.check(result)
    failed += bool(out.problems)
    metrics = layers.collect(tracer, status, mark, traced_s, wl, out,
                             log.since(offset), counts, cores)
    after, fail_after = plain()
    failed += fail_after
    metrics.update(kernel.kernel_metrics(wl.keys, args.seed))
    control.append(kernel.host_control())
    metrics.update({
        "session.start_s": session_s,
        "host.control_s": min(control),
        "trace.job_s": traced_s,
        "trace.overhead_s": traced_s - (before + after) / 2,
    })
    with open(os.path.join(WORK, f"spans-{wl.name}.json"), "w") as f:
        json.dump(tracer.spans, f, indent=1)
    return {"correct": failed == 0, "attempted": 3, "failed": failed,
            "metrics": with_units(metrics)}


def run(args, cores: int, log: StderrLog) -> dict:
    from perfbench import kernel

    # the host control brackets a traced run: before the session exists
    # and after the last job
    control = [kernel.host_control()] if args.trace else []
    spark, wl, session_s, setup_s = set_up(args)
    try:
        if args.trace:
            return traced(args, spark, wl, cores, log, session_s, control)
        return timed(args, wl, setup_s)
    finally:
        stop_spark(spark)


def with_units(metrics: dict) -> dict:
    """Print each metric with its unit from BENCHMARK.json and return them
    in the result's ``{"value", "unit"}`` form."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name in sorted(metrics):
        print(f"  {name:<34} {metrics[name]:.6g} {units[name]}")
    return {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    try:
        import fuzzylink_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program under {ROOT}: {e}", file=sys.stderr)
        return 2
    cores = prepare_env()
    log = StderrLog(os.path.join(WORK, f"stderr-{args.workload}.log"))
    try:
        result = run(args, cores, log)
    except Exception:  # noqa: BLE001 — report, then fail the run
        traceback.print_exc()
        log.restore()
        print(f"benchmark run failed; log: {log.path}", file=sys.stderr)
        with open(log.path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        return 1
    log.restore()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
