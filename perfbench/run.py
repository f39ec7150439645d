"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds nothing: the program is the
``ai_ocr_spark`` package next to this directory. Writes only under
``perfbench/_work`` (inputs, Spark scratch; removed at exit) and
``perfbench/_runs`` (one run record per workload, seed and trace mode).

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
The line before it is the run record (host, versions, settings, census).
Exit status: 0 when the outputs check out, 1 when they do not or the run
failed, 2 when the program is not there to run. On every path out the run
waits until each process it started (the JVM, Spark's Python workers, the
oracle pool) has ended.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4  # local[4]
PROGRAM_FILES = ("ai_ocr_spark/__init__.py", "__spark_entry__.py", "tools/check_oracle.py")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> dict[str, str]:
    """Scratch dirs inside the checkout, and the repo on the Python
    workers' import path (executors import ai_ocr_spark by name)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def _peak_rss_mb(sc) -> float:
    """Peak resident set of the driver JVM plus this interpreter."""
    import resource

    jvm_kb = 0
    pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def _stop(spark) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _become_subreaper() -> None:
    """Have orphaned descendants (Spark's Python worker daemon once the JVM
    is gone) re-parented to this process, so they can be waited for."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _descendants() -> set[int]:
    """Every live or zombie process below this one."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
    found: set[int] = set()
    frontier = [os.getpid()]
    while frontier:
        pid = frontier.pop()
        for child, ppid in parent.items():
            if ppid == pid and child not in found:
                found.add(child)
                frontier.append(child)
    return found


def _reap_all(grace_s: float = 20.0) -> None:
    """Stop multiprocessing's resource tracker, then wait for every
    descendant to end: first on its own, then after SIGTERM, then SIGKILL."""
    import signal

    try:
        from multiprocessing import resource_tracker

        resource_tracker._resource_tracker._stop()
    except Exception:
        pass
    deadline = time.monotonic() + grace_s
    sent = None
    while True:
        while True:  # collect every child that has already exited
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = _descendants()
        if not left:
            return
        now = time.monotonic()
        if now >= deadline and sent == signal.SIGKILL:
            print(f"perfbench: processes {sorted(left)} outlived SIGKILL", file=sys.stderr)
            return
        if now >= deadline:
            sent = signal.SIGTERM if sent is None else signal.SIGKILL
            deadline = now + grace_s / 2
            for pid in left:
                try:
                    os.kill(pid, sent)
                except OSError:
                    pass
        time.sleep(0.05)


def main(argv=None) -> int:
    args = _args(argv)
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.layers import END_TO_END, PER_LAYER, UNITS
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    extra = _environment(work)

    import pyspark

    import ai_ocr_spark.session as session
    from perfbench.trace import Tracer

    t0 = time.perf_counter()
    spark = session.get_spark(app=f"perfbench-{args.workload}", extra=extra)
    session_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        partitions = max(sc.defaultParallelism * 2, 8)  # what run_extraction_job derives
        ctx = Ctx(spark, args.seed, args.seconds, bool(args.trace), work, partitions,
                  Tracer(sc, bool(args.trace)))
        res = WORKLOADS[args.workload](ctx)
        marks = [("imports", t0), ("session", t0 + session_s), *res.marks]
        setup_s = (t0 - T_START) + session_s + res.setup_s
        res.layers["session.start_s"] = session_s
        res.layers["session.peak_rss_mb"] = _peak_rss_mb(sc)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": sc.defaultParallelism,
            "nproc": len(os.sched_getaffinity(0)),
            "pyspark": pyspark.__version__,
            "arrow_batch": session.ARROW_BATCH,
            "partitions": partitions,
            "setup_s": setup_s,
            "session_start_s": session_s,
            "passes": len(res.pass_walls),
            "pass_walls_s": res.pass_walls,
            "traced_walls_s": res.traced_walls,
            "tracing_overhead_s": res.layers["trace.overhead_s"] if args.trace else None,
            "problems": res.problems,
            "timeline_s": {k: round(t - T_START, 3) for k, t in marks},
            **res.record,
        }
        if args.trace:
            record["spans"] = ctx.tracer.dump()
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    record["timeline_s"]["stopped"] = round(time.perf_counter() - T_START, 3)

    runs = os.path.join(HERE, "_runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(runs, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    if args.trace:
        values = {name: res.layers[name] for name, _, _ in PER_LAYER}
    else:
        measured = {"setup_s": setup_s, "pass_s": statistics.median(res.pass_walls)}
        values = {name: measured[name] for name, _, _ in END_TO_END}
    correct = not res.problems
    for p in res.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    record.pop("spans", None)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    import signal

    _become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # still reap on SIGTERM
    status = 1
    try:
        status = main()
    except Exception:
        traceback.print_exc()
    finally:
        sys.stdout.flush()
        _reap_all()
    sys.exit(status)
