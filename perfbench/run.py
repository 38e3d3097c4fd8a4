"""The repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 1 --trace 0

Run from the repository root. Inputs are generated from the seed under
``.perfbench_work/`` and removed at exit; a traced run writes its spans to
``.perfbench_out/``. The last stdout line is the result JSON; the line
before it carries the run environment and the workload's own figures.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import stats  # noqa: E402
from stats import END_TO_END, PER_LAYER  # noqa: E402


def host_env() -> dict:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg(),
            "cpu_ticks": sum(cpu), "steal_ticks": cpu[7] if len(cpu) > 7 else 0}


def pin_env(work: str) -> None:
    """Pin the session shape and keep every file the run writes inside the
    checkout. Must run before pyspark starts a JVM."""
    nproc = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # get_spark's default is 16g; stay well under this host's RAM
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(2, int(ram_gb // 4)))}g",
        # prewarm is timed on its own, through an explicit call
        "SPARK_GRAFT_NO_PREWARM": "1",
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher too: temp files in the work
        # dir, and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    })
    for k in ("SPARK_MASTER", "MASTER"):
        os.environ.pop(k, None)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss() -> dict:
    """High-water RSS (MB) of this process, of the Spark JVM it started,
    and of the Python workers under that JVM; ``total`` is their sum."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    workers = descendants(jvm)
    out = {
        "python": _vm_hwm_kb(os.getpid()) / 1024.0,
        "jvm": _vm_hwm_kb(jvm) / 1024.0,
        "python_workers": sum(_vm_hwm_kb(p) for p in workers) / 1024.0,
        "n_python_workers": len(workers),
    }
    out["total"] = out["python"] + out["jvm"] + out["python_workers"]
    return out


def stop_all(spark) -> None:
    """Stop the session, then the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for pid in kids:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "weather_data_pipeline_spark")):
        print("perfbench: run from the repository root (package not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    env_start = host_env()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_env(work)

    from spans import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload](tracer, work, args.seed)
        wl.generate()

        # ---- set-up: session, prewarm, workload warm-up ----------------
        t_setup = time.perf_counter()
        from weather_data_pipeline_spark import session as S

        with tracer.span("session.get_spark"):
            spark = S.get_spark(
                "perfbench",
                extra_conf={
                    "spark.sql.warehouse.dir": f"{work}/warehouse",
                    "spark.ui.showConsoleProgress": "false",
                    # a heap of fixed size: G1 would otherwise grow it when its
                    # pause-time heuristics say so, and peak RSS would follow
                    # host timing rather than the program
                    "spark.driver.extraJavaOptions":
                        "-Xms" + os.environ["SPARK_GRAFT_DRIVER_MEM"],
                },
            )
        wl.spark = spark
        tracer.attach(spark)
        with tracer.span("session.prewarm_python_workers"):
            S.prewarm_python_workers(spark)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        wl.setup_check()

        # ---- timed passes ----------------------------------------------
        # A traced run alternates untraced and traced passes, so the ratio
        # of their medians is the tracing overhead.
        walls: list[float] = []
        traced_walls: list[float] = []
        min_passes = max(wl.min_passes, (3 if wl.cold_first else 2) if args.trace else 1)
        t_run = time.perf_counter()
        i = 0
        while i < wl.max_passes and (
            i < min_passes or time.perf_counter() - t_run < args.seconds
        ):
            tracer.enabled = bool(args.trace) and i % 2 == 1
            t0 = time.perf_counter()
            with tracer.span("pass", f"pass-{i}"):
                wl.run_pass(i)
            dt = time.perf_counter() - t0
            (traced_walls if tracer.enabled else walls).append(dt)
            tracer.enabled = False
            wl.check_pass(i)
            if args.trace and i % 2 == 1:
                wl.trace_extras(i)
            i += 1
        wl.summary(walls)
        rss = peak_rss()
    except Exception:
        import traceback

        traceback.print_exc()
        print("perfbench: run failed", file=sys.stderr)
        return 1
    finally:
        try:
            stop_all(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    env_end = host_env()
    ops = wl.ops
    values = stats.end_to_end(setup_s, walls, ops, rss["total"])
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "passes": len(walls) + len(traced_walls),
        "pass_walls_s": walls,
        "ops": len(ops),
        "failed_ops_frac": wl.failed / max(wl.attempted, 1),
        "failures": wl.failures[:20],
        "peak_rss_mb": rss,
        "env_start": env_start,
        "env_end": env_end,
        # share of CPU time the hypervisor gave to other guests during the run
        "steal_frac": (env_end["steal_ticks"] - env_start["steal_ticks"])
        / max(1, env_end["cpu_ticks"] - env_start["cpu_ticks"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in wl.detail.items()},
    }
    if args.trace:
        import layer_metrics

        # a cold first pass is no baseline for a warm traced one
        base = walls[1:] if wl.cold_first else walls
        values = layer_metrics.per_layer(tracer, wl, base, traced_walls)
        units = PER_LAYER
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"))
    else:
        units = END_TO_END
    print(json.dumps(detail))
    correct = wl.failed == 0 and not wl.failures
    print(json.dumps(stats.result_line(correct, wl.attempted, wl.failed, values, units)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
