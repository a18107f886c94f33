#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --local 2 --driver-mem 2g --workload query-mix --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into a work dir under the checkout, which is removed at the end. The
last line of stdout is the result: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a traced run. The
line before it carries the details (stamps, host-phase marker, wall
times, samples, failures, ``error_rate``). See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import tracing  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: escape hatches that change what the library does (catalog.py)
FORBIDDEN_ENV = ("TRISK_DISABLE_SPREAD", "TRISK_EAGER_CKPT")
E2E_UNITS = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def calibrate() -> float:
    """Host-phase marker: a fixed single-thread md5 loop, in seconds.
    Recorded beside the metrics, never used to correct them."""
    block = bytes(range(256)) * 4096
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(150):
        h.update(block)
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs since boot (/proc/stat). Recorded beside the md5 marker, which
    runs on one CPU and does not see contention on the others."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def cpu_s(pids: list[int]) -> float:
    """CPU seconds used so far by ``pids`` and by their children that have
    been reaped (utime + stime + cutime + cstime). The kernel leaves time
    the hypervisor gave to other guests (steal) out of these."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass  # ended and reaped: its time is in its parent's cutime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_by_process(jvm: int | None) -> dict[str, float]:
    """CPU seconds so far of the driver Python process, the Spark JVM and
    the processes under the JVM (Python workers and their daemon)."""
    under = descendants(jvm)[1:] if jvm else []
    return {
        "driver": cpu_s([os.getpid()]),
        "jvm": cpu_s([jvm]) if jvm else 0.0,
        "workers": cpu_s(under),
    }


def git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if not ref.startswith("ref: "):
            return ref
        path = os.path.join(ROOT, ".git", ref[5:])
        if os.path.exists(path):
            return open(path).read().strip()
        for line in open(os.path.join(ROOT, ".git", "packed-refs")):
            if line.rstrip().endswith(ref[5:]):
                return line.split()[0]
    except OSError:
        pass
    return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def reset_hwm(pids: list[int]) -> None:
    """Restart the VmHWM high-water marks (Linux clear_refs 5), so the
    peak read later covers only what ran after this call."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # not permitted here: the peak then covers the whole run


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def stop_all(spark) -> None:
    """Stop Spark, the JVM and every process under it, and wait for them."""
    from pyspark import SparkContext

    pid = jvm_pid()
    tree = descendants(pid) if pid else []
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway exits when its stdin closes
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    for p in tree:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            try:
                os.kill(p, signal.SIGTERM)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def prepare_env(work: str, n: int, driver_mem: str, trace_dir: str | None) -> None:
    """Keep every file Spark, the library and the Python workers write
    inside the work dir, and pin the session shape."""
    for sub in ("tmp", "ckpt", "local", "jtmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["TRISK_CHECKPOINT_BASE"] = os.path.join(work, "ckpt")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    # every JVM, the spark-submit launcher's too: temp files in the work
    # dir, no hsperfdata file in the system temp dir, and the C1 compiler
    # only. With C2 the JIT threads used about 1.8 of 4 vCPUs through the
    # measured part of query-mix, an amount that followed each run's
    # timing; C1 alone left the query walls as they were (README.md).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={work}/jtmp"
    )
    args = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work}/warehouse "
    )
    if trace_dir:
        os.makedirs(trace_dir)
        args += tracing.submit_args(trace_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = args + "pyspark-shell"


def main() -> None:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--local", type=int, default=2, help="N in local[N]")
    ap.add_argument("--driver-mem", default="2g")
    ap.add_argument("--smoke", action="store_true", help="sf0.001, one reconfiguration")
    args = ap.parse_args()
    # a SIGTERM unwinds through the finally below: Spark stopped, work dir gone
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    nproc = len(os.sched_getaffinity(0))
    bad = [k for k in FORBIDDEN_ENV if os.environ.get(k)]
    if bad:
        fail(f"refusing to run with {', '.join(bad)} set", 3)
    if args.local > nproc:
        fail(f"local[{args.local}] needs {args.local} CPUs, this host has {nproc}", 3)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    trace_dir = os.path.join(work, "eventlog") if args.trace else None
    prepare_env(work, args.local, args.driver_mem, trace_dir)
    calib_before = calibrate()

    import pyspark

    from trisk_spark.session import get_spark
    from workloads import FULL, SMOKE, Run

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        run = Run(spark, args.local, args.seed, SMOKE if args.smoke else FULL)
        run.cpu = lambda: cpu_s(descendants(os.getpid()))
        workload = WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        workload.setup(run, os.path.join(work, "data"))
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        workload.warm_up(run)
        warm_s = time.perf_counter() - t0
        jvm = jvm_pid()
        reset_hwm([os.getpid()] + (descendants(jvm) if jvm else []))
        # process start to the first timed call; the host-phase marker
        # is the benchmark's own and is left out
        setup_s = time.perf_counter() - T_START - calib_before

        steal0 = steal_s()
        cpu0 = cpu_by_process(jvm)
        t0 = time.perf_counter()
        try:
            workload.measure(run)
        except Exception:  # reported as a failed run, with its traceback
            run.attempt("measure", err=traceback.format_exc(limit=3))
        measured_s = time.perf_counter() - t0
        steal = steal_s() - steal0
        cpu = {k: v - cpu0[k] for k, v in cpu_by_process(jvm).items()}
        workers = descendants(jvm)[1:] if jvm else []
        rss = {
            "driver": vm_hwm_mb(os.getpid()),
            "jvm": vm_hwm_mb(jvm) if jvm else 0.0,
            "workers": sum(vm_hwm_mb(p) for p in workers),
        }
        t0 = time.perf_counter()
        wall = workload.check(run)
        check_s = time.perf_counter() - t0
        e2e = {
            "setup_s": setup_s,
            "cpu_s": sum(cpu.values()),
            # The JVM's high-water mark follows its collector's heap sizing
            # (±15% between identical runs), so it is reported beside the
            # metric; the metric is the Python side the library controls.
            "peak_rss_mb": rss["driver"] + rss["workers"],
        }

        layers = {}
        if args.trace:
            layers = traced_layers(run, workload, e2e, wall, cpu, session_s)
        t0 = time.perf_counter()
        stop_all(spark)
        spark = None
        stop_s = time.perf_counter() - t0
        if args.trace:
            t0 = time.perf_counter()
            layers.update(tracing.event_log_layers(trace_dir, run.units))
            # run.walls and run.units cover the same timed work
            busy = sum(run.walls.values())
            layers["spark.idle_frac"] = (
                1 - layers["spark.task_s"] / (busy * run.n) if busy else 0.0
            )
            layers["trace.parse_s"] = time.perf_counter() - t0
    finally:
        try:
            if spark is not None:
                stop_all(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's work dir is still there

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "master": f"local[{args.local}]",
        "driver_memory": args.driver_mem,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_sha": git_sha(),
        "calibration_s": {"before": calib_before, "after": calibrate()},
        "steal_s": steal,
        "cpu_s": cpu,
        "session_start_s": session_s,
        "inputs_s": inputs_s,
        "warm_up_s": warm_s,
        "measured_s": measured_s,
        "check_s": check_s,
        "stop_s": stop_s,
        "peak_rss_mb": rss,
        "walls_s": run.walls,
        "samples": run.samples,
        "end_to_end": e2e,
        "wall": wall,
        "error_rate": {"value": run.failed / max(1, run.attempted), "unit": "ratio"},
        "failures": run.failures,
    }
    if args.trace:
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in tracing.LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )


def traced_layers(run, workload, e2e, wall, cpu, session_s) -> dict[str, float]:
    """Per-layer metrics read while the session is still up."""
    layers = dict(run.layer)
    layers["session.start_s"] = session_s
    layers.update({f"process.{k}_cpu_s": v for k, v in cpu.items()})
    layers["trace.query_total_s"] = wall["query_total_s"]["value"]
    layers["trace.cpu_s"] = e2e["cpu_s"]
    layers["controlplane.resume_s"] = run.walls.get("resume", 0.0)
    layers.update(tracing.progress_layers(run.progress, getattr(workload, "n_events", 0)))
    layers.update(tracing.checkpoint_layers(run.checkpoints))
    return layers


if __name__ == "__main__":
    if not os.path.isfile(os.path.join(ROOT, "trisk_spark", "__init__.py")):
        fail(f"no trisk_spark package next to {HERE}: run from a checkout of the repo")
    sys.path.insert(1, ROOT)
    main()
