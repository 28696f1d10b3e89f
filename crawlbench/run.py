"""Repository benchmark: closed-loop CrawlEngine epochs over a seeded
frontier, and dedup / similarity ops over a generated image table.

Usage (from the repository root)::

    python3 crawlbench/run.py --workload frontier_fresh --seed 1 --seconds 6 --trace 0
    python3 crawlbench/run.py --workload image_dedup --seed 1 --seconds 6 --trace 0

One process, one closed-loop client: a single Spark application on
``local[nproc]`` runs one op after another: one ``CrawlEngine.run_epoch``
on ``frontier_fresh``, one pass of five operators over an image table on
``image_dedup``. Inputs
come only from ``--seed``; every output is checked against an oracle
(``crawl.oracle.sequential_crawl``, or exact all-pairs results).
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see README.md). Progress and diagnostics go to stderr and to an
``info`` JSON line on stdout; the last stdout line is the result.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: local mode: one JVM heap serves the scheduler and every task; the
#: library's default (48g) is sized for a much larger machine
JVM_HEAP = "2g"


def pin_environment(run_dir: str) -> dict:
    """Fix every setting the program reads from the environment, so the
    ambient shell (for example the test command's variables) cannot change
    what is measured. Must run before pyspark or numpy is imported."""
    ncpu = len(os.sched_getaffinity(0))
    pinned = {
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(ncpu),
        "SPARK_GRAFT_MAX_PARTITION_BYTES": str(8 << 20),
        # per-run directory, deleted at exit: leftovers in a shared tmpfs
        # would change the program's own tmpfs-headroom decision next run
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_TMPFS": "0",
        # temporary files of this process and the Python workers stay in
        # the run directory too
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(pinned)
    os.makedirs(pinned["TMPDIR"], exist_ok=True)
    # Spark prefers this variable over spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    return pinned


def _proc_tree(root_pid: int) -> list[tuple[int, str]]:
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
        names[int(d)] = name
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append((pid, names.get(pid, "")))
        todo.extend(children.get(pid, []))
    return out


def _status_kb(pid: int, path: str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/{path}") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak memory of the JVM plus every Python process (this one, the
    daemon and its workers), sampled between ops from the main thread.
    The JVM counts with its own high-water mark (VmHWM). Python processes
    count with their proportional set size: the workers are forked from
    one daemon, so plain RSS would count each shared page once per worker
    and swing with the number of workers alive."""

    def __init__(self) -> None:
        self.jvm_mb = 0.0
        self.python_mb = 0.0
        self.total_mb = 0.0

    def sample(self) -> None:
        jvm = py = 0
        for pid, name in _proc_tree(os.getpid()):
            if name == "java":
                jvm += _status_kb(pid, "status", "VmHWM:")
            elif name.startswith("python"):
                py += _status_kb(pid, "smaps_rollup", "Pss:")
        self.jvm_mb = max(self.jvm_mb, jvm / 1024.0)
        self.python_mb = max(self.python_mb, py / 1024.0)
        self.total_mb = max(self.total_mb, (jvm + py) / 1024.0)


def tail_percentile(values: list[float]) -> dict:
    """The highest percentile of ``values`` with at least ten samples
    beyond it, with that count; ``percentile`` is None (and ``value`` the
    maximum) when there are too few samples for any."""
    xs = sorted(values)
    n = len(xs)
    for pct in (99.9, 99, 95, 90, 75, 50):
        idx = int(pct / 100.0 * n)
        if n - idx - 1 >= 10:
            return {"percentile": pct, "value": xs[idx], "samples_beyond": n - idx - 1, "samples": n}
    return {"percentile": None, "value": xs[-1], "samples_beyond": 0, "samples": n}


def cpu_ticks() -> tuple[int, int, int, int]:
    """(steal, busy, total) jiffies of the whole machine and the busy
    jiffies of this process tree: steal is time the hypervisor gave the
    vCPUs to someone else, busy minus own is other tenants' load."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    own = 0
    for pid, _ in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        own += sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11:15])
    return f[7], f[0] + f[1] + f[2] + f[5] + f[6], sum(f[:8]), own


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have processes orphaned under this one (the Python daemon and its
    workers, when the JVM ends first) re-parented to this process rather
    than to init, so that stop_descendants() still finds and reaps them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _descendants() -> tuple[list[int], list[int]]:
    """(running, zombie) pids under this process."""
    me = os.getpid()
    running, zombies = [], []
    for pid, _ in _proc_tree(me):
        if pid == me:
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        (zombies if stat[stat.rindex(")") + 2] == "Z" else running).append(pid)
    return running, zombies


def stop_descendants() -> None:
    """End the JVM and every process started under this one, and wait
    until each has ended and been reaped, so that no zombie is left to
    init either. The JVM exits when its stdin pipe closes; the Python
    daemon exits when the JVM does and takes its workers with it.
    Whatever is still running after a grace period gets SIGTERM, then
    SIGKILL, and is named on stderr."""
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, signal.SIG_IGN)  # a second signal must not cut this short
    pyspark_context = sys.modules.get("pyspark.core.context") or sys.modules.get("pyspark.context")
    gateway = getattr(getattr(pyspark_context, "SparkContext", None), "_gateway", None)
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    deadline = time.monotonic()
    for grace_s, sig in ((15.0, signal.SIGTERM), (5.0, signal.SIGKILL), (10.0, None)):
        deadline += grace_s
        while True:
            _reap()
            live, zombies = _descendants()
            if not live and not zombies:
                return
            if time.monotonic() >= deadline:
                break
            time.sleep(0.05)
        if sig is None:
            print(f"processes not ended after SIGKILL: {live + zombies}", file=sys.stderr)
            return
        print(f"sending {sig.name} to processes that did not end: {live}", file=sys.stderr)
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # SIGTERM unwinds through the finally below: Spark stopped, every
    # process this one started ended, files gone
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    signal.signal(signal.SIGHUP, lambda *_: sys.exit(129))
    become_subreaper()
    run_dir = os.path.join(os.getcwd(), ".bench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    pinned = pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    spark = None
    try:
        import workloads  # imports the program; fails outside a full checkout

        wl = workloads.make(args.workload, run_dir, args.seed)
        tracer = None

        from podcast_plow_spark.session import get_spark

        extra = {
            "spark.ui.showConsoleProgress": "false",
            # the JVM's temporary files too, and no perf-data file in /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={pinned['TMPDIR']} -XX:-UsePerfData",
        }
        if args.trace:
            import tracing as bench_trace

            extra.update(bench_trace.event_log_conf(run_dir))
        rss = RssSampler()
        t = time.perf_counter()
        spark = get_spark(app_name=f"crawlbench-{args.workload}", extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        # input generation (and an oracle computed with it) is not set-up
        t = time.perf_counter()
        wl.generate(spark)
        input_s = time.perf_counter() - t - wl.oracle_s
        if args.trace:
            tracer = bench_trace.Tracer(spark, wl)
            tracer.install()
        t = time.perf_counter()
        wl.setup(spark)  # bootstrap or table opened, then one untimed warm-up op
        setup_s = session_s + time.perf_counter() - t
        rss.sample()

        op_s: list[float] = []
        failed = 0
        ticks0 = cpu_ticks()
        t_meas = time.perf_counter()
        while time.perf_counter() - t_meas < args.seconds and wl.has_next():
            t = time.perf_counter()
            if tracer:
                tracer.begin_op()
            try:
                wl.op()
            except Exception as exc:  # noqa: BLE001 — counted, reported, run stops
                print(f"op failed: {exc!r}", file=sys.stderr)
                failed += 1
                op_s.append(time.perf_counter() - t)
                break
            finally:
                if tracer:
                    tracer.end_op()
            op_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            rss.sample()
            t_meas += time.perf_counter() - t  # sampling is not the program's time
        measured_s = time.perf_counter() - t_meas
        ticks1 = cpu_ticks()

        t = time.perf_counter()
        try:
            check = wl.check(n_ops=len(op_s))
        except Exception as exc:  # noqa: BLE001 — an unreadable result is a wrong one
            print(f"check failed: {exc!r}", file=sys.stderr)
            check = {"correct": False, "failed_ops": len(op_s), "items": 0, "errors": [repr(exc)], "oracle_s": 0.0}
        check_s = time.perf_counter() - t
        failed = max(failed, check["failed_ops"])
        items = check["items"]
        correct = check["correct"] and failed == 0

        if tracer:
            tracer.uninstall()
        spark.stop()
        spark = None

        info = {
            "workload": args.workload,
            "seed": args.seed,
            "env": pinned,
            "sizes": wl.sizes(),
            "ops": len(op_s),
            "op_s": [round(x, 4) for x in op_s],
            "op_s_tail": tail_percentile(op_s),
            "items": items,
            "input_s": input_s,
            "oracle_s": check["oracle_s"],
            "check_s": check_s,
            "session_s": session_s,
            "setup_s": setup_s,
            "measured_s": measured_s,
            "cpu_steal_frac": (ticks1[0] - ticks0[0]) / max(1, ticks1[2] - ticks0[2]),
            "cpu_other_frac": ((ticks1[1] - ticks0[1]) - (ticks1[3] - ticks0[3])) / max(1, ticks1[2] - ticks0[2]),
            "rss_jvm_mb": rss.jvm_mb,
            "rss_python_mb": rss.python_mb,
            "errors": check["errors"][:5],
            **check.get("details", {}),
        }
        print(json.dumps({"info": info}))
        items_per_s = items / measured_s
        if args.trace:
            metrics = bench_trace.report(tracer, wl, rss, items_per_s, measured_s, run_dir)
            with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
                listed = json.load(fh)["per_layer"]
            # every listed metric; the layers this workload does not run read 0
            metrics = {m["name"]: metrics.get(m["name"], metric(0.0, m["unit"])) for m in listed}
        else:
            metrics = {
                "items_per_s": metric(items_per_s, "1/s"),
                "op_s_p50": metric(statistics.median(op_s), "s"),
                "setup_s": metric(setup_s, "s"),
                "peak_rss_mb": metric(rss.total_mb, "MB"),
            }
        print(json.dumps({"correct": bool(correct), "attempted": len(op_s), "failed": failed, "metrics": metrics}))
        return 0
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            stop_descendants()
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
