"""Benchmark entry point.

    python3 perfbench/run.py --workload migrate_file --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[nproc]`` (shuffle partitions = nproc) from
the root of a checkout, as one closed-loop client. With ``--trace 0``
it reports the end-to-end metrics; with ``--trace 1`` it enables the
Spark event log and alternates untraced passes with traced ones, which
tag every call with a job group and wrap the Qdrant client and the
transform, and reports the per-layer split instead.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Every file the run writes lives in a per-run directory under
``.perfbench_runs/`` in the checkout, deleted at exit; every process it
starts (the Spark JVM and its Python workers) has ended before it exits.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
GENERATIONS = 3


def _import_program() -> None:
    """Import the program from this checkout; refuse any other copy."""
    try:
        import vectordb_migrator_spark
    except ImportError as exc:
        raise SystemExit(f"perfbench: no vectordb_migrator_spark under {ROOT}: {exc}")
    where = Path(vectordb_migrator_spark.__file__).resolve().parent.parent
    if where != ROOT:
        raise SystemExit(f"perfbench: imported vectordb_migrator_spark from {where}, not {ROOT}")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _descendants() -> dict[int, str]:
    """Every live descendant of this process, pid -> start time."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        st = _stat(int(d)) if d.isdigit() else None
        if st is not None and st[0] != "Z":
            kids.setdefault(int(st[1]), []).append(int(d))
    found: dict[int, str] = {}
    todo = list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        st = _stat(pid)
        if st is not None:
            found[pid] = st[19]
            todo.extend(kids.get(pid, []))
    return found


def _alive(procs: dict[int, str]) -> dict[int, str]:
    """The processes of ``procs`` still running (same pid, same start)."""
    out = {}
    for pid, started in procs.items():
        st = _stat(pid)
        if st is not None and st[0] != "Z" and st[19] == started:
            out[pid] = started
    return out


def stop_processes(grace_s: float = 20.0) -> None:
    """Stop the Spark JVM this process started and every process under
    it (the Python worker daemon and its workers), and wait until each
    has ended. The JVM exits when its stdin closes; whatever is still
    running after ``grace_s`` is terminated, then killed."""
    from pyspark import SparkContext

    procs = _descendants()
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        with contextlib.suppress(OSError):
            jvm.stdin.close()
        try:
            jvm.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    procs.update(_descendants())
    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in _alive(procs):
                with contextlib.suppress(OSError):
                    os.kill(pid, sig)
            deadline = time.monotonic() + 5
        while _alive(procs) and time.monotonic() < deadline:
            # reap our own children; orphans are reaped by their new parent
            with contextlib.suppress(ChildProcessError):
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            time.sleep(0.05)
        if not _alive(procs):
            return
    raise RuntimeError(f"processes still running: {sorted(_alive(procs))}")


class RssSampler:
    """Peak resident set size of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss_mb(self) -> float:
        total = 0
        for pid in [os.getpid(), *_descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            except (OSError, IndexError, ValueError):
                continue
        return total / 1e6

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _phase(wl, ctx, labels: str, budget_s: float, failures: list[str]) -> dict[str, list]:
    """Closed loop: whole passes until ``budget_s`` has elapsed, cycling
    through the phase ``labels`` (``"t"``, or ``"ut"`` to interleave
    untraced and traced passes), at least one pass of each."""
    passes: dict[str, list] = {label: [] for label in labels}
    start = time.perf_counter()
    i = 0
    while i < len(labels) or time.perf_counter() - start < budget_s:
        ctx.phase, ctx.pass_no = labels[i % len(labels)], i
        i += 1
        try:
            p = wl.run_pass(ctx)
        except Exception as exc:  # noqa: BLE001 - a failed pass is counted, not fatal
            traceback.print_exc()
            failures.append(f"pass {ctx.phase}{ctx.pass_no}: {type(exc).__name__}: {exc}")
            continue
        failures.extend(p.failures)
        passes[ctx.phase].append(p)
    return passes


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: Path) -> dict:
    from perfbench import layers
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.stats import summarize
    from perfbench.workloads import WORKLOADS, Ctx, log

    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    tempfile.tempdir = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    # the launcher JVM spark-submit starts would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    load_at_start = os.getloadavg()[0]
    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    trace_dir = event_dir = None
    if trace:
        trace_dir = run_dir / "trace"
        event_dir = run_dir / "eventlog"
        trace_dir.mkdir()
        event_dir.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_dir),
            "spark.eventLog.compress": "false",
        })

    from vectordb_migrator_spark.session import get_spark

    failures: list[str] = []
    with RssSampler() if trace else contextlib.nullcontext() as rss:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf)
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[workload]()
            ctx = Ctx(spark, workload, str(run_dir), seed, cpus,
                      str(trace_dir) if trace_dir else None)
            gens = []
            for _ in range(GENERATIONS):
                t0 = time.perf_counter()
                wl.generate(ctx)
                gens.append(time.perf_counter() - t0)
            gen_s = statistics.median(gens)
            ctx.phase = "w"
            warm = wl.warm_up(ctx)
            failures.extend(warm.failures)
            setup_s = session_s + gen_s + warm.wall_s
            log(f"{workload} seed={seed} cpus={cpus} load_at_start={load_at_start:.2f} "
                f"session={session_s:.2f}s gen={gen_s:.2f}s warm-up={warm.wall_s:.2f}s")
            phases = _phase(wl, ctx, "ut" if trace else "t", seconds, failures)
            passes, untraced = phases["t"], phases.get("u", [])
            failures.extend(wl.certify(ctx))
        finally:
            spark.stop()

    attempted = (
        len(warm.ops) + sum(len(p.ops) for p in untraced + passes) + wl.certificates
    )
    if not passes:
        raise RuntimeError(f"no pass of {workload} completed: {failures}")
    for f in failures:
        log(f"FAILED {f}")
    ops = [s for p in passes for _, s in p.ops]
    # every pass moves the same work, so the rates follow the median pass
    wall = statistics.median(p.wall_s for p in passes)
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": passes[0].rows / wall,
        "mb_per_s": passes[0].nbytes / 1e6 / wall,
        "op_p50_s": statistics.median(ops),
    }
    op_summary = summarize(ops)
    log(f"{workload}: {len(passes)} passes, {len(ops)} calls, op latency "
        + ", ".join(f"{k}={v:.4g}" for k, v in op_summary.items())
        + f"; error_rate={len(failures) / attempted:.4g} ({len(failures)}/{attempted}); "
        + "pass walls: " + " ".join(f"{p.wall_s:.3f}" for p in passes))
    if workload == "qdrant_roundtrip":
        legs = {leg: statistics.median(s for p in passes for k, s in p.ops if k == leg)
                for leg in ("load", "export")}
        log("legs: " + ", ".join(f"{k}_rows_per_s={wl.rows / v:.1f}" for k, v in legs.items()))
    if trace:
        metrics = layers.compute(workload, passes, str(event_dir), str(trace_dir),
                                 getattr(wl, "rows", 0))
        metrics["session.start_s"] = session_s
        metrics["fixture.gen_s"] = gen_s
        metrics["mem.peak_rss_mb"] = rss.peak_mb
        metrics["trace.overhead"] = e2e["wall_s"] / statistics.median(
            p.wall_s for p in untraced
        )
        log("top layers (s per pass): " + ", ".join(
            f"{k}={v:.3f}" for k, v in layers.top_layers(metrics)))
        spec = PER_LAYER
    else:
        metrics = e2e
        spec = END_TO_END
    for k, v in e2e.items():
        print(f"{k} = {v:.6g} {END_TO_END[k].unit}")
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": spec[k].unit} for k in spec},
    }


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _import_program()
    run_dir = ROOT / ".perfbench_runs" / f"{args.workload}-{os.getpid()}-{time.time_ns()}"
    # a terminated run still stops its processes and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        try:
            stop_processes()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
