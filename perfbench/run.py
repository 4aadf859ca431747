"""Run one benchmark workload in this process, or all of them.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

One run = one fresh process: build the engine's session on
local[<cores>], generate the inputs from the seed, warm up, then either
measure the workload's end-to-end metrics (``--trace 0``) or make one
untraced and one traced pass and report the per-layer metrics
(``--trace 1``). Every output is checked; a failed or wrong operation
counts in ``failed``. Human-readable lines come first; the last stdout
line is one JSON object: {"correct", "attempted", "failed", "metrics"}.

Each run works in its own directory under ``.perfbench_work/`` in the
checkout (Spark local dirs, warehouse, sinks, checkpoints, event log) and
removes it before exiting. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent


_IMPORTED = time.perf_counter()


def process_age_s() -> float:
    """Seconds since this process started (from /proc; since this module
    was imported where /proc is missing)."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return uptime - ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.perf_counter() - _IMPORTED


def _vmhwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Context:
    """What one run shares between run.py and its workload."""

    def __init__(self, work: Path, seed: int, seconds: float, trace: bool):
        from spans import Tracer

        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.tracer = Tracer(f"{os.getpid()}")
        self.spark = None
        self.entry = None
        self.attempted = 0
        self.failed = 0
        self.e2e: dict = {}
        self.layer: dict = {}
        self.extra: dict = {}
        self.notes: dict = {}
        self.by_group: dict = {}
        self.peak_rss_mb = 0.0

    def fail(self, msg: str) -> None:
        self.failed += 1
        print(f"FAILED {msg}", file=sys.stderr)

    def cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def stop_spark(self) -> None:
        """Stop Spark and its JVM, wait for them, then read the event log.
        Peak RSS (this process + the JVM) is taken just before."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.peak_rss_mb = (_vmhwm_kb("self") + (_vmhwm_kb(proc.pid) if proc else 0)) / 1024
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        if self.trace:
            from eventlog import read_events, totals_by_group

            self.by_group = totals_by_group(read_events(str(self.work / "eventlog")))


def _session_conf(ctx: Context) -> dict:
    conf = {
        # Keeps tables the engine saves (the BM25 store) out of the cwd.
        "spark.sql.warehouse.dir": str(ctx.work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work / 'tmp'}",
    }
    if ctx.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (ctx.work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        (ctx.work / "eventlog").mkdir()
    return conf


def run_workload(name: str, ctx: Context) -> None:
    import __spark_entry__ as entry
    from orchestrated_etl_spark.session import get_spark
    from workloads import WORKLOADS

    ctx.entry = entry
    wl = WORKLOADS[name]()
    t0 = time.perf_counter()
    ctx.spark = get_spark(f"perfbench-{name}", extra_conf=_session_conf(ctx))
    ctx.layer["session.get_spark_s"] = time.perf_counter() - t0
    ctx.tracer.sc = ctx.spark.sparkContext
    if ctx.trace:
        # Every eager checkpoint (compat.staged_checkpoint included) goes
        # through these two DataFrame methods.
        cls = type(ctx.spark.range(0))
        for method in ("localCheckpoint", "checkpoint"):
            setattr(cls, method, ctx.tracer.wrap("compat.checkpoint", getattr(cls, method)))
    wl.setup(ctx)
    t1 = time.perf_counter()
    wl.warmup(ctx)
    ctx.layer["session.warmup_s"] = time.perf_counter() - t1
    ctx.e2e["setup_s"] = process_age_s()
    ctx.notes["setup_parts_s"] = {
        "get_spark": round(ctx.layer["session.get_spark_s"], 3),
        "inputs": round(t1 - t0 - ctx.layer["session.get_spark_s"], 3),
        "warmup": round(ctx.layer["session.warmup_s"], 3),
    }
    if ctx.trace:
        wl.trace(ctx)
    else:
        wl.measure(ctx)
    ctx.stop_spark()
    ctx.extra["peak_rss_mb"] = (ctx.peak_rss_mb, "MB")


def run_one(args) -> int:
    if not (ROOT / "orchestrated_etl_spark").is_dir():
        print(f"no engine source next to {HERE.name}/ (looked in {ROOT})", file=sys.stderr)
        return 2
    for p in (str(HERE), str(ROOT), str(ROOT / "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)
    from workloads import END_TO_END, LAYER, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    load_start = os.getloadavg()
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp"):
        (work / d).mkdir(parents=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": str(work / "local"),
            "TMPDIR": str(work / "tmp"),
            # Spark's Python workers import the engine (the books source).
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    ctx = Context(work, args.seed, args.seconds, bool(args.trace))
    try:
        run_workload(args.workload, ctx)
    except Exception:  # noqa: BLE001 — a run that cannot finish prints no result
        traceback.print_exc()
        return 1
    finally:
        try:
            ctx.stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                work.parent.rmdir()
            except OSError:
                pass

    import bench

    w = args.workload
    telemetry = {"loadavg_start": [round(x, 2) for x in load_start], **bench._env_telemetry()}
    print(json.dumps({"workload": w, "seed": args.seed, "host": telemetry, "notes": ctx.notes}))
    if ctx.trace:
        print(json.dumps({"workload": w, "spans": ctx.tracer.summary()}))
        table = [(n, ctx.layer.get(n, 0), u) for n, u in LAYER]
    else:
        table = [(n, ctx.e2e[n], u) for n, u in END_TO_END]
        table += [(n, v, u) for n, (v, u) in ctx.extra.items()]
        table.append(("failed_ratio", ctx.failed / max(1, ctx.attempted), "ratio"))
    for n, v, u in table:
        print(f"{w}\t{n}\t{v}\t{u}")
    metrics = {n: {"value": v, "unit": u} for n, v, u in table}
    keep = LAYER if ctx.trace else END_TO_END
    result = {
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {n: metrics[n] for n, _ in keep},
    }
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Every workload, each in a fresh process; prints their metric lines
    and, last, one JSON object keyed by workload."""
    sys.path.insert(0, str(HERE))
    from workloads import WORKLOADS

    results, rc = {}, 0
    for w in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"{w}: exit code {proc.returncode}", file=sys.stderr)
            rc = 1
            continue
        print("\n".join(lines[:-1]))
        results[w] = json.loads(lines[-1])
        rc = rc or int(not results[w]["correct"])
    if results:
        print(json.dumps(results))
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
