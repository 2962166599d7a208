"""Steady-state benchmark of dags_spark: one workload, one seed.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The command generates the workload's
inputs from the seed, starts a session with ``session.get_spark()``
exactly as the library builds it, checks every op's output, warms up,
then runs closed-loop passes (one client; a pass is every op of the
workload once) for at least ``--seconds`` seconds. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` alternates plain and traced passes and reports the
per-layer metrics, each the median over traced passes of its per-pass
value, plus ``trace.overhead_s``: traced minus plain pass time.

Everything the run writes lives under ``perfbench/.work/`` and is
removed at exit; every process the run starts has ended when it exits.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path
from statistics import median

from probe import (
    SqlMetrics, anchors, descendants, host_steal_s, jvm_times, layer_sums, tree_cpu_s,
)

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MIN_PASSES = 3


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


class Tracer:
    """Spans around the public calls an op makes. With no SqlMetrics the
    spans cost nothing; with one, each span's wall time and the Spark
    executions it caused are folded into per-pass counters."""

    def __init__(self, sql=None) -> None:
        self.sql = sql
        self.vals: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        if self.sql is None:
            yield
            return
        t = time.perf_counter()
        yield
        # the action's wall time is not a layer metric: exec.run_s is the
        # wall time of the SQL executions themselves, on every workload
        if name != "exec.run":
            self.vals[name + "_s"] += time.perf_counter() - t
        got = self.sql.take()
        sums = layer_sums(got)
        for k, v in sums.items():
            self.vals[k] += v
        if name == "queries.build":
            self.vals["queries.build_jobs"] += got["jobs"]
            return
        self.vals["exec.run_s"] += got["exec_s"]
        self.vals["exec.jobs"] += got["jobs"]
        self.vals["exec.tasks"] += got["tasks"]
        if name == "graph.run":
            self.vals["graph.jobs"] += got["jobs"]
            self.vals["graph.written_rows"] += sums.get("written_rows", 0.0)
        elif name == "tablelog.merge":
            self.vals["tablelog.written_bytes"] += sums.get("written_bytes", 0.0)

    def count(self, key: str, v: float) -> None:
        if self.sql is not None:
            self.vals[key] += v


def run_pass(spark, wl, tr: Tracer, log: list[str]) -> dict:
    """One pass: reset (untimed), every op once (timed), then the
    workload's end-of-pass check (untimed)."""
    wl.reset()
    gc0, jit0 = jvm_times(spark)
    cpu0 = tree_cpu_s()
    failed, op_s = 0, {}
    t0 = time.perf_counter()
    for op in wl.ops:
        t = time.perf_counter()
        try:
            ok = op(spark, tr)
        except Exception:  # an op that raises is a failed op; keep measuring
            log.append(traceback.format_exc(limit=3))
            ok = False
        op_s[op.name] = time.perf_counter() - t
        if not ok:
            failed += 1
            log.append(f"{op.name}: wrong output")
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - cpu0
    gc1, jit1 = jvm_times(spark)
    try:
        checks, problems = wl.end_pass(spark)
    except Exception:  # a state the checks cannot even read fails them
        checks, problems = 1, [traceback.format_exc(limit=3)]
    log.extend(problems)
    return {
        "wall": wall, "cpu": cpu, "op_s": op_s, "gc": gc1 - gc0, "jit": jit1 - jit0,
        "attempted": len(wl.ops) + checks,
        "failed": failed + len(problems),
    }


def layer_values(p: dict, tr: Tracer, ops: int, names) -> dict[str, float]:
    """Per-layer values of one traced pass; layers the workload does not
    touch stay 0."""
    v = dict.fromkeys(names, 0.0)
    v.update({k: x for k, x in tr.vals.items() if k in v})
    v["exec.gc_s"], v["exec.jit_s"] = p["gc"], p["jit"]
    if tr.vals["py_rows_out"] and tr.vals["result_rows"]:
        v["operators.candidates_per_result"] = tr.vals["py_rows_out"] / tr.vals["result_rows"]
    if tr.vals["graph.run_s"]:
        v["graph.jobs_per_run"] = tr.vals["graph.jobs"] / ops
        v["graph.rows_written_per_batch_row"] = tr.vals["graph.written_rows"] / tr.vals["batch_rows"]
        v["tablelog.bytes_written_per_batch_byte"] = (
            tr.vals["tablelog.written_bytes"] / tr.vals["batch_bytes"]
        )
        v["tablelog.snapshot_files"] = tr.vals["snapshot_files"] / ops
    return v


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python daemons, and wait
    for all of them."""
    kids = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        for pid in kids:
            while _alive(pid):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def bench(args, wl, work: Path, t_start: float) -> dict:
    from dags_spark.session import get_spark

    end_to_end, per_layer = metric_units()
    t = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t
    n_cpu = spark.sparkContext.defaultParallelism
    log: list[str] = []
    try:
        attempted, problems = wl.setup(spark, str(work), args.seed)
        log.extend(problems)
        failed = len(problems)
        checked_s = time.perf_counter() - t
        plain = Tracer()
        for _ in range(wl.warm_passes):
            p = run_pass(spark, wl, plain, log)
            attempted, failed = attempted + p["attempted"], failed + p["failed"]
        setup_s = time.perf_counter() - t_start

        anchor = anchors(spark)
        steal0 = host_steal_s()
        plain_passes, traced_passes, layers = [], [], []
        t0 = time.perf_counter()
        while True:
            if args.trace and len(plain_passes) > len(traced_passes):
                tr = Tracer(SqlMetrics(spark))
                p = run_pass(spark, wl, tr, log)
                traced_passes.append(p)
                layers.append(layer_values(p, tr, len(wl.ops), per_layer))
            else:
                p = run_pass(spark, wl, plain, log)
                plain_passes.append(p)
            attempted, failed = attempted + p["attempted"], failed + p["failed"]
            # a traced run's per-layer medians need fewer passes than the
            # end-to-end ones; each traced pass also pays for its plain twin
            enough = len(traced_passes) >= 2 if args.trace else len(plain_passes) >= MIN_PASSES
            if time.perf_counter() - t0 >= args.seconds and enough:
                break
        steal = host_steal_s() - steal0
    finally:
        stop_spark(spark)

    for line in log[:20]:
        print(line, file=sys.stderr)
    pass_s = median(p["wall"] for p in plain_passes)
    cpu_s = median(p["cpu"] for p in plain_passes)
    jit = sum(p["jit"] for p in plain_passes + traced_passes)
    # Spark compiles generated code for every query it plans, so some JIT
    # time is steady state; a run still warming up compiles far more in
    # its first timed pass than in a typical one.
    warming = plain_passes[0]["jit"] > 2 * median(p["jit"] for p in plain_passes)
    timed = sum(p["wall"] for p in plain_passes + traced_passes)
    per_op = defaultdict(list)
    for p in plain_passes:
        for name, s in p["op_s"].items():
            per_op[name].append(s)
    op_med = {name: median(v) for name, v in per_op.items()}
    print(
        f"\n{args.workload} seed={args.seed}: {len(plain_passes)} plain +"
        f" {len(traced_passes)} traced passes; setup {setup_s:.2f} s (session start"
        f" {start_s:.2f} s, inputs and checks done at {checked_s:.2f} s); JIT {jit:.2f} s"
        f" of {timed:.1f} s timed" + (" (still compiling)" if warming else "")
        + f"; anchors gemm {anchor['anchor.gemm_s']:.3f} s, jvm {anchor['anchor.jvm_range_s']:.3f} s;"
        f" steal {steal:.2f} s\npasses (wall/jit s): "
        + " ".join(f"{p['wall']:.2f}/{p['jit']:.2f}" for p in plain_passes + traced_passes)
        + "\nop medians: "
        + ", ".join(f"{k} {v:.3f}" for k, v in op_med.items()),
        file=sys.stderr,
    )
    if args.trace:
        values = {k: median(v[k] for v in layers) for k in per_layer}
        values.update(anchor)
        values["session.start_s"] = start_s
        values["host.steal_s"] = steal
        values["exec.core_util"] = cpu_s / (pass_s * n_cpu)
        values["trace.overhead_s"] = median(p["wall"] for p in traced_passes) - pass_s
        units = per_layer
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "op_gmean_s": math.exp(statistics.fmean(math.log(v) for v in op_med.values())),
            "cpu_s": cpu_s,
        }
        units = end_to_end
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def pin_environment(work: Path) -> None:
    """Size the session to this box through the env knobs get_spark()
    reads, and keep every file the run writes inside ``work``. No
    Spark conf is overridden, so changes to session.tune() show."""
    cpus = min(4, len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, mem_kb // 2**20 // 4))}g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONHASHSEED": "0",
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR on next use


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "dags_spark" / "__init__.py").is_file():
        print(f"error: no dags_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    # A terminated run still stops Spark and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        pin_environment(work)
        result = bench(args, WORKLOADS[args.workload](), work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
