"""zappy_spark benchmark: one workload, one seed, every metric.

Usage, from the repository root:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 5 --trace 0

Workloads (see workloads.py for why each was chosen): ``pipeline`` and
``array``. Load is one client in a closed loop from this single process, on a session sized
from the host: ``local[<usable cores>]`` and a JVM heap of 1 GiB per
core, at most a quarter of physical memory.

A run, in order:

1. Generates the seed's inputs and their oracle answers (untimed,
   cached per seed under ``perfbench/.cache``).
2. Sets up: launches the JVM and starts the session
   (``get_session``), then touches every input (``load_table``).
   Timed as ``setup_s``.
3. Runs the cold pass: every operation once, in the fresh session.
4. Runs warm passes, each in a seeded order, until ``--seconds`` have
   passed and at least ``WARM_PASSES`` have run.
5. Shuts the JVM down and sets up again, from a new JVM, until
   ``SETUPS`` set-ups have run; ``setup_s`` is their median.

Every operation's result is checked outside its timed interval; a
mismatch or exception counts as failed, and the run goes on.

With ``--trace 0`` the last line of stdout is the end-to-end result;
with ``--trace 1`` it carries the per-layer metrics, read from outside
at the calls into each layer (spans, job groups, the plan's
``QueryExecution`` and the block manager), and the spans are written
to ``perfbench/.out``. The line before the result describes the run:
host, versions, sample counts, the tail percentile used, the peak
resident memory and, when an untraced run of the same workload and
seed left its record in ``perfbench/.out``, the tracing overhead. Each
run also writes that record, with every op's timings, there.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import re
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

import layers
from probe import Spans, held_storage, job_counts, plan_metrics, plan_phases

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = HERE / ".cache"
WORK = HERE / ".work"
OUT = HERE / ".out"
SETUPS = 2  # each launches a JVM: ~12 s on 4 cores
WARM_PASSES = 2  # measured, at least, however short --seconds is
TAIL_LADDER = (99, 95, 90)
TAIL_BEYOND = 10


# -- host and session ------------------------------------------------------


def host_facts() -> dict:
    """Cores this process may use, physical memory, and the JVM heap
    sized from them: 1 GiB per core, at most a quarter of RAM."""
    cpus = len(os.sched_getaffinity(0))
    meminfo = Path("/proc/meminfo").read_text()
    mem_mib = int(re.search(r"MemTotal:\s+(\d+) kB", meminfo).group(1)) // 1024
    heap_mib = max(1024, min(cpus * 1024, mem_mib // 4))
    return {"nproc": cpus, "mem_total_mib": mem_mib, "heap_mib": heap_mib}


def session_env(host: dict) -> None:
    """Everything the session reads from the environment: heap, Python
    workers that can import the package, and scratch space kept inside
    the benchmark's own directory."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    tempfile.tempdir = str(tmp)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "SPARK_DRIVER_MEM": f"{host['heap_mib']}m",
            "PYTHONPATH": os.pathsep.join(paths),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
            "TMPDIR": str(tmp),
            "SPARK_GRAFT_JVM_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )


def start_session(host: dict):
    from zappy_spark.session import get_session

    spark = get_session(
        app_name="perfbench",
        cpus=host["nproc"],
        extra_conf={"spark.sql.warehouse.dir": str(WORK / "warehouse")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far: time the hypervisor
    gave the host's CPUs to others shows as steal."""
    fields = [int(v) for v in Path("/proc/stat").read_text().split()[1:11]]
    return fields[7], sum(fields)


def vm_hwm_mib(pid: int | str) -> float:
    status = Path(f"/proc/{pid}/status").read_text()
    return int(re.search(r"VmHWM:\s+(\d+) kB", status).group(1)) / 1024


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.parent.name))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def shutdown(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited. The next ``get_session``
    launches a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = [proc.pid] + _descendants(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while Path(f"/proc/{pid}").exists():
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)
    SparkContext._gateway = SparkContext._jvm = None


# -- measurement -----------------------------------------------------------


def nearest_rank(samples: list[float], p: float) -> float:
    """The ``p``-th percentile by nearest rank: always one of the
    samples, never a mean of two ops from different clusters."""
    s = sorted(samples)
    return s[max(1, math.ceil(p / 100 * len(s))) - 1]


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest ladder percentile with at least
    TAIL_BEYOND samples above its nearest-rank position; the maximum
    (percentile 100) when there are too few samples for any."""
    n = len(samples)
    for p in TAIL_LADDER:
        if n - math.ceil(p / 100 * n) >= TAIL_BEYOND:
            return float(p), nearest_rank(samples, p)
    return 100.0, max(samples)


class Runner:
    def __init__(self, wl, host: dict, seed: int, trace: bool):
        self.wl, self.host, self.seed, self.trace = wl, host, seed, trace
        self.spans = Spans()
        self.rng = random.Random(seed)
        self.spark = None
        self.setups: list[dict] = []
        self.passes: list[list[dict]] = []  # cold, then warm
        self.op_id = 0
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def _span(self, name: str, op: int | None = None):
        return self.spans.open(name, op) if self.trace else None

    def _close(self, sid) -> None:
        if sid is not None:
            self.spans.close(sid)

    def setup(self) -> None:
        sid = self._span("setup")
        t0 = time.perf_counter()
        s1 = self._span("session.start")
        self.spark = start_session(self.host)
        self._close(s1)
        t1 = time.perf_counter()
        s2 = self._span("session.load_table")
        self.wl.touch(self.spark)
        self._close(s2)
        t2 = time.perf_counter()
        self._close(sid)
        self.setups.append({"start_s": t1 - t0, "load_table_s": t2 - t1})

    def run_pass(self) -> None:
        sid = self._span("pass")
        recs = [self.run_op(op) for op in self.wl.order(self.rng)]
        self.wl.end_pass()
        self._close(sid)
        self.passes.append(recs)

    def run_op(self, op) -> dict:
        from pyspark.sql import DataFrame

        self.op_id += 1
        self.attempted += 1
        i, sc = self.op_id, self.spark.sparkContext
        rec = {"op": op.name, "layer": op.layer, "ok": False}
        sid = self._span(op.name, i)
        handle = value = None
        t0 = time.perf_counter()
        try:
            if self.trace:
                sc.setJobGroup(f"op{i}-build", op.name)
            # an op of a named layer is one call into it; a registry
            # entry splits into the builder call and the action
            s = self._span(op.layer[:-2] if op.layer else "queries.build", i)
            t0 = time.perf_counter()
            handle = op.build(self.spark)
            t1 = time.perf_counter()
            if not op.layer:
                self._close(s)
                s = self._span("exec.action", i)
            if self.trace:
                sc.setJobGroup(f"op{i}-action", op.name)
            value = op.act(handle)
            t2 = time.perf_counter()
            self._close(s)
            rec.update(build_s=t1 - t0, act_s=t2 - t1, latency_s=t2 - t0)
            if self.trace:
                sc._jsc.clearJobGroup()
                p = self._span("probe", i)
                tp = time.perf_counter()
                rec["build"] = job_counts(sc, f"op{i}-build")
                rec["action"] = job_counts(sc, f"op{i}-action")
                if isinstance(handle, DataFrame):
                    rec["phases"] = plan_phases(handle)
                    rec["plan"] = plan_metrics(handle)
                if op.gauges:
                    rec["gauges"] = op.gauges()
                rec["probe_s"] = time.perf_counter() - tp
                self._close(p)
            c = self._span("check", i)
            rec["ok"] = bool(op.check(handle, value))
            self._close(c)
            if not rec["ok"]:
                self.errors.append(f"{op.name}: result differs from its oracle")
        except Exception as e:  # a failed op is counted, never dropped
            rec.setdefault("latency_s", time.perf_counter() - t0)
            self.errors.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
            traceback.print_exc(file=sys.stderr)
            if self.trace:
                sc._jsc.clearJobGroup()
                while self.spans.open_ids()[-1] != sid:
                    self._close(self.spans.open_ids()[-1])
        del handle, value  # the result's scoped caches go with it
        if self.trace:
            rec["held"] = held_storage(self.spark)
        self._close(sid)
        if not rec["ok"]:
            self.failed += 1
        return rec

    def run(self, seconds: float) -> None:
        try:
            self.setup()
            self.run_pass()  # cold
            end = time.perf_counter() + seconds
            while len(self.warm) < WARM_PASSES or time.perf_counter() < end:
                self.run_pass()
            jvm = self.spark._jvm
            self.peak_rss_mib = vm_hwm_mib(
                jvm.java.lang.ProcessHandle.current().pid()
            ) + vm_hwm_mib("self")
            self.java = jvm.java.lang.System.getProperty("java.version")
            while len(self.setups) < SETUPS:
                spark, self.spark = self.spark, None
                shutdown(spark)
                self.setup()
        finally:
            if self.spark is not None:
                shutdown(self.spark)

    # -- results -----------------------------------------------------------

    @property
    def warm(self) -> list[list[dict]]:
        """The passes after the cold one."""
        return self.passes[1:]

    @staticmethod
    def pass_s(recs: list[dict]) -> float:
        return sum(r["latency_s"] for r in recs)

    def end_to_end(self) -> tuple[dict, dict]:
        warm = self.warm
        # a failed op keeps the time it took; it also counts in `failed`
        lat = [r["latency_s"] for p in warm for r in p]
        pct, tail_v = tail(lat)
        by_op: dict[str, list[float]] = {}
        for r in (r for p in warm for r in p):
            by_op.setdefault(r["op"], []).append(r["latency_s"])
        values = {
            "setup_s": statistics.median(
                s["start_s"] + s["load_table_s"] for s in self.setups
            ),
            "cold_pass_s": self.pass_s(self.passes[0]),
            "pass_s": statistics.median(self.pass_s(p) for p in warm),
            # the median op's median latency: in a mix of few ops the
            # median of the raw samples is the slowest sample of one op
            "op_p50_s": nearest_rank([statistics.median(v) for v in by_op.values()], 50),
        }
        # A run holds too few op samples for a percentile with ten
        # beyond it, so the tail is reported here, not as a metric.
        info = {
            "op_samples": len(lat),
            "op_tail_s": tail_v,
            "op_tail_percentile": pct,
            "warm_passes": len(warm),
            "failed_frac": self.failed / self.attempted,
            "peak_rss_mb": self.peak_rss_mib,
        }
        return values, info


def versions(host: dict, java: str) -> dict:
    import duckdb
    import numpy
    import pyspark

    return {
        **host,
        "pyspark": pyspark.__version__,
        "java": java,
        "duckdb": duckdb.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    import zappy_spark  # noqa: F401  (fails fast outside a checkout)

    import workloads

    wl = workloads.make(args.workload)
    WORK.mkdir(parents=True, exist_ok=True)
    OUT.mkdir(parents=True, exist_ok=True)
    wl.prepare(CACHE, WORK, args.seed)
    host = host_facts()
    session_env(host)

    runner = Runner(wl, host, args.seed, bool(args.trace))
    ticks = cpu_ticks()
    runner.run(args.seconds)
    steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))

    values, info = runner.end_to_end()
    units = layers.units("end_to_end")
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        values, units = layers.per_layer(runner), layers.units("per_layer")
        untraced = OUT / f"{args.workload}-seed{args.seed}-trace0.json"
        info.update(layers.trace_overhead(untraced, values["trace.pass_s"]))
    info.update(
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        attempted=runner.attempted,
        failed=runner.failed,
        cpu_steal_frac=steal / total if total else 0.0,
        errors=runner.errors[:20],
        host=versions(host, runner.java),
    )
    record = {"info": info, "metrics": values, "passes": runner.passes}
    (OUT / f"{stem}.json").write_text(json.dumps(record, indent=1))
    if args.trace:
        (OUT / f"spans-{args.workload}-seed{args.seed}.json").write_text(
            json.dumps(layers.with_self_times(runner.spans.spans))
        )
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
