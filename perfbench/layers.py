"""Per-layer metrics of a traced run, reduced from its op records.

Layers use the repo's module names: ``session`` (``get_session``,
``load_table``), ``queries`` (registry builders and the operators they
call), ``plan`` (Catalyst, through the DataFrame's ``QueryExecution``),
``exec`` (the action, its Spark jobs and SQL metrics), ``storage``
(persisted blocks), ``frame`` (``ZappyFrame``) and ``sources``
(``zarrlite``). A layer no op of the workload reaches reads 0.

Per-pass figures are summed over the pass's ops (peaks and held
storage take the pass maximum) and reported as the median over the
measured warm passes; set-up figures are the median over the set-ups.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

from probe import PHASES, PLAN_KEYS, self_times

SPEC_FILE = Path(__file__).resolve().parents[1] / "BENCHMARK.json"


def units(kind: str) -> dict[str, str]:
    """Name -> unit of each metric BENCHMARK.json lists under ``kind``
    (``end_to_end`` or ``per_layer``), in its order."""
    spec = json.loads(SPEC_FILE.read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


# name -> (end-to-end metrics it should move, workload where it shows);
# kept here because BENCHMARK.json allows only name, unit and better
# on a per-layer metric
_E2E_TIME = "op_p50_s pass_s"
_PLAN_BYTES = "pass_s op_p50_s"
MOVES = {
    "session.start_s": ("setup_s", "all"),
    "session.load_table_s": ("setup_s", "all"),
    "queries.build_s": (_E2E_TIME, "pipeline"),
    "queries.build_share": (_E2E_TIME, "pipeline"),
    "queries.build_jobs": ("pass_s", "pipeline"),
    "plan.analysis_ms": (_E2E_TIME, "pipeline"),
    "plan.optimization_ms": (_E2E_TIME, "pipeline"),
    "plan.planning_ms": (_E2E_TIME, "pipeline"),
    "exec.action_s": ("op_p50_s", "pipeline"),
    "exec.jobs": ("op_p50_s", "pipeline"),
    "exec.stages": ("op_p50_s", "pipeline"),
    "exec.tasks": ("op_p50_s", "pipeline"),
    "exec.scans": ("op_p50_s", "pipeline"),
    "exec.exchanges": ("op_p50_s", "pipeline"),
    "exec.scan_bytes": (_PLAN_BYTES, "pipeline"),
    "exec.shuffle_write_bytes": (_PLAN_BYTES, "pipeline"),
    "exec.broadcast_bytes": (_PLAN_BYTES, "pipeline"),
    "exec.spill_bytes": (_PLAN_BYTES, "pipeline"),
    "exec.peak_mem_bytes": (_PLAN_BYTES, "pipeline"),
    # reads 0 on array, which persists nothing
    "storage.held_blocks": ("peak_rss_mb", "pipeline"),
    "storage.held_mb": ("peak_rss_mb", "pipeline"),
    "frame.load_s": ("pass_s", "array"),
    "frame.elementwise_s": ("pass_s", "array"),
    "frame.reduce_axis0_s": ("pass_s", "array"),
    "frame.reduce_axis1_s": ("pass_s", "array"),
    "frame.dot_s": ("pass_s", "array"),
    "frame.mask_s": ("pass_s", "array"),
    "frame.asndarray_s": ("pass_s", "array"),
    "sources.zarr_write_s": ("pass_s", "array"),
    "sources.zarr_read_s": ("pass_s", "array"),
    "sources.zarr_bytes_per_byte": ("pass_s", "array"),
    # high-water resident memory of Spark's JVM plus this process;
    # a per-layer figure because the JVM's heap growth makes it vary
    # by a quarter between identical runs
    "peak_rss_mb": ("", "all"),
    # the traced pass against the untraced run's pass_s is the
    # tracing overhead; probe time is spent outside timed intervals
    "trace.pass_s": ("", "all"),
    "trace.probe_s": ("", "all"),
}
PEAKS = ("exec.peak_mem_bytes", "storage.held_blocks", "storage.held_mb")
PLAN = {f"exec.{k}": k for k in PLAN_KEYS}


def op_figures(rec: dict) -> dict[str, float]:
    """One traced op record -> its contribution to each metric."""
    out: dict[str, float] = {}
    if "latency_s" not in rec or "build" not in rec:
        return out  # failed before its probes ran
    layer = rec.get("layer")
    if layer:
        out[layer] = rec["latency_s"]
    else:
        out["queries.build_s"] = rec["build_s"]
        out["exec.action_s"] = rec["act_s"]
    out["queries.build_jobs"] = rec["build"]["jobs"]
    for k in ("jobs", "stages", "tasks"):
        out[f"exec.{k}"] = rec["action"][k]
    for p in PHASES:
        out[f"plan.{p}_ms"] = rec.get("phases", {}).get(p, 0.0)
    for name, key in PLAN.items():
        out[name] = rec.get("plan", {}).get(key, 0.0)
    out["storage.held_blocks"], out["storage.held_mb"] = rec["held"]
    out.update(rec.get("gauges", {}))
    return out


def pass_figures(recs: list[dict]) -> dict[str, float]:
    total = dict.fromkeys(units("per_layer"), 0.0)
    for rec in recs:
        for k, v in op_figures(rec).items():
            total[k] = max(total[k], v) if k in PEAKS else total[k] + v
    build, action = total["queries.build_s"], total["exec.action_s"]
    total["queries.build_share"] = build / (build + action) if build + action else 0.0
    total["trace.pass_s"] = sum(r.get("latency_s", 0.0) for r in recs)
    total["trace.probe_s"] = sum(r.get("probe_s", 0.0) for r in recs)
    return total


def per_layer(runner) -> dict[str, float]:
    """Every per-layer metric of a traced run."""
    warm = [pass_figures(p) for p in runner.warm]
    values = {k: statistics.median(w[k] for w in warm) for k in warm[0]}
    values["session.start_s"] = statistics.median(s["start_s"] for s in runner.setups)
    values["session.load_table_s"] = statistics.median(
        s["load_table_s"] for s in runner.setups
    )
    values["peak_rss_mb"] = runner.peak_rss_mib
    return values


def trace_overhead(untraced: Path, traced_pass_s: float) -> dict[str, float]:
    """Traced against untraced warm pass, when the untraced run of the
    same workload and seed left its record at ``untraced``."""
    if not untraced.exists():
        return {}
    base = json.loads(untraced.read_text())["metrics"]["pass_s"]
    return {
        "untraced_pass_s": base,
        "traced_pass_s": traced_pass_s,
        "trace_overhead_frac": traced_pass_s / base - 1.0,
    }


def with_self_times(spans: list[dict]) -> list[dict]:
    own = self_times(spans)
    return [{**s, "self": own[s["id"]]} for s in spans]
