"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from zappy_spark.queries import ORACLE, QUERIES  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _quadratic_oracles() -> set[str]:
    spec = importlib.util.spec_from_file_location("_conftest", ROOT / "tests" / "conftest.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return set(mod.QUADRATIC_ORACLES)


def _digest(path: Path) -> dict[str, str]:
    return {
        str(p.relative_to(path)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(path.rglob("*.parquet"))
        if p.is_file()
    }


def _content(path: Path) -> dict[str, list]:
    """Each table's rows, order-insensitively."""
    import pyarrow.parquet as pq

    out = {}
    for t in gen.TABLES:
        tbl = pq.read_table(path / f"{t}.parquet").to_pylist()
        out[t] = sorted(json.dumps(r, sort_keys=True, default=str) for r in tbl)
    return out


def test_mix_is_oracled_registry_entries():
    quadratic = _quadratic_oracles()
    mix = workloads.PIPELINE
    assert len(set(mix)) == len(mix)
    for name in mix:
        assert name in QUERIES and name in ORACLE, name
        assert name not in quadratic, name


def test_workload_names_match_spec():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.NAMES)
    for name in workloads.NAMES:
        assert workloads.make(name).name == name


def test_same_seed_same_inputs_other_seed_other_layout(tmp_path):
    a = gen.tables_dir(tmp_path / "a", 11)
    b = gen.tables_dir(tmp_path / "b", 11)
    c = gen.tables_dir(tmp_path / "c", 12)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert _content(a) == _content(c)
    parts = sorted(p.name for p in (a / "documents.parquet").iterdir())
    assert len(parts) == gen.PART_FILES


def test_layout_is_a_permutation_of_the_testdata(tmp_path):
    """Row order and files vary; the rows are the testdata's."""
    import pyarrow.parquet as pq

    store = gen.tables_dir(tmp_path, 5, ("documents",))
    assert [p.name for p in store.iterdir()] == ["documents.parquet"]
    source = pq.read_table(gen.DATA / "documents.parquet").to_pylist()
    read = pq.read_table(store / "documents.parquet").to_pylist()
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(read, key=key) == sorted(source, key=key)
    assert [r["doc_id"] for r in read] != sorted(key(r) for r in read)


def test_matrix_is_seeded(tmp_path):
    import pyarrow.parquet as pq

    x = gen.make_matrix(3, 100, 8)
    assert np.array_equal(x, gen.make_matrix(3, 100, 8))
    assert not np.array_equal(x, gen.make_matrix(4, 100, 8))
    t = pq.read_table(gen.matrix_file(tmp_path, 3, 100, 8)).to_pydict()
    got = np.array([v for _, v in sorted(zip(t["row_id"], t["vec"]))])
    assert np.array_equal(got, x)


def test_oracle_hash_is_order_insensitive(tmp_path):
    name = "d52_cdc_dedup"
    one = gen.oracle_hashes(gen.tables_dir(tmp_path, 1), [name], tmp_path / "work")
    two = gen.oracle_hashes(gen.tables_dir(tmp_path, 2), [name], tmp_path / "work")
    assert one == two and one[name][0] > 0
    r = [(1, 2.0), (3, 4.0)]
    assert gen.canon_hash(["a", "b"], r) == gen.canon_hash(["a", "b"], r[::-1])
    assert gen.canon_hash(["b", "a"], [(2.0, 1), (4.0, 3)]) == gen.canon_hash(["a", "b"], r)


def test_end_to_end_metrics_match_spec():
    spec = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert spec["setup_s"] == "s"
    a, b = {"op": "a", "latency_s": 1.0}, {"op": "b", "latency_s": 3.0}
    r = run.Runner(None, {}, 1, False)
    r.setups = [{"start_s": 9.0, "load_table_s": 3.0}] * run.SETUPS
    r.passes = [[a, b], [a, b], [a, {**b, "latency_s": 5.0}], [{**a, "latency_s": 2.0}, b]]
    r.peak_rss_mib, r.attempted = 1000.0, 8
    values, _ = r.end_to_end()
    assert set(values) == set(spec)
    assert values["setup_s"] == 12.0 and values["pass_s"] == 5.0
    assert values["op_p50_s"] == 1.0  # op a's median; b's is 3.0
    bounds = [m["bound"] for m in SPEC["end_to_end"]]
    assert all(0 < b <= 0.25 for b in bounds)
    assert max(bounds) == next(m["bound"] for m in SPEC["end_to_end"] if m["name"] == "setup_s")


def test_every_per_layer_metric_is_mapped():
    assert set(layers.MOVES) == set(layers.units("per_layer"))
    # peak_rss_mb, which held storage moves, is reported per layer
    targets = {m["name"] for m in SPEC["end_to_end"]} | {"peak_rss_mb"}
    workloads_ = set(workloads.NAMES) | {"all"}
    for moves, where in layers.MOVES.values():
        assert set(moves.split()) <= targets and where in workloads_


def test_traced_reduction_emits_every_per_layer_metric():
    op = {
        "op": "x",
        "layer": "",
        "ok": True,
        "build_s": 0.1,
        "act_s": 0.3,
        "latency_s": 0.4,
        "build": {"jobs": 1, "stages": 1, "tasks": 1},
        "action": {"jobs": 2, "stages": 3, "tasks": 8},
        "phases": {"analysis": 1.0, "optimization": 2.0, "planning": 3.0},
        "plan": {"scans": 2.0, "exchanges": 1.0, "peak_mem_bytes": 5.0},
        "held": (0, 0.0),
        "probe_s": 0.01,
    }
    frame_op = {**op, "layer": "frame.dot_s", "build": op["build"]}

    class R:
        warm = [[op, frame_op], [op, frame_op]]
        setups = [{"start_s": 5.0, "load_table_s": 1.0}, {"start_s": 0.2, "load_table_s": 0.5}]
        peak_rss_mib = 1000.0

    values = layers.per_layer(R())
    assert set(values) == set(layers.units("per_layer"))
    assert values["queries.build_s"] == pytest.approx(0.1)
    assert values["queries.build_share"] == pytest.approx(0.25)
    assert values["frame.dot_s"] == pytest.approx(0.4)
    assert values["exec.jobs"] == 4
    assert values["exec.peak_mem_bytes"] == 5.0


def test_trace_overhead_against_untraced_record(tmp_path):
    rec = tmp_path / "w-seed1-trace0.json"
    assert layers.trace_overhead(rec, 2.2) == {}
    rec.write_text(json.dumps({"metrics": {"pass_s": 2.0}}))
    assert layers.trace_overhead(rec, 2.2)["trace_overhead_frac"] == pytest.approx(0.1)


def test_p50_is_a_measured_sample():
    assert run.nearest_rank([1.0, 1.1, 3.0, 3.2], 50) == 1.1
    assert run.nearest_rank([2.0], 50) == 2.0


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail(list(range(1, 101))) == (90.0, 90)
    assert run.tail(list(range(1, 201))) == (95.0, 190)
    assert run.tail(list(range(1, 41))) == (100.0, 40)
    assert run.tail([1.0, 3.0, 2.0]) == (100.0, 3.0)


def test_self_times_subtract_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 5.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    from probe import self_times

    assert self_times(spans) == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}
