"""Seeded benchmark inputs and their oracle answers.

The relational workload reads the repo's testdata content: ``data/``
holds the sf0.01 ``documents`` table (500 documents) as the testdata
generator wrote it. The seed permutes each table's row order and
splits it into several parquet part files, so every seed reads the
same rows and different seeds give different layouts. The ``array``
workload reads one float64 matrix drawn from the seed.

Generation is untimed, reads only ``data/`` and is cached per seed
under the benchmark's own cache directory. The oracle for a relational entry is its DuckDB SQL
(``zappy_spark.queries.ORACLE``) run on the same generated files,
reduced to the canonical order-insensitive hash of
``scripts/check_queries.py``.
"""

from __future__ import annotations

import functools
import importlib.util
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"
TABLES = ("documents",)  # one ``data/<table>.parquet`` each
PART_FILES = 4
CACHE_KEEP = 6  # most recently generated input sets kept on disk


def _write_parts(table: pa.Table, path: Path, rng) -> None:
    """Write ``table`` in a seeded row order as a directory of part
    files, the layout a distributed writer leaves."""
    path.mkdir(parents=True)
    table = table.take(rng.permutation(table.num_rows))
    parts = min(PART_FILES, table.num_rows)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i in range(parts):
        chunk = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(chunk, path / f"part-{i:05d}.parquet")


def _publish(build, final: Path) -> Path:
    """Run ``build(tmp_dir)`` and move the result into place, so an
    interrupted generation never leaves a half-written cache entry."""
    if final.exists():
        return final
    tmp = final.with_name(final.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, final)
    entries = sorted(final.parent.iterdir(), key=lambda p: p.stat().st_mtime)
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return final


def tables_dir(cache: Path, seed: int, tables: tuple[str, ...] = TABLES) -> Path:
    """Generated store of ``tables`` for ``seed``: one
    ``<table>.parquet`` directory per table, as
    ``zappy_spark.session.load_table`` reads, holding the rows of
    ``data/<table>.parquet`` in a seeded order."""

    def build(tmp: Path) -> None:
        for name in tables:
            rng = np.random.default_rng([seed, 1, TABLES.index(name)])
            table = pq.read_table(DATA / f"{name}.parquet")
            _write_parts(table, tmp / f"{name}.parquet", rng)

    return _publish(build, cache / f"tables-{'-'.join(sorted(tables))}-seed{seed}")


def make_matrix(seed: int, rows: int, cols: int) -> np.ndarray:
    """The ``array`` workload's matrix: mixed-sign values with a
    seeded share of exact zeros, so masks and ``count_nonzero`` are
    not trivial."""
    rng = np.random.default_rng([seed, 2])
    x = rng.standard_normal((rows, cols))
    x[rng.random((rows, cols)) < 0.1] = 0.0
    return x


def matrix_file(cache: Path, seed: int, rows: int, cols: int) -> Path:
    """Parquet copy of the matrix as ``(row_id bigint, vec
    array<double>)`` rows in seeded order across part files."""

    def build(tmp: Path) -> None:
        x = make_matrix(seed, rows, cols)
        table = pa.table(
            {
                "row_id": np.arange(rows, dtype=np.int64),
                "vec": pa.array(list(x), pa.list_(pa.float64())),
            }
        )
        _write_parts(table, tmp, np.random.default_rng([seed, 3]))

    return _publish(build, cache / f"matrix-{rows}x{cols}-seed{seed}")


@functools.cache
def _check_queries():
    path = Path(__file__).resolve().parents[1] / "scripts" / "check_queries.py"
    spec = importlib.util.spec_from_file_location("check_queries", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def canon_hash(cols, rows) -> tuple[int, list[str], str]:
    """(rows, sorted columns, hash): the order-insensitive canonical
    form ``scripts/check_queries.py`` compares Spark and DuckDB by."""
    return _check_queries()._canon(cols, rows)


def oracle_hashes(store: Path, names: list[str], work: Path) -> dict[str, list]:
    """DuckDB oracle hash of each entry on ``store``; cached beside
    the store, recomputed only for names not yet cached."""
    out_path = store / "oracle.json"
    known = json.loads(out_path.read_text()) if out_path.exists() else {}
    todo = [n for n in names if n not in known]
    if todo:
        import duckdb

        from zappy_spark.queries import ORACLE

        spill = work / "duckdb-spill"
        spill.mkdir(parents=True, exist_ok=True)
        con = duckdb.connect()
        try:
            con.execute("SET memory_limit='2GB'")
            con.execute(f"SET temp_directory='{spill}'")
            for tbl in TABLES:
                if not (store / f"{tbl}.parquet").exists():
                    continue
                src = store / f"{tbl}.parquet" / "*.parquet"
                con.execute(
                    f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{src}')"
                )
            for name in todo:
                res = con.execute(ORACLE[name])
                cols = [c[0] for c in res.description]
                known[name] = list(canon_hash(cols, res.fetchall()))
        finally:
            con.close()
        tmp = out_path.with_name(f"oracle.json.tmp{os.getpid()}")
        tmp.write_text(json.dumps(known, sort_keys=True))
        os.replace(tmp, out_path)
    return {n: known[n] for n in names}
