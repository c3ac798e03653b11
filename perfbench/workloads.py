"""The benchmark's workloads.

Every operation is a ``build`` (construct the lazy result: a registry
builder call, or a ``ZappyFrame`` expression) followed by an ``act``
(the action that runs it). Its latency is build plus act. Its check
runs afterwards, outside the timed interval, against an answer
computed independently: the DuckDB oracle hash for registry entries,
numpy for the array surface.

Why these:

- ``pipeline``: LLM-data-pipeline entries whose time is shuffles,
  shared caches and checkpoints, part of it inside the builder call:
  d52's scoped cache and t53's ``localCheckpoint``-ed model tables,
  both built by Spark jobs the builder runs.
- ``array``: zappy's own surface (``ZappyFrame`` and the zarr source)
  on a dense float64 matrix: higher-order-function kernels, Arrow
  transfer and Python DataSource workers; no registry, no persisted
  blocks.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

import numpy as np

import gen

PIPELINE = ("d52_cdc_dedup", "t53_kn3_perplexity")


@dataclass
class Op:
    name: str
    layer: str  # per-layer metric the op's whole time feeds, or ""
    build: Callable[[Any], Any]
    act: Callable[[Any], Any]
    check: Callable[[Any, Any], bool]
    # per-layer gauges read after a traced run of the op
    gauges: Callable[[], dict[str, float]] | None = None


@dataclass
class Workload:
    """A named set of operations over seeded, generated inputs."""

    name: str
    ops: list[Op] = field(default_factory=list)

    def prepare(self, cache: Path, work: Path, seed: int) -> None:
        """Generate inputs and oracle answers (untimed)."""
        raise NotImplementedError

    def touch(self, spark) -> None:
        """First touch of the inputs after a session starts."""
        raise NotImplementedError

    def order(self, rng) -> list[Op]:
        """Operation order for one pass, drawn from ``rng``."""
        ops = list(self.ops)
        rng.shuffle(ops)
        return ops

    def end_pass(self) -> None:
        """Drop state carried between the operations of one pass."""


class Relational(Workload):
    """Registry entries on a generated table store."""

    def __init__(self, name: str, entries: tuple[str, ...], tables: tuple[str, ...]):
        super().__init__(name)
        self.entries, self.tables = entries, tables
        self.store: Path | None = None
        self.oracle: dict[str, list] = {}
        self.ops = [self._op(e) for e in entries]

    def _op(self, entry: str) -> Op:
        from zappy_spark.queries import QUERIES

        def build(spark):
            return QUERIES[entry](spark, str(self.store))

        def check(df, rows) -> bool:
            got = gen.canon_hash(df.columns, [tuple(r) for r in rows])
            return list(got) == self.oracle[entry]

        return Op(entry, "", build, lambda df: df.collect(), check)

    def prepare(self, cache: Path, work: Path, seed: int) -> None:
        self.store = gen.tables_dir(cache, seed, self.tables)
        self.oracle = gen.oracle_hashes(self.store, list(self.entries), work)

    def touch(self, spark) -> None:
        from zappy_spark.session import load_table

        for table in self.tables:
            load_table(spark, str(self.store), table)


class ArrayWorkload(Workload):
    """``ZappyFrame`` and zarr read/write on one seeded matrix. The
    first op of a pass loads the frame the others use; the zarr read
    follows the write it reads back."""

    def __init__(self, rows: int, cols: int, chunk_rows: int):
        super().__init__("array")
        self.rows, self.cols, self.chunk_rows = rows, cols, chunk_rows
        self.x: np.ndarray | None = None
        self.path: Path | None = None
        self.zarr_dir: Path | None = None
        self.zf = None  # the frame loaded in the current pass
        self.store: Path | None = None  # zarr store of the current pass
        self.stores = 0
        self.w: np.ndarray | None = None

        def close(got, want) -> bool:
            return bool(np.allclose(got, want, rtol=1e-9, atol=1e-9))

        def x():
            return self.x

        self.load = Op("load", "frame.load_s", lambda s: s, self._load, self._check_load)
        self.ops = [
            Op(
                "elementwise",
                "frame.elementwise_s",
                lambda s: ((self.zf * 2.0 - 1.0).abs() + 1.0).log(),
                lambda f: f.sum(),
                lambda f, v: close(v, np.log(np.abs(x() * 2.0 - 1.0) + 1.0).sum()),
            ),
            Op(
                "reduce_axis0",
                "frame.reduce_axis0_s",
                lambda s: self.zf,
                lambda f: f.sum(axis=0),
                lambda f, v: close(v, x().sum(axis=0)),
            ),
            Op(
                "reduce_axis1",
                "frame.reduce_axis1_s",
                lambda s: self.zf.mean(axis=1),
                lambda v: v.asndarray(),
                lambda f, v: close(v, x().mean(axis=1)),
            ),
            Op(
                "dot",
                "frame.dot_s",
                lambda s: self.zf.dot(self.w),
                lambda v: v.asndarray(),
                lambda f, v: close(v, x() @ self.w),
            ),
            Op(
                "mask",
                "frame.mask_s",
                lambda s: self.zf > 0.5,
                lambda m: (m.count_nonzero(), self.zf.count_nonzero()),
                lambda f, v: v
                == (int((x() > 0.5).sum()), int(np.count_nonzero(x()))),
            ),
            Op(
                "asndarray",
                "frame.asndarray_s",
                lambda s: self.zf,
                lambda f: f.asndarray(),
                lambda f, v: bool(np.array_equal(v, x())),
            ),
        ]
        self.zarr_write = Op(
            "zarr_write",
            "sources.zarr_write_s",
            self._next_store,
            lambda p: self.zf.to_zarr_v2(str(p), self.chunk_rows),
            self._check_store,
            lambda: {"sources.zarr_bytes_per_byte": self.store_bytes_per_byte()},
        )
        self.zarr_read = Op(
            "zarr_read",
            "sources.zarr_read_s",
            lambda s: s,
            self._read_back,
            lambda s, v: close(v, x().sum(axis=0)),
        )

    def prepare(self, cache: Path, work: Path, seed: int) -> None:
        self.path = gen.matrix_file(cache, seed, self.rows, self.cols)
        self.x = gen.make_matrix(seed, self.rows, self.cols)
        self.w = np.random.default_rng([seed, 4]).standard_normal(self.cols)
        self.zarr_dir = work / "zarr"
        shutil.rmtree(self.zarr_dir, ignore_errors=True)
        self.zarr_dir.mkdir(parents=True)

    def touch(self, spark) -> None:
        spark.read.parquet(str(self.path))

    def order(self, rng) -> list[Op]:
        groups = [[op] for op in self.ops] + [[self.zarr_write, self.zarr_read]]
        rng.shuffle(groups)
        return [self.load] + [op for g in groups for op in g]

    def end_pass(self) -> None:
        self.zf = None
        if self.store is not None:
            shutil.rmtree(self.store, ignore_errors=True)
            self.store = None

    def _load(self, spark):
        from zappy_spark import ZappyFrame

        self.zf = ZappyFrame.from_parquet(spark, str(self.path), "vec", "row_id")
        return self.zf

    def _check_load(self, spark, zf) -> bool:
        return zf.ncols == self.cols

    def _next_store(self, spark) -> Path:
        self.stores += 1
        self.store = self.zarr_dir / f"m{self.stores}.zarr"
        return self.store

    def _read_back(self, spark):
        from zappy_spark import ZappyFrame

        return ZappyFrame.from_zarrlite(spark, str(self.store)).sum(axis=0)

    def _check_store(self, path: Path, _) -> bool:
        """Decode the written chunk files with numpy alone."""
        chunks = sorted(
            (int(p.name.split(".")[0]), p) for p in path.iterdir() if p.name[0].isdigit()
        )
        arr = np.concatenate(
            [np.fromfile(p, dtype="<f8").reshape(-1, self.cols) for _, p in chunks]
        )
        return bool(np.array_equal(arr[: self.rows], self.x))

    def store_bytes_per_byte(self) -> float:
        """Bytes in the current store per byte of the array."""
        size = sum(p.stat().st_size for p in self.store.iterdir())
        return size / self.x.nbytes


def make(name: str) -> Workload:
    # Sizes keep one run near a minute on 4 cores: each run pays two
    # JVM starts and a cold pass of 15-30 s besides its warm passes.
    if name == "pipeline":
        return Relational(name, PIPELINE, ("documents",))
    if name == "array":
        return ArrayWorkload(rows=20_000, cols=64, chunk_rows=5_000)
    raise ValueError(f"unknown workload {name!r}")


NAMES = ("pipeline", "array")
