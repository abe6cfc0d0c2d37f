"""The benchmark's workloads: each prepares seeded inputs, warms the engine
up and then yields a seeded sequence of rounds of operations for a closed
loop with one client. The loop only stops between rounds, so every run
measures whole rounds and the same mix of operation kinds. Every operation
calls the engine only through its public functions, inside a span named
after the layer it enters, and comes with a check against the independent
oracle.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from datetime import datetime, timezone
from pathlib import Path
from typing import Any, Callable, Iterator

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
from spans import Tracer


@dataclass
class Ctx:
    spark: Any
    tracer: Tracer

    def call(
        self,
        layer: str,
        function: str,
        thunk: Callable[[], Any],
        measure: Callable[[Any], dict] | None = None,
    ) -> Any:
        """Run ``thunk`` (a call into ``layer`` plus the action that forces
        its result) inside a span named ``<layer>.<function>``. The span
        records the result's row count and whatever ``measure`` returns."""
        with self.tracer.span(f"{layer}.{function}", layer) as span:
            value = thunk()
            if isinstance(value, (int, list)):
                span.counts["result_rows"] = value if isinstance(value, int) else len(value)
            if measure is not None:
                span.counts.update(measure(value))
            return value


@dataclass
class Op:
    kind: str
    items: int  # input records the operation processes
    run: Callable[[Ctx], Any]
    check: Callable[[Any], str | None]


def write_parquet(table, directory: Path, files: int) -> str:
    directory.mkdir(parents=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), directory / f"part-{i:02d}.parquet")
    return str(directory)


def ingest(ctx: Ctx, src: str, out: str) -> None:
    """Documents at ``src`` -> indexed, partitioned parquet at ``out``. The
    index is materialized before the write so the two steps time apart."""
    from pyspark import StorageLevel

    from geomesa_spark.sources.docs import index_docs, write_indexed

    def index():
        df = index_docs(ctx.spark.read.parquet(src)).persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        return df

    indexed = ctx.call("sources.docs", "index_docs", index)
    ctx.call("sources.docs", "write_indexed", lambda: write_indexed(indexed, out))
    indexed.unpersist()


def rect_wkt(w) -> str:
    a, b, c, d = w
    return f"POLYGON (({a:.7f} {b:.7f}, {a:.7f} {d:.7f}, {c:.7f} {d:.7f}, {c:.7f} {b:.7f}, {a:.7f} {b:.7f}))"


class Workload:
    """Set-up is ``prepare`` (repeated, so its median is steady), then
    ``build`` (once), then ``warm``; the loop then runs ``rounds``."""

    def build(self, ctx: Ctx, d: Path) -> None:
        """One-time set-up after the repeated input preparation."""

    @staticmethod
    def phases(spans, n_ops: int) -> dict:
        """The workload's own throughput figures, from untraced loop spans."""
        return {}


class IngestJoin(Workload):
    """Batch write path: index -> write -> read back -> spatial join -> count."""

    name = "ingest_join"
    N_DOCS = 30_000
    N_POLYS = 2_000

    def __init__(self, seed: int):
        self.seed = seed
        self.polys_df = None
        self._expected = None
        self._batches = itertools.count()

    def prepare(self, ctx: Ctx, d: Path) -> None:
        from geomesa_spark.sources.docs import index_docs

        self.dir = d
        self.docs = gen.docs(self.seed, self.N_DOCS)
        self.polys = gen.polygons(self.seed, self.N_POLYS)
        self.src = write_parquet(self.docs.table, d / "docs", 8)
        polys_src = write_parquet(self.polys.table, d / "polys", 1)
        if self.polys_df is not None:
            self.polys_df.unpersist()
        self.polys_df = index_docs(ctx.spark.read.parquet(polys_src)).persist()
        self.polys_df.count()

    def _batch(self, src: str, ctx: Ctx) -> int:
        from geomesa_spark.operators.spatial_join import spatial_join

        out = str(self.dir / f"indexed-{next(self._batches)}")
        ingest(ctx, src, out)
        return ctx.call(
            "operators.spatial_join",
            "spatial_join",
            lambda: spatial_join(ctx.spark.read.parquet(out), self.polys_df).count(),
        )

    def _check(self, n: int) -> str | None:
        if self._expected is None:
            self._expected = oracle.join_pairs(self.docs, self.polys)
        return None if n == self._expected else f"join pairs {n}, oracle {self._expected}"

    def warm(self, ctx: Ctx, d: Path) -> None:
        small = write_parquet(gen.docs(self.seed, 3_000, id_prefix="w").table, d / "warm", 2)
        self._batch(small, ctx)

    def rounds(self) -> Iterator[list[Op]]:
        while True:
            yield [Op("batch", self.N_DOCS, lambda ctx: self._batch(self.src, ctx), self._check)]

    @staticmethod
    def phases(spans, n_ops: int) -> dict:
        docs = IngestJoin.N_DOCS * n_ops
        t = _layer_seconds(spans)
        return {
            "ingest_docs_per_s": docs / t["sources.docs"],
            "join_docs_per_s": docs / t["operators.spatial_join"],
        }


class QueryMix(Workload):
    """Interactive read path over an indexed table built in set-up."""

    name = "query_mix"
    N_DOCS = 25_000
    N_OPS = 220
    # one round: op kinds in a fixed order (W window, I window + time
    # interval, D density grid, K kNN, T tile pyramid + PNG tiles). Windows
    # are the majority, so the median op is a window query; the seed moves
    # the windows and query points, never the mix
    PATTERN = "WKWIWTWDWWW"
    KNN_K = 5
    KNN_START_M = 50_000.0  # sized to the data density: most queries finish in one round
    PYRAMID = (8, 4)
    PNG_ZOOM = 6
    TILE_PX = 256

    def __init__(self, seed: int):
        self.seed = seed

    def prepare(self, ctx: Ctx, d: Path) -> None:
        self.docs = gen.docs(self.seed, self.N_DOCS)
        self.src = write_parquet(self.docs.table, d / "docs", 8)

    def build(self, ctx: Ctx, d: Path) -> None:
        # once per run: three builds would cost about 8 s more per run
        ingest(ctx, self.src, str(d / "table"))
        self.table = ctx.spark.read.parquet(str(d / "table"))

    def _filter(self, ctx: Ctx, win, interval=None):
        from geomesa_spark.plans.planner import plan, spatial_filter

        wkt = rect_wkt(win)
        # naive datetimes: the benchmark runs with TZ=UTC
        iv = None if interval is None else tuple(
            datetime.fromtimestamp(t, tz=timezone.utc).replace(tzinfo=None) for t in interval
        )
        df = ctx.call("plans.planner", "spatial_filter", lambda: spatial_filter(self.table, wkt, interval=iv))
        ctx.tracer.note(lambda: {"cells": len(plan(wkt, interval=iv).cells)})
        return df

    def _count(self, win, interval, ctx: Ctx) -> int:
        df = self._filter(ctx, win, interval)
        return ctx.call("plans.planner", "count", df.count)

    def _density(self, win, ctx: Ctx) -> float:
        from geomesa_spark.operators.density import density

        df = self._filter(ctx, win)
        rows = ctx.call("operators.density", "density", lambda: density(df, tuple(win), 64, 64).collect())
        return float(sum(r["weight"] for r in rows))

    def _tiles(self, win, ctx: Ctx):
        from geomesa_spark.operators.density import render_tile_pngs, tile_pyramid

        df = self._filter(ctx, win)
        zmax, zmin = self.PYRAMID
        pyramid = ctx.call(
            "operators.density",
            "tile_pyramid",
            lambda: [
                (r["tile_z"], r["tile_x"], r["tile_y"], r["n_docs"])
                for r in tile_pyramid(df, zmax, zmin).collect()
            ],
        )
        pngs = ctx.call(
            "operators.density",
            "render_tile_pngs",
            lambda: [tuple(r) for r in render_tile_pngs(df, self.PNG_ZOOM, self.TILE_PX).collect()],
            measure=lambda rows: {"png_bytes": sum(len(r[3]) for r in rows)},
        )
        return pyramid, pngs

    def _knn(self, queries, ctx: Ctx):
        from geomesa_spark.operators.knn import knn

        return ctx.call(
            "operators.knn",
            "knn",
            lambda: [
                (r["query_id"], r["dist_m"])
                for r in knn(self.table, queries, self.KNN_K, start_radius_m=self.KNN_START_M)
                .select("query_id", "dist_m")
                .collect()
            ],
        )

    def _sequence(self, seed: int) -> list[Op]:
        rng = np.random.default_rng([seed, 6])
        wins = gen.windows(seed, self.N_OPS)
        docs, out = self.docs, []
        for i, kind in zip(range(self.N_OPS), itertools.cycle(self.PATTERN)):
            w = tuple(wins[i])
            if kind in "WI":
                interval = None
                if kind == "I":
                    lo = gen.T0 + rng.uniform(0, 5 * 86400) + 0.5
                    interval = (lo, lo + rng.uniform(6 * 3600, 2 * 86400))
                out.append(Op(
                    kind, 1,
                    lambda ctx, w=w, iv=interval: self._count(w, iv, ctx),
                    lambda n, w=w, iv=interval: oracle.check_window(docs, w, iv, n),
                ))
            elif kind == "D":
                out.append(Op(
                    kind, 1,
                    lambda ctx, w=w: self._density(w, ctx),
                    lambda s, w=w: oracle.check_density(docs, w, s),
                ))
            elif kind == "T":
                out.append(Op(
                    kind, 1,
                    lambda ctx, w=w: self._tiles(w, ctx),
                    lambda r, w=w: oracle.check_tiles(
                        int(oracle.window_mask(docs, w).sum()), r[0], r[1],
                        range(self.PYRAMID[1], self.PYRAMID[0] + 1), self.PNG_ZOOM, self.TILE_PX,
                    ),
                ))
            else:
                hot = (gen.HOT_CENTER[0] + rng.uniform(-0.1, 0.1), gen.HOT_CENTER[1] + rng.uniform(-0.1, 0.1))
                pts = [hot] + [
                    (rng.uniform(gen.REGION[0], gen.REGION[2]), rng.uniform(gen.REGION[1], gen.REGION[3]))
                    for _ in range(2)
                ]
                qs = [(f"q{i}-{j}", float(x), float(y)) for j, (x, y) in enumerate(pts)]
                out.append(Op(
                    kind, 1,
                    lambda ctx, qs=qs: self._knn(qs, ctx),
                    lambda rows, qs=qs: oracle.check_knn(docs, qs, self.KNN_K, rows),
                ))
        return out

    def warm(self, ctx: Ctx, d: Path) -> None:
        # one op of each kind that brings its own Python UDF or plan shape;
        # I and D reuse the window plan
        seen = set("ID")
        for op in self._sequence(self.seed + 7919):
            if op.kind not in seen:
                seen.add(op.kind)
                op.run(ctx)

    def rounds(self) -> Iterator[list[Op]]:
        seq, n = self._sequence(self.seed), len(self.PATTERN)
        for i in range(0, len(seq) - n + 1, n):
            yield seq[i : i + n]


class DedupAnn(Workload):
    """CPU-bound Python kernels with no spatial layer: MinHash-LSH near-dup
    pairs with exact verification, then a batch ANN join."""

    name = "dedup_ann"
    N_TEXTS = 4_000
    N_CORPUS = 15_000
    N_QUERIES = 200
    DIM = 64
    K = 10
    THRESHOLD = 0.8

    def __init__(self, seed: int):
        self.seed = seed

    def _load(self, ctx: Ctx, d: Path, texts: gen.Texts, vec: gen.Vectors):
        read = ctx.spark.read.parquet
        return (
            read(write_parquet(texts.arrow(), d / "texts", 4)),
            read(write_parquet(vec.arrow("corpus"), d / "corpus", 4)),
            read(write_parquet(vec.arrow("queries"), d / "queries", 1)),
        )

    def prepare(self, ctx: Ctx, d: Path) -> None:
        self.texts = gen.texts(self.seed, self.N_TEXTS)
        self.vec = gen.vectors(self.seed, self.N_CORPUS, self.N_QUERIES, self.DIM)
        self.frames = self._load(ctx, d, self.texts, self.vec)

    def _batch(self, frames, ctx: Ctx):
        from geomesa_spark.operators.dedup import minhash_lsh_pairs
        from geomesa_spark.operators.similarity import ann_join

        texts, corpus, queries = frames
        pairs = ctx.call(
            "operators.dedup",
            "minhash_lsh_pairs",
            lambda: [tuple(r) for r in minhash_lsh_pairs(texts, self.THRESHOLD, verify="exact").collect()],
        )
        ann = ctx.call(
            "operators.similarity",
            "ann_join",
            lambda: [
                (r["query_id"], r["vec_id"], r["score"])
                for r in ann_join(corpus, queries, k=self.K).collect()
            ],
        )
        return pairs, ann

    def _check(self, result) -> str | None:
        pairs, ann = result
        return oracle.check_dedup(self.texts, pairs, self.THRESHOLD) or oracle.check_ann(
            self.vec, ann, self.K
        )

    def warm(self, ctx: Ctx, d: Path) -> None:
        frames = self._load(
            ctx, d / "warm", gen.texts(self.seed, 1_000), gen.vectors(self.seed, 3_000, 50, self.DIM)
        )
        self._batch(frames, ctx)

    def rounds(self) -> Iterator[list[Op]]:
        while True:
            yield [Op("batch", self.N_TEXTS + self.N_QUERIES, lambda ctx: self._batch(self.frames, ctx), self._check)]

    @staticmethod
    def phases(spans, n_ops: int) -> dict:
        t = _layer_seconds(spans)
        return {
            "dedup_docs_per_s": DedupAnn.N_TEXTS * n_ops / t["operators.dedup"],
            "ann_queries_per_s": DedupAnn.N_QUERIES * n_ops / t["operators.similarity"],
        }


def _layer_seconds(spans) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + s.duration
    return out


WORKLOADS = {w.name: w for w in (IngestJoin, QueryMix, DedupAnn)}
