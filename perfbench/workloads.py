"""The four benchmark workloads and the seedable context they read.

Query builders come from ``bench_extra._builders()`` — the one registry of
bench queries — and receive a :class:`BenchCtx`, which carries the same
attributes as ``bench_extra.Ctx`` (``spark``, ``sf_dir``, ``dg``,
``ev_geo``, ``docs_raw``, ``lsh_idx``) but is built from the seeded base
tables in :mod:`gen` and is released between set-ups.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np

import gen

#: base-table copies in the replicated document corpus and event stream
DOC_REPL = 16
EV_REPL = 6
SIZES = gen.Sizes()
N_CORPUS = SIZES.n_docs * DOC_REPL
N_EV_REPL = SIZES.n_events * EV_REPL
TDIM = 16


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    #: query -> ocgis_spark module its time is attributed to
    modules: dict
    needs: tuple[str, ...]
    input_rows: int
    #: typical warm pass time at local[4]; fixes the timed pass count
    nominal_pass_s: float

    def passes(self, seconds: float) -> int:
        """Timed passes in a run of ``seconds``. The count depends only on
        ``seconds``, so every run of a workload times the same passes and
        the JIT's warm-up trend over them cancels between runs."""
        return max(2, round(seconds / self.nominal_pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "subset_tile",
            ("flagship_join_tiles", "bbox_subset", "clip_cells",
             "nonconvex_subset", "zrange_subset_scaled", "knn_point",
             "knn_join_batch", "tile_source_assign", "rotated_pole_transform",
             "nonuniform_encode_subset", "bilinear_1M"),
            {"flagship_join_tiles": "spatial", "bbox_subset": "spatial",
             "clip_cells": "spatial", "nonconvex_subset": "spatial",
             "zrange_subset_scaled": "spatial", "knn_point": "knn",
             "knn_join_batch": "knn", "tile_source_assign": "tiling",
             "rotated_pole_transform": "crs",
             "nonuniform_encode_subset": "vectorgrid",
             "bilinear_1M": "regrid"},
            ("dg",),
            N_CORPUS,
            2.5,
        ),
        Workload(
            "text_dedup",
            ("url_canon_scaled", "pii_scan_scaled", "minhash_dedup",
             "ingest_screen", "lm_score", "similarity_topk"),
            {"url_canon_scaled": "urls", "pii_scan_scaled": "text",
             "minhash_dedup": "dedup", "ingest_screen": "dedup",
             "lm_score": "text", "similarity_topk": "similarity"},
            ("dg", "lsh_idx"),
            N_CORPUS + SIZES.n_docs + SIZES.n_vecs,
            2.9,
        ),
        Workload(
            "mobility_stats",
            ("mobility_dwell_od", "spacetime_scan_scaled", "autocorr_p_scaled",
             "set_functions", "moving_window"),
            {"mobility_dwell_od": "trajectory",
             "spacetime_scan_scaled": "gridstats",
             "autocorr_p_scaled": "gridstats", "set_functions": "temporal",
             "moving_window": "windows"},
            ("ev_geo",),
            N_EV_REPL + SIZES.n_events,
            3.4,
        ),
        Workload(
            "tile_write_resume",
            ("fingerprint", "write", "resume", "readback"),
            {"fingerprint": "checkpoint", "write": "checkpoint",
             "resume": "checkpoint", "readback": "checkpoint"},
            ("corpus_parquet",),
            N_CORPUS,
            1.0,
        ),
    )
}


def replicate_docs(spark, docs, n: int, repl: int, offset: int):
    """``bench.scaled_docs``'s broadcast cross-join, with the seed's id
    offset added to every copy but the first."""
    from pyspark.sql import functions as F

    copy = F.col("copy")
    return (
        spark.range(repl).withColumnRenamed("id", "copy")
        .crossJoin(F.broadcast(docs))
        .withColumn("doc_id", F.col("doc_id") + copy * F.lit(n)
                    + F.when(copy > 0, F.lit(offset)).otherwise(F.lit(0)))
        .drop("copy")
    )


def duck_documents_sql(base_path: str, offset: int) -> str:
    """The DuckDB twin of :func:`replicate_docs` over the same parquet."""
    n = SIZES.n_docs
    return (
        f"SELECT doc_id + copy * {n} + CASE WHEN copy > 0 THEN {offset} "
        f"ELSE 0 END AS doc_id, text, lang, source, n_chars "
        f"FROM (SELECT range AS copy FROM range({DOC_REPL})) r "
        f"CROSS JOIN read_parquet('{base_path}')"
    )


def duck_events_sql(base_path: str) -> str:
    """The DuckDB twin of ``fixtures.replicate_events``."""
    n = SIZES.n_events
    return (
        f"SELECT event_id + copy * {n} AS event_id, ts, "
        f"user_id + copy * 1000000 AS user_id, event_type, value, props "
        f"FROM (SELECT range AS copy FROM range({EV_REPL})) r "
        f"CROSS JOIN read_parquet('{base_path}')"
    )


class BenchCtx:
    """Seedable stand-in for ``bench_extra.Ctx``: the same attributes,
    built eagerly by :meth:`build` and dropped by :meth:`release`."""

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.sf_dir = os.path.join(work_dir, "base")
        self.corpus_dir = os.path.join(work_dir, "corpus")
        self.off = gen.Offsets.from_seed(seed)
        self.dg = self.ev_geo = self.docs_raw = self.lsh_idx = None
        self._pinned = []

    def _pin(self, df):
        df = df.persist()
        df.write.format("noop").mode("overwrite").save()
        self._pinned.append(df)
        return df

    def build(self, needs) -> None:
        from pyspark.sql import functions as F

        from ocgis_spark import fixtures as FX
        from ocgis_spark import spans as SP
        from ocgis_spark.operators import dedup

        gen.write_tables(self.sf_dir, self.seed, SIZES)
        spark = self.spark
        self.docs_raw = spark.read.parquet(f"{self.sf_dir}/documents.parquet")
        if "dg" in needs:
            replicate_docs(spark, self.docs_raw, SIZES.n_docs, DOC_REPL,
                           self.off.doc).createOrReplaceTempView("documents")
            self.dg = self._pin(SP.with_spans(spark.sql(FX.docs_geo_sql())))
        if "lsh_idx" in needs:
            self.lsh_idx = self._pin(dedup.lsh_band_index(
                self.docs_raw.filter(F.col("doc_id") % 2 == 0), "text"))
        if "ev_geo" in needs:
            ev, _ = FX.replicate_events(spark, self.sf_dir, EV_REPL)
            self.ev_geo = self._pin(ev)
        if "corpus_parquet" in needs:
            shutil.rmtree(self.corpus_dir, ignore_errors=True)
            replicate_docs(spark, self.docs_raw, SIZES.n_docs, DOC_REPL,
                           self.off.doc).write.parquet(self.corpus_dir)

    def release(self) -> None:
        for df in self._pinned:
            df.unpersist(blocking=True)
        self._pinned = []
        self.dg = self.ev_geo = self.lsh_idx = None


class TileWriteResume:
    """``jobs/run_pipeline.py``'s chain through the public functions:
    fingerprint -> pentagon subset -> destination tiles -> checkpointed
    write; then a seed-chosen quarter of the tiles is dropped from the
    manifest and the stage resumed; then a tile range is read back.

    ``step(name)`` builds the step's callable (the plan phase) and the
    callable runs it (the exec phase), so the driver times both like any
    other query."""

    def __init__(self, ctx: BenchCtx, pass_label: str):
        self.ctx = ctx
        self.root = os.path.join(ctx.work_dir, "tiles", pass_label)
        self.state: dict = {}

    def _docs(self):
        from ocgis_spark import fixtures as FX

        spark = self.ctx.spark
        spark.read.parquet(self.ctx.corpus_dir).createOrReplaceTempView(
            "documents")
        return spark.sql(FX.docs_geo_sql())

    def step(self, name: str):
        """The callable that runs step ``name``, after planning it."""
        return getattr(self, f"_{name}")()

    def _fingerprint(self):
        from ocgis_spark.checkpoint import lineage_fingerprint

        # one pass's tiles on disk at a time
        shutil.rmtree(os.path.dirname(self.root), ignore_errors=True)
        dg = self._docs()

        def run():
            self.state["lineage"] = lineage_fingerprint(dg.select("doc_id"),
                                                        ["doc_id"])
        return run

    def _write(self):
        from ocgis_spark import fixtures as FX
        from ocgis_spark import spans as SP
        from ocgis_spark.checkpoint import CheckpointManager
        from ocgis_spark.fixtures import DOC_GRID
        from ocgis_spark.operators import spatial, tiling

        st, spark = self.state, self.ctx.spark
        sub = spatial.spatial_subset(
            spark, SP.with_spans(self._docs()), DOC_GRID,
            [FX.QUERY_PENTAGON], operation="intersects", abstraction="point")
        st["tiled"] = tiling.assign_dest_tiles(sub, DOC_GRID, TDIM).select(
            "doc_uid", "cell_id", "tile_id",
            SP.span_signature_fast().alias("span_sig"))
        st["cp"] = CheckpointManager(self.root)

        def run():
            st["first"] = st["cp"].run_stage(spark, st["tiled"],
                                             lineage=st["lineage"])
        return run

    def _resume(self):
        st = self.state
        cp = st["cp"]
        tiles = st["first"]["processed"]
        rng = np.random.default_rng([self.ctx.seed, 11])
        st["dropped"] = sorted(int(t) for t in rng.choice(
            tiles, size=max(1, len(tiles) // 4), replace=False))
        keep = [r for r in cp.records() if r["tile_id"] not in st["dropped"]]
        for name in os.listdir(cp.manifest_dir):
            os.remove(os.path.join(cp.manifest_dir, name))
        with open(os.path.join(cp.manifest_dir, "commit-0.jsonl"), "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in keep)

        def run():
            st["second"] = cp.run_stage(self.ctx.spark, st["tiled"],
                                        lineage=st["lineage"])
        return run

    def _readback(self):
        from pyspark.sql import functions as F

        st = self.state
        tiles = st["first"]["processed"]
        lo, hi = tiles[len(tiles) // 4], tiles[(3 * len(tiles)) // 4]
        st["range"] = (lo, hi)
        df = (self.ctx.spark.read.parquet(st["cp"].data_dir)
              .filter(F.col("tile_id").between(lo, hi))
              .groupBy("tile_id").count())

        def run():
            st["readback"] = {int(r["tile_id"]): int(r["count"])
                              for r in df.collect()}
        return run
