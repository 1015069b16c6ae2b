"""Correctness gate: every benchmark query against an independent truth.

Each query's output is compared with a truth computed on the same seeded
inputs, outside the timed region:

* ``duckdb:<name>`` — the repository's DuckDB twin (an ``oracle_sql``
  entry of ``__spark_entry__`` or an operator's ``*_sql`` function),
  evaluated over DuckDB views that replicate the base parquet with the
  seed's offsets exactly as the Spark side does;
* ``planted`` — duplicate pairs the generator planted (see :mod:`gen`),
  for the LSH queries whose hash family has no DuckDB twin;
* ``pip`` — ``ocgis_spark.geo.geometry.points_in_polygon`` over the
  corpus coordinates, for the checkpointed tile write.

Outputs are compared as order-insensitive fingerprints: the row count,
a sum of 32-bit md5 slices over the non-float columns (so a changed,
missing or extra row changes it) and a sum per float column within a
relative tolerance. Both engines compute the fingerprint themselves, so
only a handful of numbers leave each.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import workloads as W

FLOAT_TYPES = ("double", "float")


@dataclass
class Check:
    query: str
    truth: str
    ok: bool
    detail: str = ""


def spark_fingerprint(df, keys, floats) -> tuple:
    from pyspark.sql import functions as F

    key = F.concat_ws("|", *[F.col(k).cast("string") for k in keys])
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    sums = [F.sum(F.col(f).cast("double")) for f in floats]
    row = df.agg(F.count(F.lit(1)), F.sum(h), *sums).collect()[0]
    return (int(row[0]), int(row[1] or 0),
            *[float(x) if x is not None else 0.0 for x in row[2:]])


def duck_fingerprint(con, sql: str, keys, floats) -> tuple:
    key = ", ".join(f"CAST({k} AS VARCHAR)" for k in keys)
    parts = ["count(*)",
             f"sum(CAST(('0x' || substr(md5(concat_ws('|', {key})), 1, 8)) "
             f"AS BIGINT))"]
    parts += [f"sum(CAST({f} AS DOUBLE))" for f in floats]
    row = con.execute(f"SELECT {', '.join(parts)} FROM ({sql}) t").fetchone()
    return (int(row[0]), int(row[1] or 0),
            *[float(x) if x is not None else 0.0 for x in row[2:]])


def same(a: tuple, b: tuple) -> bool:
    if a[:2] != b[:2] or len(a) != len(b):
        return False
    return all(math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6 * max(1, a[0]))
               for x, y in zip(a[2:], b[2:]))


def split_columns(df) -> tuple[list[str], list[str]]:
    """(non-float columns, float columns) of ``df``."""
    types = dict(df.dtypes)
    keys = [c for c in df.columns if types[c] not in FLOAT_TYPES]
    return keys, [c for c in df.columns if types[c] in FLOAT_TYPES]


def _sub(sql: str, old: str, new: str) -> str:
    """Substitute one parameter in a twin's SQL; fail loudly on drift."""
    if sql.count(old) != 1:
        raise ValueError(f"expected one {old!r} in the twin SQL")
    return sql.replace(old, new)


def _bilinear_sql(n: int = 1_000_000) -> str:
    """DuckDB twin of ``bench_extra``'s ``bilinear_1M`` destination points
    through the clamped bilinear stencil of ``regrid.bilinear_regrid``."""
    from ocgis_spark.fixtures import DOC_GRID as g

    def v(sid):
        return f"CAST((({sid}) * 31) % 97 AS DOUBLE)"

    s00 = "j0 * 64 + i0"
    return (
        f"WITH d AS (SELECT range AS dst_id, "
        f"{g.lon0!r} + CAST(range % 997 AS DOUBLE) / 997.0E0 * {g.lon1 - g.lon0!r} AS x, "
        f"{g.lat0!r} + CAST(range % 991 AS DOUBLE) / 991.0E0 * {g.lat1 - g.lat0!r} AS y "
        f"FROM range({n})), "
        f"gg AS (SELECT dst_id, (x - ({g.lon0!r})) / {g.res!r} - 0.5E0 AS gx, "
        f"(y - ({g.lat0!r})) / {g.res!r} - 0.5E0 AS gy FROM d), "
        f"p AS (SELECT dst_id, gx, gy, "
        f"CAST(least(greatest(floor(gx), 0), {g.nx - 2}) AS INT) AS i0, "
        f"CAST(least(greatest(floor(gy), 0), {g.ny - 2}) AS INT) AS j0 FROM gg), "
        f"q AS (SELECT dst_id, i0, j0, least(greatest(gx - i0, 0.0E0), 1.0E0) AS fx, "
        f"least(greatest(gy - j0, 0.0E0), 1.0E0) AS fy FROM p) "
        f"SELECT dst_id, "
        f"(1.0E0 - fx) * (1.0E0 - fy) * {v(s00)} + fx * (1.0E0 - fy) * {v(s00 + ' + 1')} "
        f"+ (1.0E0 - fx) * fy * {v(s00 + ' + 64')} + fx * fy * {v(s00 + ' + 65')} "
        f"AS dst_value FROM q"
    )


def _specs():
    """query -> (truth, connection name, duck SQL thunk, spark projection)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from ocgis_spark import fixtures as FX
    from ocgis_spark.operators import crs
    from ocgis_spark.operators import gridstats as GS
    from ocgis_spark.operators import text as textops
    from ocgis_spark.operators import urls as urlops

    O = E.oracle_sql()

    def sel(*cols):
        return lambda df: df.select(*cols)

    def rot_sql():
        glon, glat = crs.rotated_pole_sql(
            "(lon + 103.5)", "(lat - 38.5)", -162.0, 39.25)
        return (f"SELECT doc_id, {glon} AS glon, {glat} AS glat "
                f"FROM ({FX.docs_geo_sql()}) dg")

    r6 = lambda c: F.round(c, 6).alias(c)  # noqa: E731
    return {
        "flagship_join_tiles": (
            "duckdb:pipeline_flagship", "corpus",
            lambda: f"SELECT doc_uid, cell_id, tile_id FROM ({O['pipeline_flagship']})",
            sel("doc_uid", "cell_id", "tile_id")),
        "bbox_subset": ("duckdb:bbox_subset", "corpus",
                        lambda: O["bbox_subset"],
                        sel("doc_id", "lon", "lat", "cell_id")),
        "clip_cells": ("duckdb:clip_cells", "corpus", lambda: O["clip_cells"],
                       sel("cell_y", "cell_x", "clip_area")),
        "nonconvex_subset": ("duckdb:nonconvex_intersects", "corpus",
                             lambda: O["nonconvex_intersects"],
                             sel("doc_id", "cell_id")),
        "zrange_subset_scaled": (
            "duckdb:zrange_subset", "corpus",
            lambda: ("SELECT concat('doc', CAST(doc_id AS VARCHAR)) AS doc_uid "
                     f"FROM ({O['zrange_subset']})"),
            sel("doc_uid")),
        "knn_point": (
            "duckdb:knn_point", "corpus",
            lambda: _sub(O["knn_point"], "WHERE rn <= 5", "WHERE rn <= 8"),
            lambda df: df.select("cell_y", "cell_x",
                                 F.round("dist", 9).alias("dist"), "rank")),
        "knn_join_batch": (
            "duckdb:knn_join", "corpus",
            lambda: _sub(O["knn_join"], "doc_id < 10)", "doc_id < 1000)"),
            lambda df: df.select("qid", "cell_y", "cell_x",
                                 F.round("dist", 9).alias("dist"), "rank")),
        "tile_source_assign": ("duckdb:tile_source_assign", "corpus",
                               lambda: O["tile_source_assign"],
                               sel("cell_y", "cell_x", "tile_id")),
        "rotated_pole_transform": ("duckdb:crs.rotated_pole_sql", "corpus",
                                   rot_sql, sel("doc_id", "glon", "glat")),
        "nonuniform_encode_subset": ("duckdb:bbox_subset_nonuniform", "corpus",
                                     lambda: O["bbox_subset_nonuniform"],
                                     sel("doc_id", "vcx", "vcy")),
        "bilinear_1M": ("duckdb:bilinear_stencil", "corpus", _bilinear_sql,
                        sel("dst_id", "dst_value")),
        "url_canon_scaled": ("duckdb:urls.url_canon_sql", "corpus",
                             lambda: urlops.url_canon_sql(),
                             sel("doc_id", "canon_url", "domain")),
        "pii_scan_scaled": (
            "duckdb:pii_scan", "corpus",
            lambda: _sub(O["pii_scan"], f"{FX.pii_text_expr()} AS t",
                         "text AS t"),
            sel("doc_id", "n_emails", "n_ssns", "n_phones", "redacted")),
        "lm_score": ("duckdb:text.lm_score_sql", "raw",
                     lambda: textops.lm_score_sql(), None),
        "similarity_topk": (
            "duckdb:similarity_topk", "raw",
            lambda: _sub(O["similarity_topk"], "vec_id < 10", "vec_id < 20"),
            lambda df: df.select("query_id", "vec_id",
                                 F.round("cos", 6).alias("cos"), "rank")),
        "mobility_dwell_od": ("duckdb:od_flows", "corpus",
                              lambda: O["od_flows"], None),
        "spacetime_scan_scaled": (
            "duckdb:gridstats.spacetime_scan_sql", "corpus",
            lambda: GS.spacetime_scan_sql(
                FX.events_geo_sql(), cell_deg=5.0, lat0=-65.0, lat1=65.0,
                t0_us=1_704_067_200_000_000, bin_us=172_800_000_000,
                n_bins=15, w_max=4, min_count=5, llr_min=2.0),
            None),
        "autocorr_p_scaled": ("duckdb:global_autocorr_p", "corpus",
                              lambda: O["global_autocorr_p"], None),
        "set_functions": (
            "duckdb:set_functions", "raw", lambda: O["set_functions"],
            lambda df: df.select("user_id", r6("mean"), "min", "max",
                                 r6("sum"), r6("std"), r6("median"), "n")),
        "moving_window": ("duckdb:moving_window", "raw",
                          lambda: O["moving_window"],
                          lambda df: df.select("event_id", r6("mw"))),
    }


def planted_check(query: str, df, n_docs: int) -> Check:
    """``minhash_dedup`` must return exactly the planted pairs and
    ``ingest_screen`` exactly their odd (probe-side) members."""
    import gen

    pairs = gen.planted_pairs(n_docs)
    if query == "minhash_dedup":
        want = sorted(pairs)
        got = sorted((int(r["doc_a"]), int(r["doc_b"]))
                     for r in df.select("doc_a", "doc_b").collect())
    else:
        want = sorted(b for _, b in pairs)
        got = sorted(int(r["doc_id"]) for r in df.select("doc_id").collect())
    missing = sorted(set(want) - set(got))[:5]
    extra = sorted(set(got) - set(want))[:5]
    return Check(query, "planted", got == want,
                 f"{len(got)} vs {len(want)}; missing {missing} extra {extra}")


class Gate:
    """Holds the two DuckDB connections (replicated views and raw base
    tables) for one seeded context and checks queries against them."""

    def __init__(self, ctx):
        import duckdb

        self.ctx = ctx
        base = ctx.sf_dir
        docs = f"{base}/documents.parquet"
        events = f"{base}/events.parquet"
        self.cons = {"corpus": duckdb.connect(), "raw": duckdb.connect()}
        for con in self.cons.values():
            con.execute("SET threads TO 2")
            con.execute("SET TimeZone = 'UTC'")
        c = self.cons["corpus"]
        c.execute("CREATE VIEW documents AS "
                  + W.duck_documents_sql(docs, ctx.off.doc))
        c.execute("CREATE VIEW events AS " + W.duck_events_sql(events))
        r = self.cons["raw"]
        r.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
        r.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
        r.execute("CREATE VIEW embeddings AS SELECT * FROM "
                  f"read_parquet('{base}/embeddings.parquet')")
        self.specs = _specs()

    def close(self) -> None:
        for con in self.cons.values():
            con.close()

    def check_queries(self, builds) -> list[Check]:
        """Check ``(query, build)`` pairs, ``build()`` returning the
        query's DataFrame. The DuckDB truths run on a background thread
        while Spark computes the fingerprints of the answers."""
        from concurrent.futures import ThreadPoolExecutor

        checks, pending = [], []
        with ThreadPoolExecutor(1) as pool:
            for query, build in builds:
                try:
                    df = build()
                    if query in ("minhash_dedup", "ingest_screen"):
                        checks.append(planted_check(query, df, W.SIZES.n_docs))
                        continue
                    truth, con, sql, proj = self.specs[query]
                    out = proj(df) if proj else df
                    keys, floats = split_columns(out)
                    want = pool.submit(duck_fingerprint, self.cons[con], sql(),
                                       keys, floats)
                    got = spark_fingerprint(out, keys, floats)
                    pending.append((query, truth, got, want))
                except Exception as exc:  # the run reports it as a failure
                    checks.append(
                        Check(query, "error", False, repr(exc)[:500]))
            for query, truth, got, want in pending:
                try:
                    w = want.result()
                    checks.append(Check(query, truth, same(got, w),
                                        f"got {got} want {w}"))
                except Exception as exc:
                    checks.append(Check(query, truth, False, repr(exc)[:500]))
        return checks

    def check_tiles(self, st: dict) -> list[Check]:
        """The checkpoint/resume invariants of one ``tile_write_resume``
        pass (``TileWriteResume.state``)."""
        from pyspark.sql import functions as F

        import numpy as np

        from ocgis_spark import fixtures as FX
        from ocgis_spark.geo.geometry import points_in_polygon

        cp, spark = st["cp"], self.ctx.spark
        out = []
        resumed = sorted(st["second"]["processed"])
        out.append(Check("resume", "dropped tiles", resumed == st["dropped"],
                         f"rewrote {resumed} dropped {st['dropped']}"))
        manifest = {r["tile_id"]: r["rows"] for r in cp.records()}
        lo, hi = st["range"]
        want = {t: n for t, n in manifest.items() if lo <= t <= hi}
        out.append(Check("readback", "manifest", st["readback"] == want,
                         f"read {st['readback']} manifest {want}"))
        # the whole manifest against PIP over the corpus coordinates
        pts = self.cons["corpus"].execute(
            f"SELECT lon, lat, cell_y, cell_x FROM ({FX.docs_geo_sql()}) g"
        ).fetchnumpy()
        inside = points_in_polygon(pts["lon"], pts["lat"],
                                   [FX.QUERY_PENTAGON])
        tile = ((pts["cell_y"] // W.TDIM) * (64 // W.TDIM)
                + pts["cell_x"] // W.TDIM)[inside]
        ids, counts = np.unique(tile, return_counts=True)
        pip = {int(t): int(n) for t, n in zip(ids, counts)}
        out.append(Check("write", "pip", manifest == pip,
                         f"manifest {len(manifest)} tiles, pip {len(pip)}"))
        # resumed output == one uninterrupted write of the same stage
        from ocgis_spark.checkpoint import CheckpointManager

        fresh = CheckpointManager(cp.root + "-fresh")
        fresh.run_stage(spark, st["tiled"], lineage=st["lineage"])

        def fp(path):
            return tuple(spark.read.parquet(path).agg(
                F.count(F.lit(1)),
                F.expr("bit_xor(xxhash64("
                       "doc_uid, cell_id, tile_id, span_sig))"),
            ).collect()[0])
        a, b = fp(cp.data_dir), fp(fresh.data_dir)
        out.append(Check("fingerprint", "uninterrupted write", a == b,
                         f"resumed {a} fresh {b}"))
        return out
