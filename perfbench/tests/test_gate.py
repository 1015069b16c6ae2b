"""The correctness gate accepts a true answer and catches perturbed ones."""

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import gen
import truth


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    """A small seeded documents table, geo-located on both engines."""
    from ocgis_spark import fixtures as FX

    path = str(tmp_path_factory.mktemp("base") / "documents.parquet")
    table = gen.documents(3, gen.Sizes(n_docs=400))
    pq.write_table(pa.Table.from_pandas(table, preserve_index=False), path)
    spark.read.parquet(path).createOrReplaceTempView("documents")
    dg = spark.sql(FX.docs_geo_sql())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{path}')")
    yield dg, con
    con.close()


def _bbox(dg):
    from ocgis_spark import fixtures as FX
    from ocgis_spark.operators import spatial

    return spatial.bbox_filter(dg, FX.QUERY_RECT).select(
        "doc_id", "lon", "lat", "cell_id")


def _check(df, con):
    """The gate's comparison: both engines fingerprint their answer."""
    import __spark_entry__ as E

    keys, floats = truth.split_columns(df)
    got = truth.spark_fingerprint(df, keys, floats)
    want = truth.duck_fingerprint(con, E.oracle_sql()["bbox_subset"], keys,
                                  floats)
    return truth.Check("bbox_subset", "duckdb:bbox_subset",
                       truth.same(got, want), f"got {got} want {want}")


def test_gate_accepts_the_true_answer(docs):
    dg, con = docs
    chk = _check(_bbox(dg), con)
    assert chk.ok, chk.detail


PERTURBATIONS = {
    "row dropped": lambda df, k: df.filter(F.col("doc_id") != k),
    "row duplicated": lambda df, k: df.union(df.filter(F.col("doc_id") == k)),
    "key changed": lambda df, k: df.withColumn(
        "cell_id", F.when(F.col("doc_id") == k, F.col("cell_id") + 1)
        .otherwise(F.col("cell_id"))),
    "float nudged": lambda df, k: df.withColumn(
        "lon", F.when(F.col("doc_id") == k, F.col("lon") + 1e-3)
        .otherwise(F.col("lon"))),
}


@pytest.mark.parametrize("name", sorted(PERTURBATIONS))
def test_gate_catches_a_perturbed_answer(docs, name):
    dg, con = docs
    out = _bbox(dg)
    victim = out.agg(F.min("doc_id")).collect()[0][0]
    chk = _check(PERTURBATIONS[name](out, victim), con)
    assert not chk.ok


def test_planted_check(spark):
    pairs = gen.planted_pairs(400)
    schema = "doc_a long, doc_b long"
    ok = truth.planted_check("minhash_dedup",
                             spark.createDataFrame(pairs, schema), 400)
    assert ok.ok, ok.detail
    short = truth.planted_check("minhash_dedup",
                                spark.createDataFrame(pairs[1:], schema), 400)
    assert not short.ok
    hits = [(b,) for _, b in pairs] + [(2,)]
    extra = truth.planted_check(
        "ingest_screen", spark.createDataFrame(hits, "doc_id long"), 400)
    assert not extra.ok


def test_planted_pairs_are_duplicates():
    table = gen.documents(5, gen.Sizes(n_docs=200))
    pairs = gen.planted_pairs(200)
    assert len(pairs) == 10
    for a, b in pairs:
        assert table.text[a] == table.text[b]
