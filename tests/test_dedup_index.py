"""Incremental band-index maintenance: ingesting a corpus in two
snapshots must (a) index every doc exactly once, (b) leave the index
bit-compatible with the batch band derivation, and (c) report, across
ingests, exactly the batch candidate-pair set."""

import pytest

from crystal_html5_spark.sparkjob.dedup_index import index_path, ingest
from crystal_html5_spark.sparkjob.queries import (
    _docs_near_dup_pairs_sql,
    load_views,
)
from crystal_html5_spark.sparkjob.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("dedup-index-tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


def test_two_snapshot_ingest_matches_batch(spark, tmp_path):
    corpus = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    # a too-short doc (no bands) exercises the sentinel path: it must
    # be indexed as SEEN, not re-hashed on every later ingest
    short = spark.createDataFrame([(999_999, "one two")],
                                  "doc_id long, text string")
    docs = corpus.union(short)
    half = corpus.count() // 2
    first = docs.filter(f"doc_id < {half}")
    idx = str(tmp_path / "index")

    p1 = {(r.doc_a, r.doc_b, r.n_bands_agree)
          for r in ingest(spark, first, idx).collect()}
    # re-ingesting the SAME snapshot is a no-op for the index and
    # reports nothing new-doc-related
    p1_again = ingest(spark, first, idx).collect()
    assert p1_again == []
    p2 = {(r.doc_a, r.doc_b, r.n_bands_agree)
          for r in ingest(spark, docs, idx).collect()}

    load_views(spark, SF)
    batch = {(r.doc_a, r.doc_b, r.n_bands_agree)
             for r in spark.sql(_docs_near_dup_pairs_sql("spark"))
             .collect()}
    assert p1 | p2 == batch
    # no pair may be reported by BOTH ingests (re-reporting snapshot-1
    # pairs during snapshot-2 would double-count downstream)
    assert p1.isdisjoint(p2)

    # index contents == batch band derivation over the full corpus
    import os

    got_all = spark.read.parquet(os.path.join(index_path(idx), "delta-*"))
    # the short doc is indexed via its sentinel row (band_no = -1)
    assert got_all.filter("doc_id = 999999 AND band_no = -1").count() == 1
    got = got_all.filter("band_no >= 0")
    corpus.createOrReplaceTempView("documents")
    from crystal_html5_spark.sparkjob.queries import _mh_prefix
    want = spark.sql(_mh_prefix("spark", with_bands=True)
                     + " SELECT doc_id, band_no, band_key FROM bands")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_one_snapshot_of_the_whole_corpus(spark, tmp_path):
    """The delta's content key sums one 56-bit int per doc, which a
    BIGINT sum overflows past ~128 docs: the whole 500-doc corpus in
    one ingest must still report exactly the batch pair set."""
    corpus = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    got = {(r.doc_a, r.doc_b, r.n_bands_agree)
           for r in ingest(spark, corpus, str(tmp_path / "index"))
           .collect()}
    load_views(spark, SF)
    batch = {(r.doc_a, r.doc_b, r.n_bands_agree)
             for r in spark.sql(_docs_near_dup_pairs_sql("spark"))
             .collect()}
    assert got == batch
