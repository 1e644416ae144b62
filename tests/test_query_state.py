"""No query reads or leaves hidden session state.  Intermediate frames
are bound as ``spark.sql`` arguments, so a session that ran the queries
holds only the five sf TABLES views; and ``load_views`` re-registers
those on every call, so a view a caller registered under one of their
names never reaches a query."""

import os

import duckdb
import pytest

pytest.importorskip("pyspark")

import __spark_entry__ as entrymod  # noqa: E402
from crystal_html5_spark.sparkjob.queries import (  # noqa: E402
    TABLES,
    load_views,
)
from crystal_html5_spark.sparkjob.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"
SF_LARGER = os.path.join(os.path.dirname(SF), "sf0.01")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("query-state-tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


def test_queries_leave_only_the_table_views(spark):
    q = entrymod.queries()
    for name in ("extract_line_dedup", "extract_anchor_texts",
                 "docs_curation_verdict", "extract_content_blocks",
                 "extract_near_dups"):
        q[name](spark, SF).count()
    names = {t.name for t in spark.catalog.listTables()}
    assert names <= set(TABLES), sorted(names - set(TABLES))


def _oracle(name, sf):
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM"
                f" read_parquet('{sf}/documents.parquet')")
    return sorted(con.execute(entrymod.oracle_sql()[name]).fetchall())


def test_two_sessions_interleaved(spark):
    """Frames built on two sessions at two scale factors, all four built
    before any is collected, each equal their own oracle."""
    other = spark.newSession()
    names = ("docs_dedup_exact", "extract_anchor_texts")
    frames = [(name, sf, entrymod.queries()[name](session, sf))
              for session, sf in ((spark, SF), (other, SF_LARGER))
              for name in names]
    for name, sf, frame in frames:
        assert sorted(map(tuple, frame.collect())) == _oracle(name, sf), \
            (name, sf)


def test_a_foreign_documents_view_never_reaches_a_query(spark):
    load_views(spark, SF)
    spark.read.parquet(f"{SF}/documents.parquet").limit(3) \
        .createOrReplaceTempView("documents")
    got = entrymod.queries()["docs_dedup_exact"](spark, SF).collect()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM"
                f" read_parquet('{SF}/documents.parquet')")
    want = con.execute(entrymod.oracle_sql()["docs_dedup_exact"]).fetchall()
    assert sorted(map(tuple, got)) == sorted(want)
