"""The io seam: one code path for table reads and the idempotent sink,
backend-selected at runtime (Iceberg when the runtime jar exists,
parquet + key anti-join otherwise)."""

from __future__ import annotations

import re

import pytest

pyspark = pytest.importorskip("pyspark")

from crystal_html5_spark.sparkjob import io as tableio  # noqa: E402
from crystal_html5_spark.sparkjob.extract_job import (  # noqa: E402
    run_extract,
    write_with_lineage,
)
from crystal_html5_spark.sparkjob.pages import pages_df  # noqa: E402
from crystal_html5_spark.sparkjob.session import get_spark  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    s = get_spark("io-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def test_is_table_identifier():
    assert tableio.is_table_identifier("iceberg.crawl.pages")
    assert tableio.is_table_identifier("db.pages")
    # Bare relative names are PATHS: a plain-filesystem dest like "out"
    # must never reach spark.read.table / writeTo.
    assert not tableio.is_table_identifier("pages")
    assert not tableio.is_table_identifier("out")
    assert not tableio.is_table_identifier("/data/pages.parquet")
    assert not tableio.is_table_identifier("build/pages.parquet")
    assert not tableio.is_table_identifier("rel/path/dir")
    assert not tableio.is_table_identifier("pages.parquet")


def test_merge_into_sql():
    sql = tableio.merge_into_sql("cat.db.extracted", "_incoming")
    assert sql == (
        "MERGE INTO cat.db.extracted t USING _incoming s "
        "ON t.url = s.url AND t.warc_ts = s.warc_ts "
        "WHEN NOT MATCHED THEN INSERT *"
    )


class _Recorder:
    """Minimal fake SparkSession for dispatch tests.  A table exists
    when ``table_exists`` says so or once ``created`` names it."""

    def __init__(self, table_exists=True):
        rec = self

        class _Read:
            def table(self, name):
                rec.calls.append(("table", name))
                return "TABLE_DF"

            def parquet(self, path):
                rec.calls.append(("parquet", path))
                return "PARQUET_DF"

        class _Catalog:
            def tableExists(self, name):
                return table_exists or name in rec.created

        self.calls: list = []
        self.created: set = set()
        self.read = _Read()
        self.catalog = _Catalog()

    def sql(self, q):
        self.calls.append(("sql", q))


def test_read_table_dispatch(monkeypatch):
    monkeypatch.setattr(tableio, "iceberg_available", lambda _s: True)
    rec = _Recorder()
    assert tableio.read_table(rec, "cat.db.pages") == "TABLE_DF"
    assert tableio.read_table(rec, "/tmp/x.parquet") == "PARQUET_DF"
    assert rec.calls == [("table", "cat.db.pages"),
                         ("parquet", "/tmp/x.parquet")]


def test_catalog_branch_needs_iceberg(monkeypatch):
    """Without the Iceberg runtime, even a qualified identifier falls
    back to the parquet layout — all branches gate on use_catalog so
    no read/sink pair can split across backends."""
    monkeypatch.setattr(tableio, "iceberg_available", lambda _s: False)
    rec = _Recorder()
    assert tableio.read_table(rec, "cat.db.pages") == "PARQUET_DF"
    assert rec.calls == [("parquet", "cat.db.pages")]


def test_iceberg_absent_in_this_container(spark):
    # The container has no iceberg-spark-runtime; the seam must say so
    # (and therefore route writes down the parquet branch).
    assert tableio.iceberg_available(spark) is False


def test_write_extracted_merge_branch(monkeypatch):
    """With Iceberg present and a table-identifier dest, the sink is one
    MERGE INTO keyed on (url, warc_ts)."""
    monkeypatch.setattr(tableio, "iceberg_available", lambda _s: True)
    outer = _Recorder(table_exists=True)   # driver session (foreachBatch)
    batch = _Recorder(table_exists=True)   # per-micro-batch cloned session

    class _FakeDF:
        sparkSession = batch  # frames carry their own (cloned) session

        def withColumn(self, _name, _value):
            return self  # the seam's batch_ts stamp

        def createOrReplaceTempView(self, name):
            batch.calls.append(("view", name))

        def filter(self, _cond):
            return self  # the read-back of the merged batch

    batch.read.table = lambda name: (batch.calls.append(("table", name))
                                     or _FakeDF())
    tableio.write_extracted(outer, _FakeDF(), "cat.db.extracted")
    # The temp view and the MERGE must both run on the FRAME's session
    # (foreachBatch clone), never the captured outer session, or the
    # view is invisible to the sql.
    assert outer.calls == []
    assert batch.calls == [
        ("view", "_incoming_extracted"),
        ("sql", tableio.merge_into_sql("cat.db.extracted",
                                       "_incoming_extracted")),
        ("table", "cat.db.extracted"),
    ]


def _iceberg_lineage_calls(monkeypatch, table_exists):
    """The calls write_with_lineage makes on an Iceberg dest, after the
    batch_ts stamp and with the read-back's filter taken out."""
    from crystal_html5_spark.sparkjob import extract_job

    monkeypatch.setattr(tableio, "iceberg_available", lambda _s: True)
    rec = _Recorder(table_exists=table_exists)
    dest = "cat.db.extracted"

    class _Frame:
        sparkSession = rec

        def __init__(self, name):
            self.name = name

        def withColumn(self, col, value):
            rec.calls.append(("stamp", self.name, col, str(value)))
            return self

        def createOrReplaceTempView(self, view):
            rec.calls.append(("view", self.name, view))

        def filter(self, cond):
            rec.calls.append(("filter", self.name, str(cond)))
            return self

        def writeTo(self, table):
            rec.calls.append(("writeTo", self.name, table))
            self.table = table
            return self

        def create(self):
            rec.calls.append(("create", self.name))
            rec.created.add(self.table)

        def append(self):
            rec.calls.append(("append", self.name))

    def metrics_of(frame):
        rec.calls.append(("metrics of", frame.name))
        return _Frame("metrics")

    rec.read.table = lambda name: (rec.calls.append(("table", name))
                                   or _Frame(name))
    monkeypatch.setattr(extract_job, "partition_metrics", metrics_of)
    write_with_lineage(_Frame("extracted"), dest)

    (_, _, col, stamp), *rest = rec.calls
    literal = stamp[len("Column<'"):-len("'>")]
    assert col == "batch_ts"
    assert re.fullmatch(r"\d{4}-\d\d-\d\d \d\d:\d\d:\d\d(\.\d+)?", literal)
    (_, table, cond) = rest.pop(3)
    assert table == dest and "batch_ts" in cond and literal in cond
    return dest, rest


def test_iceberg_lineage_reads_back_the_merged_batch(spark, monkeypatch):
    """On Iceberg, write_with_lineage runs the MERGE, then reads the table
    back filtered on the batch_ts the MERGE stamped, then appends the
    metrics of that read-back to ``<dest>_metrics``.  The extracted frame
    is only stamped and merged, never run a second time: the fake frame
    has no method that would execute it."""
    dest, rest = _iceberg_lineage_calls(monkeypatch, table_exists=True)
    assert rest == [
        ("view", "extracted", "_incoming_extracted"),
        ("sql", tableio.merge_into_sql(dest, "_incoming_extracted")),
        ("table", dest),
        ("metrics of", dest),
        ("writeTo", "metrics", f"{dest}_metrics"),
        ("append", "metrics"),
    ]


def test_iceberg_lineage_creates_both_tables_on_a_first_run(spark,
                                                            monkeypatch):
    """A first run against a catalog creates the sink table and then the
    metrics table: ``DataFrameWriterV2.append`` fails on a table that
    does not exist yet."""
    dest, rest = _iceberg_lineage_calls(monkeypatch, table_exists=False)
    assert rest == [
        ("writeTo", "extracted", dest),
        ("create", "extracted"),
        ("table", dest),
        ("metrics of", dest),
        ("writeTo", "metrics", f"{dest}_metrics"),
        ("create", "metrics"),
    ]


def test_only_an_absent_or_empty_sink_reads_as_nothing_done(spark, tmp_path):
    """No directory, or one without a data file, is "nothing done"; a
    corrupt part file is an error, not an empty sink that would let the
    next batch append everything with no key anti-join."""
    dest = str(tmp_path / "out")
    assert tableio.read_done_keys(spark, dest) is None
    sink = tmp_path / "out" / "extracted"
    sink.mkdir(parents=True)
    (sink / "_SUCCESS").write_bytes(b"")
    assert tableio.read_done_keys(spark, dest) is None
    (sink / "part-00000-x-c000.snappy.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="FAILED_READ_FILE|not a Parquet"):
        tableio.read_done_keys(spark, dest)


def test_parquet_sink_idempotent(spark, tmp_path):
    """Re-delivering the same extracted batch writes zero new rows, and a
    half-overlapping batch writes only the new keys."""
    dest = str(tmp_path / "out")
    pages = pages_df(spark, 60)
    out = run_extract(spark, pages, num_partitions=4)

    write_with_lineage(out, dest)
    first = spark.read.parquet(f"{dest}/extracted")
    n1 = first.count()
    assert n1 > 0
    # The seam stamps batch_ts for EVERY writer (batch job and both
    # streaming sink variants), so one dest never mixes schemas.
    assert "batch_ts" in first.columns

    # Same batch again: idempotent, no duplicates.
    write_with_lineage(out, dest)
    assert spark.read.parquet(f"{dest}/extracted").count() == n1

    # Superset batch: only the genuinely new urls land.
    bigger = run_extract(spark, pages_df(spark, 90), num_partitions=4)
    write_with_lineage(bigger, dest)
    n3 = spark.read.parquet(f"{dest}/extracted").count()
    assert n3 == bigger.count()
    urls = [r["url"] for r in
            spark.read.parquet(f"{dest}/extracted").select("url").collect()]
    assert len(urls) == len(set(urls))


def test_resume_path_uses_done_keys(spark, tmp_path):
    """run_extract(done_keys=...) + the sink together: a resumed run
    parses only the missing pages and the final table is complete."""
    dest = str(tmp_path / "out")
    pages = pages_df(spark, 80)
    first_half = pages.limit(40)
    write_with_lineage(run_extract(spark, first_half, num_partitions=4),
                       dest)
    done = tableio.read_done_keys(spark, dest)
    assert done is not None
    resumed = run_extract(spark, pages, num_partitions=4, done_keys=done)
    write_with_lineage(resumed, dest)
    total = spark.read.parquet(f"{dest}/extracted")
    full = run_extract(spark, pages, num_partitions=4)
    assert total.count() == full.count()
    assert total.select("url").distinct().count() == total.count()


def test_compact_latest_keeps_only_latest_capture(spark, tmp_path):
    """Compaction collapses recrawls to the latest capture per url,
    leaves the metrics side table untouched, and re-runs are no-ops."""
    import datetime as dt

    from crystal_html5_spark.sparkjob import io as tableio

    dest = str(tmp_path / "tbl")
    sch = ("url string, warc_ts timestamp, text binary, batch string")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    t1 = dt.datetime(2024, 1, 1, 1, 0, 0)
    b1 = spark.createDataFrame(
        [("u1", t0, b"old1", "b1"), ("u2", t0, b"only", "b1")], sch)
    b2 = spark.createDataFrame([("u1", t1, b"new1", "b2")], sch)
    tableio.write_extracted(spark, b1, dest)
    tableio.write_extracted(spark, b2, dest)
    assert spark.read.parquet(f"{dest}/extracted").count() == 3

    kept = tableio.compact_latest(spark, dest)
    assert kept == 2
    rows = {r["url"]: (r["warc_ts"], bytes(r["text"]))
            for r in spark.read.parquet(f"{dest}/extracted").collect()}
    assert rows == {"u1": (t1, b"new1"), "u2": (t0, b"only")}
    assert tableio.compact_latest(spark, dest) == 2  # idempotent
    # the sink remains idempotent against already-compacted keys
    tableio.write_extracted(spark, b2, dest)
    assert spark.read.parquet(f"{dest}/extracted").count() == 2


def test_compact_latest_one_selection_on_both_backends(spark, tmp_path,
                                                      monkeypatch):
    """The parquet branch selects the kept rows with one SQL text over
    its frame; the Iceberg branch, which cannot run here, must issue one
    CREATE OR REPLACE TABLE ... AS that embeds that same text."""
    import datetime as dt

    dest = str(tmp_path / "tbl")
    b = spark.createDataFrame([("u1", dt.datetime(2024, 1, 1), b"a")],
                              "url string, warc_ts timestamp, text binary")
    tableio.write_extracted(spark, b, dest)
    columns = spark.read.parquet(f"{dest}/extracted").columns
    ran = []
    real_sql = spark.sql

    def spy(text, *args, **kwargs):
        ran.append(text)
        return real_sql(text, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", spy)
    assert tableio.compact_latest(spark, dest) == 1
    (select,) = ran
    assert "ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC," \
        " batch_ts DESC)" in select

    class _Table:
        def __init__(self):
            self.columns = columns

        def count(self):
            return 1

    monkeypatch.setattr(tableio, "iceberg_available", lambda _s: True)
    rec = _Recorder()
    monkeypatch.setattr(rec.read, "table", lambda _name: _Table())
    assert tableio.compact_latest(rec, "cat.db.extracted") == 1
    assert rec.calls == [("sql", "CREATE OR REPLACE TABLE cat.db.extracted"
                          " AS " + select.format(t="cat.db.extracted"))]


def test_compact_latest_heals_interrupted_swap(spark, tmp_path):
    """A crash between the two renames (live dir moved aside, new one
    not yet in place) is healed on the next call; remote-looking dests
    are rejected loudly."""
    import datetime as dt
    import os

    from crystal_html5_spark.sparkjob import io as tableio

    dest = str(tmp_path / "tbl")
    sch = "url string, warc_ts timestamp, text binary"
    t0 = dt.datetime(2024, 1, 1)
    b = spark.createDataFrame(
        [("u1", t0, b"a"), ("u1", dt.datetime(2024, 1, 2), b"b")], sch)
    tableio.write_extracted(spark, b, dest)
    # simulate the torn state: live dir renamed aside, swap incomplete
    os.rename(f"{dest}/extracted", f"{dest}/extracted.old")
    kept = tableio.compact_latest(spark, dest)
    assert kept == 1
    rows = spark.read.parquet(f"{dest}/extracted").collect()
    assert len(rows) == 1 and bytes(rows[0]["text"]) == b"b"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        tableio.compact_latest(spark, "s3a://bucket/out")
