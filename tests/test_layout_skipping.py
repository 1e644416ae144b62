"""Storage-layout scale check: a SURT-sorted parquet layout produces
tight, disjoint row-group min/max statistics on the sort key — the
property that lets engines (Spark parquet filter pushdown, DuckDB zone
maps) skip row groups on host-range predicates at corpus scale, which
is exactly why public crawl indexes cluster by SURT."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from crystal_html5_spark.sparkjob.session import get_spark
from crystal_html5_spark.sparkjob.warcio import surt_key


@pytest.fixture(scope="module")
def spark():
    s = get_spark("layout-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def _urls(n):
    return [f"https://host{i % 97}.example/p/{i}" for i in range(n)]


def _write(path, urls, sort):
    keys = [surt_key(u) for u in urls]
    rows = sorted(zip(keys, urls)) if sort else list(zip(keys, urls))
    t = pa.table({
        "surt": pa.array([k for k, _ in rows], pa.string()),
        "url": pa.array([u for _, u in rows], pa.string()),
    })
    pq.write_table(t, path, row_group_size=100)
    return path


def _group_ranges(path):
    md = pq.read_metadata(path)
    out = []
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(0).statistics
        out.append((st.min, st.max))
    return out


def test_sorted_layout_has_disjoint_rowgroup_stats(tmp_path):
    urls = _urls(2000)
    sorted_p = _write(tmp_path / "sorted.parquet", urls, sort=True)
    shuffled_p = _write(tmp_path / "shuffled.parquet", urls, sort=False)

    sr = _group_ranges(str(sorted_p))
    ur = _group_ranges(str(shuffled_p))
    assert len(sr) >= 10

    # sorted: consecutive groups' ranges are non-overlapping
    for (lo1, hi1), (lo2, hi2) in zip(sr, sr[1:]):
        assert hi1 <= lo2
    # a single-host range predicate overlaps few groups when sorted,
    # (nearly) all groups when shuffled
    probe = "example,host42)"
    hit_sorted = sum(1 for lo, hi in sr if lo <= probe + "\xff" and hi >= probe)
    hit_shuffled = sum(1 for lo, hi in ur if lo <= probe + "\xff" and hi >= probe)
    assert hit_sorted <= 2
    assert hit_shuffled >= len(ur) - 1


def test_spark_pushes_surt_filter_to_scan(spark, tmp_path):
    path = _write(tmp_path / "sorted.parquet", _urls(2000), sort=True)
    df = spark.read.parquet(str(path)).filter(
        "surt >= 'example,host42)' AND surt < 'example,host42*'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(surt" in plan
    assert df.count() > 0

