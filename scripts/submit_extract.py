#!/usr/bin/env python
"""spark-submit entry point for the extraction job (north_star: deployed
via spark-submit --py-files at N and 4N executors).

Usage:
    python scripts/package_pyfiles.py             # build build/html5x.zip
    spark-submit --master local[8] \
        --py-files build/html5x.zip \
        scripts/submit_extract.py \
        --pages <pages parquet> --out <output dir> [--resume]
"""

from __future__ import annotations

import argparse
import os
import pathlib
import sys

# Importable both under spark-submit --py-files AND as a plain
# `python scripts/submit_extract.py` from a checkout (sys.path[0] is
# scripts/, not the repo root).  Executors inherit PYTHONPATH.
_REPO = str(pathlib.Path(__file__).resolve().parents[1])
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
if _REPO not in os.environ.get("PYTHONPATH", ""):
    os.environ["PYTHONPATH"] = (
        _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True,
                    help="pages parquet/table, or a directory of"
                         " .warc(.gz) segments with --warc")
    ap.add_argument("--out", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--salt", type=int, default=None)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--warc", action="store_true",
                    help="read --pages as WARC segments (gz members ok;"
                         " damaged segments salvage)")
    ap.add_argument("--wet-out", default=None,
                    help="also emit extracted text as .warc.wet.gz"
                         " segments (one per partition) to this dir")
    ap.add_argument("--warc-out", default=None,
                    help="also re-emit the input captures as indexed"
                         " .warc.gz segments with sorted CDXJ sidecars"
                         " (range-readable archive layout) to this dir")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("html5x-extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from crystal_html5_spark.sparkjob import io as tableio
    from crystal_html5_spark.sparkjob.extract_job import (
        run_extract,
        write_with_lineage,
    )

    if args.warc:
        from crystal_html5_spark.sparkjob.warcio import read_warc_pages

        pages = read_warc_pages(spark, args.pages)
    else:
        pages = tableio.read_pages(spark, args.pages)
    done = tableio.read_done_keys(spark, args.out) if args.resume else None
    out = run_extract(
        spark, pages, num_partitions=args.partitions, salt=args.salt,
        done_keys=done,
    )
    write_with_lineage(out, args.out)
    if args.wet_out:
        import shutil

        from pyspark.sql import functions as F

        from crystal_html5_spark.sparkjob.warcio import write_wet_sink

        # WET segments are a SNAPSHOT of the full extracted table (read
        # back from the sink just written — no second parse, no cache):
        # deriving them from `out` would write delta-only segments on a
        # --resume run while stale full segments from earlier runs
        # linger beside them.  Error rows (err != '') stay in the
        # parquet table for triage but are not text — they would be
        # indistinguishable from genuinely empty documents in WET.
        full = tableio.read_extracted(spark, args.out) \
            .filter(F.col("err") == "")
        shutil.rmtree(args.wet_out, ignore_errors=True)
        write_wet_sink(full, args.wet_out, gz=True)
    if args.warc_out:
        import shutil

        from crystal_html5_spark.sparkjob.warcio import (
            write_warc_sink_indexed,
        )

        # every capture (no dedup): an archive keeps all of them and
        # the CDXJ sidecars disambiguate by timestamp
        shutil.rmtree(args.warc_out, ignore_errors=True)
        write_warc_sink_indexed(
            pages.select("url", "warc_ts", "html"), args.warc_out,
            gz=True)
    rows = tableio.read_extracted(spark, args.out)
    n = rows.count() if rows is not None else 0
    print(f"extracted_total={n}")
    spark.stop()


if __name__ == "__main__":
    main()
