"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship HTML-extraction pipeline on a deterministic
Common-Crawl-style pages table (seed 42) scaled to sf0.001.

queries()/oracle_sql(): operator surface per SURVEY.md §2 — relational
core, training-data ops (dedup/minhash/lang-id/fingerprint/quality),
similarity search over embeddings, and the HTML tokenizer/tree/CSS/XPath
extraction pipeline.  Every query carries an oracle; the extraction
queries' oracles read frozen parquets of the in-process engine's output.
"""

from __future__ import annotations

import os
import pathlib
import sys
from collections.abc import Callable

# Make the package importable for this process AND for executor Python
# workers (which inherit PYTHONPATH), wherever the harness runs from.
_REPO = str(pathlib.Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
if _REPO not in os.environ.get("PYTHONPATH", ""):
    os.environ["PYTHONPATH"] = (
        _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)

from pyspark.sql import DataFrame, SparkSession

from crystal_html5_spark.sparkjob import queries as Q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize pages at sf0.001 scale, run the full
    dedup -> salted-repartition -> mapInArrow extraction pipeline."""
    return Q.QUERIES["extract_pages"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(Q.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(Q.ORACLES)
