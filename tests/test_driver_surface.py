"""The driver surface stays put: ``queries()`` keeps its keys in order and
every ``oracle_sql()`` text keeps its bytes.

``tests/fixtures/driver_surface.json`` holds the key list, the sha256 of
each oracle text and the two whole-surface digests.  Oracle texts that
name frozen parquets embed the repo path, which is written as ``<REPO>``
so the digests do not depend on where the checkout lives.  A change that
means to move the surface must update the fixture in the same commit."""

import hashlib
import json
from pathlib import Path

import pytest

pytest.importorskip("pyspark")

import __spark_entry__ as entrymod  # noqa: E402
from crystal_html5_spark.sparkjob import queries  # noqa: E402

FIXTURE = Path(__file__).parent / "fixtures" / "driver_surface.json"


@pytest.fixture(scope="module")
def surface():
    return json.loads(FIXTURE.read_text())


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def _oracles() -> dict:
    root = str(Path(queries.__file__).resolve().parents[2])
    return {k: v.replace(root, "<REPO>")
            for k, v in entrymod.oracle_sql().items()}


def test_query_keys_keep_their_order(surface):
    keys = list(entrymod.queries())
    assert keys == surface["keys"]
    assert _sha("\n".join(keys)) == surface["keys_sha256"]


def test_oracle_texts_are_byte_identical(surface):
    oracles = _oracles()
    assert {k: _sha(v) for k, v in oracles.items()} == \
        surface["oracle_sha256"]
    assert list(oracles) == list(surface["oracle_sha256"])
    assert list(entrymod.oracle_sql()) == list(entrymod.queries())
    assert _sha(json.dumps(oracles)) == surface["oracles_sha256"]
