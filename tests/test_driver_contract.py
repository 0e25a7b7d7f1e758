"""The driver contract of ``__spark_entry__.py``, pinned without Spark:
the 157 query names and the byte-exact DuckDB oracle texts.  An oracle
text built from an operator's constant changes here when the constant
drifts."""

from __future__ import annotations

import hashlib
import json

import __spark_entry__ as entry

QUERY_NAMES_SHA256 = "970d8894150e9b0005a2c2916623e6632631351a5002b07cd54ac8a54561af26"
ORACLE_SQL_SHA256 = "105a74fd3dab4a70cc6b7d3048e0fb51e7eff3e699dde3d26d80839f451b0d56"


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_query_names_and_oracle_texts_are_pinned():
    names = sorted(entry.queries())
    oracles = entry.oracle_sql()
    assert len(names) == 157
    assert _sha256("\n".join(names)) == QUERY_NAMES_SHA256
    assert sorted(oracles) == names
    assert _sha256(json.dumps(oracles, sort_keys=True)) == ORACLE_SQL_SHA256
