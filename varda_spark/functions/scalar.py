"""Scalar function surface (SURVEY.md §2.H) — all pure Column expressions.

Everything here stays inside whole-stage codegen: no Python UDFs. These are
the building blocks the reference exposes as `varda/utils.py` helpers plus
the general string/date/array/json surface implied by its API serializers.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def digest(col: Column | str) -> Column:
    """Content digest (reference: SHA1 file checksums for duplicate-import
    rejection, varda/utils.py digest [P]). Engine uses sha1; note DuckDB
    oracles use md5 (DuckDB 1.0 lacks sha1) — same dedup semantics."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha1(c.cast("binary"))


def md5_digest(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("binary"))


def json_int(col: Column | str, path: str) -> Column:
    """Extract an int field from a JSON string column (events.props)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, path).cast("bigint")
