"""Name-search and catalog operators — SURVEY §2 F4/A6/J9/U4."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def wildcard_match(pattern: str, name_col: str = "pvname") -> Column:
    """F4's predicate: ``name_col`` LIKE ``pattern`` with '*' as '%'
    (ref epicsarchiver/web/WebAdmin.py:56-57)."""
    return F.col(name_col).like(pattern.replace("*", "%"))


def wildcard_search(frame: DataFrame, pattern: str, name_col: str = "pvname") -> DataFrame:
    """F4 — '*' wildcard name search, ordered by name."""
    return frame.filter(wildcard_match(pattern, name_col)).orderBy(name_col)


def distinct_names(frame: DataFrame, name_col: str = "pvname") -> DataFrame:
    """A6 — distinct series names (ref epicsarchiver/cache.py:160-169)."""
    return frame.select(name_col).distinct().orderBy(name_col)


def missing_names(candidates: DataFrame, known: DataFrame, name_col: str = "pvname") -> DataFrame:
    """J9/U4 — add-if-missing anti-join: candidate names absent from the
    catalog (ref epicsarchiver/archiver.py:423-425, cache.py:497-511)."""
    return candidates.join(known.select(name_col), name_col, "left_anti")
