"""Scalar function layer (SURVEY.md §2.8, F1-F15).

Every helper returns a Column built purely from ``pyspark.sql.functions`` —
JVM-side, codegen-friendly, no Python in the hot path.  Reference anchors in
docstrings point at the azanium Python these replace.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def url_host(url: Column | str) -> Column:
    """F1: URL host extraction (``/root/reference/src/azanium/util.py:102-114``
    ``split_ftp_url``)."""
    return F.parse_url(F.col(url) if isinstance(url, str) else url, F.lit("HOST"))


def url_path(url: Column | str) -> Column:
    """F1: URL path extraction (``util.py:102-114``)."""
    return F.parse_url(F.col(url) if isinstance(url, str) else url, F.lit("PATH"))


def path_segments(path: Column | str) -> Column:
    """P4+F1: split path on '/' dropping empties
    (``util.py:113`` ``filter(None, pr.path.rsplit('/', 2))``)."""
    c = F.col(path) if isinstance(path, str) else path
    return F.filter(F.split(c, "/"), lambda s: s != F.lit(""))


def release_name_from_models_path(path: Column | str) -> Column:
    """F2: regex capture of the release from a models filename,
    ``models\\.wrm\\.(.+)`` (``util.py:251-265``)."""
    c = F.col(path) if isinstance(path, str) else path
    return F.regexp_extract(c, r"models\.wrm\.(.+)$", 1)


def strip_gz_suffix(name: Column | str) -> Column:
    """F3: strip a trailing ``.gz`` (``runcommand.py:53-55``)."""
    c = F.col(name) if isinstance(name, str) else name
    return F.regexp_replace(c, r"\.gz$", "")


def rjust(col: Column | str, width: int) -> Column:
    """F5: right-justify pad for table cells (``util.py:96``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lpad(c, width, " ")


def basename(path: Column | str) -> Column:
    """F7: ``os.path.basename`` analog (``install.py:144-147``)."""
    c = F.col(path) if isinstance(path, str) else path
    return F.substring_index(c, "/", -1)


def splitext_stem(name: Column | str) -> Column:
    """F7: filename stem (``runcommand.py:55`` splitext)."""
    c = F.col(name) if isinstance(name, str) else name
    return F.regexp_replace(c, r"\.[^./]+$", "")


def iso_date(ts: Column | str) -> Column:
    """F8: ISO date stamp (``runcommand.py:232``)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(c, "yyyy-MM-dd")


def gib_floor(nbytes: Column | str) -> Column:
    """F10: bytes → whole GiB (``util.py:281-283``)."""
    c = F.col(nbytes) if isinstance(nbytes, str) else nbytes
    return F.floor(c / F.pow(F.lit(2), F.lit(30))).cast("long")


def pct_of(col: Column | str, pct: float) -> Column:
    """F10: percentage sizing (``util.py:281-283`` 75%-of-free-RAM)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(pct / 100.0), 0).cast("long")


def within_len(col: Column | str, max_len: int) -> Column:
    """F11: length guard (``notifications.py:117`` ``len(v) <= 120``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c) <= max_len


def to_json_payload(*cols) -> Column:
    """F14: struct → JSON (the Slack payload pattern,
    ``notifications.py:36-56``)."""
    return F.to_json(F.struct(*cols))


def parse_bool(col: Column | str) -> Column:
    """F15: boolean parse (``install.py:39`` ``as_bool``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c)).isin("1", "true", "yes", "on")
