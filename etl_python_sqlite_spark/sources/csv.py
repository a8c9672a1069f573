"""CSV sources with csv.DictReader parity (all-string schema-on-read).

The reference reads CSVs with ``csv.DictReader`` — every value a string,
header-driven columns (reference scr/etl_from_csv.py:9-12). The header is
read on the driver with ``csv.reader``, the reference's own parser, and
handed to Spark as an all-string schema: Spark then skips the header line
and binds columns by position, with no schema-inference job per read.
"""

from __future__ import annotations

import csv
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: DictReader yields '' for an empty field and None only for fields missing
#: from a short row. Spark's default nullValue="" would turn empty fields
#: into null and misroute them to the None-validation reject branch, so we
#: point nullValue at a sentinel that never occurs in real data; short rows
#: still yield genuine nulls.
_NULL_SENTINEL = "\x00\x00"


def _csv_header(path: str | Path) -> list[str]:
    """The first record of ``path``, parsed with ``csv.reader``; [] for an
    empty file. ``utf-8-sig``: Spark's reader drops a UTF-8 BOM too."""
    with open(path, newline="", encoding="utf-8-sig") as fh:
        return next(csv.reader(fh), [])


def _spark_column_names(header: list[str], case_sensitive: bool) -> list[str]:
    """The column names Spark's CSV reader gives ``header`` (its
    ``makeSafeHeader``): an empty cell becomes ``_c<i>``, and every cell
    of a duplicated name (compared case-insensitively unless
    ``case_sensitive``) gets its index appended."""

    def key(name: str) -> str:
        return name if case_sensitive else name.lower()

    seen: dict[str, int] = {}
    for h in header:
        if h:
            seen[key(h)] = seen.get(key(h), 0) + 1
    return [
        f"_c{i}" if not h
        else f"{h}{i}" if seen[key(h)] > 1
        else h
        for i, h in enumerate(header)
    ]


def _read(spark: SparkSession, paths: list[str], header: list[str]) -> DataFrame:
    case_sensitive = spark.conf.get("spark.sql.caseSensitive", "false") == "true"
    schema = T.StructType(
        [T.StructField(n, T.StringType()) for n in _spark_column_names(header, case_sensitive)]
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("nullValue", _NULL_SENTINEL)
        .csv(paths)
    )


def read_csv_all_string(spark: SparkSession, path: str | Path) -> DataFrame:
    """One CSV file → all-string DataFrame (DictReader semantics)."""
    return _read(spark, [str(path)], _csv_header(path))


def source_file_name() -> Column:
    """The name of the file a row was read from. ``input_file_name()`` is a
    URI, so the name arrives %-escaped (``a b.csv`` → ``a%20b.csv``);
    decode it as ``urllib.parse.unquote`` does, keeping ``+`` a plus
    (``url_decode`` alone would turn it into a space)."""
    escaped = F.element_at(F.split(F.input_file_name(), "/"), -1)
    return F.url_decode(F.regexp_replace(escaped, r"\+", "%2B"))


def read_csv_directory(spark: SparkSession, files: list[Path]) -> list[DataFrame]:
    """Multi-file scans with per-file lineage in a ``source_file`` column:
    one read per distinct header, so each file's columns bind by its own
    header. The scan parallelizes across files; ``source_file`` preserves
    the reference's per-file audit granularity (scr/etl_batch.py:183-195)
    without a driver-side loop.
    """
    groups: dict[tuple[str, ...], list[str]] = {}
    for f in files:
        groups.setdefault(tuple(_csv_header(f)), []).append(str(f))
    return [
        _read(spark, paths, list(header)).withColumn("source_file", source_file_name())
        for header, paths in groups.items()
    ]


def list_csv_files(data_in: str | Path) -> list[Path]:
    """Sorted enumeration — reference scr/etl_batch.py:175."""
    return sorted(Path(data_in).glob("*.csv"))
