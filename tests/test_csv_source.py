"""CSV sources: driver-side header read and per-file lineage."""

from __future__ import annotations

import csv
from pathlib import Path

import pytest

from etl_python_sqlite_spark.sources.csv import (
    list_csv_files,
    read_csv_all_string,
    read_csv_directory,
)


def _write(path: Path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with path.open("w", newline="", encoding="utf-8") as f:
        csv.writer(f).writerows(rows)


def _inferring_read(spark, path: Path):
    """Spark deriving the column names from the header itself."""
    return spark.read.option("header", True).option("nullValue", "\x00\x00").csv(str(path))


@pytest.mark.parametrize(
    "header",
    [
        ["nombre", "edad", "ciudad"],
        ["nombre", "edad", "", "ciudad", ""],          # empty cells
        ["nombre", "edad", "nombre", "ciudad"],        # exact duplicate
        ["Edad", "nombre", "edad", "ciudad"],          # duplicate up to case
        ["a", "", "a", "", "A"],                       # both at once
    ],
)
def test_header_names_match_inferring_read(spark, tmp_path, header):
    path = tmp_path / "h.csv"
    _write(path, [header, [f"v{i}" for i in range(len(header))], ["x"]])
    got = read_csv_all_string(spark, path)
    want = _inferring_read(spark, path)
    assert got.columns == want.columns
    assert got.collect() == want.collect()


def test_header_edge_files_match_inferring_read(spark, tmp_path):
    """UTF-8 BOM, header-only and zero-byte files."""
    bom = tmp_path / "bom.csv"
    bom.write_bytes("\ufeffnombre,edad,ciudad\nAna,30,Lima\n".encode("utf-8"))
    only = tmp_path / "only.csv"
    only.write_text("nombre,edad,ciudad\n", encoding="utf-8")
    zero = tmp_path / "zero.csv"
    zero.write_text("", encoding="utf-8")
    for path in (bom, only, zero):
        got, want = read_csv_all_string(spark, path), _inferring_read(spark, path)
        assert got.columns == want.columns, path.name
        assert got.collect() == want.collect(), path.name


def test_directory_read_decodes_source_file_names(spark, tmp_path):
    """``input_file_name()`` is a %-escaped URI; ``source_file`` must carry
    the file's real name (space, ``+``, ``%`` and non-ASCII kept)."""
    names = ["a b+\u00f1%20.csv", "100%.csv", "x+y.csv", "ciudad \u00e9 \u00fc.csv"]
    for n in names:
        _write(tmp_path / n, [["nombre", "edad", "ciudad"], ["Ana", "30", "Lima"]])
    frames = read_csv_directory(spark, list_csv_files(tmp_path))
    assert len(frames) == 1
    got = {r["source_file"] for r in frames[0].select("source_file").collect()}
    assert got == set(names)


def test_directory_read_binds_each_header_by_name(spark, tmp_path):
    """One read per distinct header: a reordered or shorter header keeps
    its values under the right column names."""
    _write(tmp_path / "a.csv", [["nombre", "edad", "ciudad"], ["Ana", "30", "Lima"]])
    _write(tmp_path / "b.csv", [["ciudad", "nombre", "edad"], ["Quito", "Eva", "41"]])
    _write(tmp_path / "c.csv", [["nombre", "edad"], ["Rui", "52"]])
    rows = {}
    for df in read_csv_directory(spark, list_csv_files(tmp_path)):
        for r in df.collect():
            rows[r["source_file"]] = r.asDict()
    assert rows["a.csv"]["ciudad"] == "Lima"
    assert (rows["b.csv"]["nombre"], rows["b.csv"]["edad"], rows["b.csv"]["ciudad"]) == (
        "Eva", "41", "Quito",
    )
    assert "ciudad" not in rows["c.csv"]
