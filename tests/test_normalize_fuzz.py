"""Fuzz the exact-Python-semantics normalization against Python itself.

One generated corpus (unicode letters, digits, punctuation, whitespace,
accents, apostrophes, empty-ish strings), one Spark job per function —
every row's output must equal the corresponding Python string method.
"""

from __future__ import annotations

import random
import string

import pytest
from pyspark.sql import functions as F

from etl_python_sqlite_spark.functions.normalize import (
    py_capitalize,
    py_title,
    sanitize_token,
    strict_int,
)

ALPHABETS = [
    string.ascii_lowercase,
    string.ascii_uppercase,
    "áéíóúñüçàâêîôûäöß",
    "0123456789",
    " \t",
    "'-_.,;:!()",
    "абвгдежз",   # cyrillic letters
    "中文字符",     # CJK (uncased letters)
]


def _rand_string(rng: random.Random) -> str:
    n = rng.randrange(0, 24)
    return "".join(
        rng.choice(rng.choice(ALPHABETS)) for _ in range(n)
    )


def _rand_intish(rng: random.Random) -> str:
    choices = [
        lambda: str(rng.randrange(-10**9, 10**9)),
        lambda: f" {rng.randrange(0, 999)} ",
        lambda: f"+{rng.randrange(0, 999)}",
        lambda: f"{rng.randrange(0, 999)}.{rng.randrange(0, 99)}",
        lambda: _rand_string(rng),
        lambda: "",
        lambda: f"{rng.randrange(0,99)}e{rng.randrange(0,5)}",
        lambda: f"0x{rng.randrange(0,255):x}",
    ]
    return rng.choice(choices)()


@pytest.fixture(scope="module")
def corpus():
    rng = random.Random(1234)
    strings = [_rand_string(rng) for _ in range(400)]
    intish = [_rand_intish(rng) for _ in range(400)]
    return strings, intish


def _batch_eval(spark, values, expr):
    df = spark.createDataFrame([(v,) for v in values], "v: string")
    return [r["out"] for r in df.select(expr.alias("out")).collect()]


def test_fuzz_capitalize(spark, corpus):
    strings, _ = corpus
    got = _batch_eval(spark, strings, py_capitalize("v"))
    for raw, g in zip(strings, got):
        assert g == raw.strip().lower().capitalize(), repr(raw)


def test_fuzz_title(spark, corpus):
    strings, _ = corpus
    got = _batch_eval(spark, strings, py_title("v"))
    for raw, g in zip(strings, got):
        assert g == raw.strip().lower().title(), repr(raw)


def test_fuzz_strict_int(spark, corpus):
    _, intish = corpus
    got = _batch_eval(spark, intish, strict_int("v", "long"))
    for raw, g in zip(intish, got):
        try:
            expected = int(raw)
        except ValueError:
            expected = None
        assert g == expected, repr(raw)


def test_strict_int_rejects_information_separators(spark):
    """``str.strip()`` removes \\x1c-\\x1f but ``int()`` rejects them, so
    these must be NULL, not 0/0/12; the other whitespace still strips."""
    cases = ["0\x1f", "0\x1c", "\x1e12", "\x1d", " 7\u3000", "\xa0-3\t"]
    got = _batch_eval(spark, cases, strict_int("v", "long"))
    assert got == [None, None, None, None, 7, -3]
    for raw, g in zip(cases, got):
        try:
            expected = int(raw)
        except ValueError:
            expected = None
        assert g == expected, repr(raw)


def test_fuzz_sanitize(spark, corpus):
    strings, _ = corpus
    got = _batch_eval(spark, strings, sanitize_token("v"))
    for raw, g in zip(strings, got):
        expected = "".join(ch if ch.isalnum() else "_" for ch in raw)
        assert g == expected, repr(raw)


# ---------------------------------------------------------------------------
# hypothesis property tests: shrinkable unicode edge-case generation on top
# of the fixed-corpus fuzz above (one Spark job per example — examples kept
# low, each carrying a 40-string batch)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# BMP chars; exclude surrogates (invalid in parquet/UTF-8 transport) and
# unassigned codepoints (Cn): chars unassigned in CPython's Unicode table
# but assigned in the JVM's newer one (e.g. U+A7DA) case-map differently
# by construction — outside the parity contract (see normalize.py
# docstring "Contract boundary")
_txt = st.text(
    alphabet=st.characters(
        max_codepoint=0xFFFF, exclude_categories=("Cs", "Cn")
    ),
    max_size=24,
)
_batch = st.lists(_txt, min_size=1, max_size=40)

_hyp = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(strings=_batch)
@_hyp
def test_hypothesis_capitalize(spark, strings):
    got = _batch_eval(spark, strings, py_capitalize("v"))
    for raw, g in zip(strings, got):
        assert g == raw.strip().lower().capitalize(), repr(raw)


@given(strings=_batch)
@_hyp
def test_hypothesis_title(spark, strings):
    got = _batch_eval(spark, strings, py_title("v"))
    for raw, g in zip(strings, got):
        assert g == raw.strip().lower().title(), repr(raw)


@given(strings=_batch)
@_hyp
def test_hypothesis_strict_int(spark, strings):
    got = _batch_eval(spark, strings, strict_int("v", "long"))
    for raw, g in zip(strings, got):
        try:
            expected = int(raw)
        except ValueError:
            expected = None
        assert g == expected, repr(raw)
