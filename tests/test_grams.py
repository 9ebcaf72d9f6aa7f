"""The word and n-gram rules live in tokens_ts/grams.py only.

`test_no_hand_built_words_or_grams` keeps the engine from growing its
own copies back; the others pin gram_key's width and null rules and
its use across id types.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from tokens_ts.grams import gram_key

PKG = Path(__file__).resolve().parent.parent / "tokens_ts"
# grams.py holds the one copy; queries_data.py holds the oracle SQL
SKIP = {"grams.py", "queries_data.py"}
COPIES = ("F.split(F.trim(", '"array<struct<a:int,b:int>>"')


def _sql_strings(tree):
    """String literals passed to F.expr(...), f-string parts included."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and getattr(node.func, "attr", "") == "expr":
            for arg in node.args:
                for sub in ast.walk(arg):
                    if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                        yield sub.value


def test_no_hand_built_words_or_grams():
    found = []
    for path in sorted(PKG.glob("*.py")):
        if path.name in SKIP:
            continue
        src = path.read_text()
        found += [(path.name, c) for c in COPIES for _ in range(src.count(c))]
        found += [
            (path.name, "F.expr(... sequence( ...)")
            for s in _sql_strings(ast.parse(src))
            if "sequence(" in s
        ]
    assert not found, f"use tokens_ts.grams instead: {found}"


def _keys(spark, ddl, rows, n, width=None):
    df = spark.createDataFrame([(r,) for r in rows], f"t {ddl}")
    dtype = df.schema["t"].dataType.elementType
    return [
        [tuple(k) for k in r["k"]] if r["k"] is not None else None
        for r in df.select(gram_key(F.col("t"), n, dtype, width).alias("k")).collect()
    ]


def test_gram_key_width_follows_element_type(spark):
    """int ids pack two to a bigint field (ceil(n/2) fields), bigint
    ids take one field each; positions past n read 0; a row shorter
    than n has no keys, a null row stays null, and a null id (how
    callers mark PAD) nulls only its own field."""
    lo = 0xFFFFFFFF
    assert _keys(spark, "array<int>", [[1, -1, 2], [5], None], 2) == [
        [((1 << 32) | lo,), ((-1 << 32) | 2,)],
        [],
        None,
    ]
    assert _keys(spark, "array<int>", [[1, 2, 3]], 3) == [[((1 << 32) | 2, 3 << 32)]]
    assert _keys(spark, "array<int>", [[1, 2]], 1, width=4) == [
        [(1 << 32, 0), (2 << 32, 0)]
    ]
    big = (1 << 40) + 7
    assert _keys(spark, "array<bigint>", [[big, 7, -big]], 2) == [
        [(big, 7), (7, -big)]
    ]
    assert _keys(spark, "array<bigint>", [[1, None, 2]], 2) == [
        [(1, None), (None, 2)]
    ]
    with pytest.raises(TypeError):
        _keys(spark, "array<string>", [["a", "b"]], 2)


def test_token_contamination_compares_int_and_bigint_ids(spark):
    """A bigint eval set against an int corpus compares ids by value:
    both sides get one-bigint-per-id keys."""
    from tokens_ts import dedup

    ev_toks = list(range(100, 116))
    corpus = spark.createDataFrame(
        [(1, "s", ev_toks), (2, "s", list(range(200, 208)) + ev_toks[:8])],
        "doc_id long, source string, tokens array<int>",
    )
    ev = spark.createDataFrame(
        [(99, "e", ev_toks)], "doc_id long, source string, tokens array<bigint>"
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["n_hit"])
        for r in dedup.token_contamination(corpus, ev, n=8).collect()
    }
    assert out == {1: (9, 9), 2: (9, 1)}
