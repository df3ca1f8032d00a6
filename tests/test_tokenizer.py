"""The engine's one tokenizer path (``text.tokens`` / ``text.token_stream``):
(a) it equals tokenizing the whitespace-normalized text, on whitespace- and
case-hostile strings; (b) no other module spells out the token regexp, the
md5 fold or the whole-text normalization; (c) the shingle index plan
carries no whole-text normalization pass."""

from __future__ import annotations

import inspect
import pathlib
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from xboard_spark.operators import dedup, text

PKG = pathlib.Path(text.__file__).resolve().parents[1]

# Every Java regex \s character, the Unicode spaces it does NOT match, and
# letters whose lowercase changes length or leaves ASCII (or enters it:
# the Kelvin sign lowercases to "k").
JAVA_SPACE = " \t\n\x0b\x0c\r"
UNICODE_SPACE = (
    "\u0085\u00a0\u1680\u2000\u2001\u2002\u2003\u2007\u200a\u200b"
    "\u2028\u2029\u202f\u205f\u3000\ufeff"
)
# İ ı ß ẞ Σ ς K(Kelvin) Å(Angstrom) Ω(Ohm) ﬁ ﬀ Ǆ ǅ ſ Ä é
CASE_HOSTILE = (
    "\u0130\u0131\u00df\u1e9e\u03a3\u03c2\u212a\u212b\u2126"
    "\ufb01\ufb00\u01c4\u01c5\u017f\u00c4\u00e9"
)
ALPHABET = (
    "abcXYZ019" + ".,;:!?-_'\"()[]/@#" + JAVA_SPACE + UNICODE_SPACE + CASE_HOSTILE
)


def _reference(col):
    """Reference: tokenize the ``norm_text`` form — lowercase, trim,
    collapse \\s runs to one space — then take the alnum runs."""
    norm = F.regexp_replace(F.trim(F.lower(col)), "\\s+", " ")
    return F.regexp_extract_all(norm, F.lit("[a-z0-9]+"), 0)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(st.text(ALPHABET, max_size=24), max_size=12))
def test_tokens_equal_the_whitespace_normalized_formulation(spark, texts):
    rows = [(i, t) for i, t in enumerate([None, "", *texts])]
    df = spark.createDataFrame(rows, "i int, t string")
    got = df.select(
        "i", text.tokens(F.col("t")).alias("a"), _reference(F.col("t")).alias("b")
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert r.a == r.b, (rows[r.i], r.a, r.b)
    assert got[0].a is None and got[1].a == []


def _sources():
    for p in sorted(PKG.rglob("*.py")):
        if p.name != "oracles.py":
            yield p.relative_to(PKG).as_posix(), p.read_text()


def _files_with(pattern: str) -> set[str]:
    return {name for name, src in _sources() if re.search(pattern, src)}


def test_only_text_tokenizes_and_only_portable_hash_folds_md5():
    assert _files_with(r"\bTOKEN_RE\b") == {"operators/text.py"}
    assert _files_with(r"\[a-z0-9\]\+") == {"operators/text.py"}
    assert _files_with(r"md5\(") == {"functions/portable_hash.py"}
    assert _files_with(r'"\\\\s\+"') == {"operators/text.py"}
    src = dict(_sources())["operators/text.py"]
    # one spelling each: the tokenizer and the whole-text normalizer
    assert src.count("F.lit(TOKEN_RE)") == 1
    assert src.count("F.trim(") == 1
    assert list(inspect.signature(text.tokens).parameters) == ["text"]
    assert not hasattr(dedup, "shingle_fps")
    assert not hasattr(dedup, "_norm_text")


def test_shingle_index_plan_has_no_whole_text_normalization(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x\ty  z")], "doc_id long, text string"
    )
    plan = (
        dedup.shingle_index(docs)._jdf.queryExecution().analyzed().toString()
    )
    assert "regexp_extract_all" in plan
    assert "regexp_replace" not in plan
    assert "trim(" not in plan


def test_token_stream_and_pairs(spark):
    docs = spark.createDataFrame(
        [(1, "The cat, the\tHAT."), (2, None), (3, "")],
        "doc_id long, text string",
    )
    tok = text.token_stream(docs)
    assert tok.columns == ["doc_id", "pos", "word"]
    assert sorted(map(tuple, tok.collect())) == [
        (1, 0, "the"), (1, 1, "cat"), (1, 2, "the"), (1, 3, "hat"),
    ]
    pairs = text.cooccurrence_pairs(tok, 2).select("w_a", "w_b").collect()
    assert sorted(map(tuple, pairs)) == sorted(
        [("the", "cat"), ("the", "the"), ("cat", "the"), ("cat", "hat"),
         ("the", "hat")]
    )
