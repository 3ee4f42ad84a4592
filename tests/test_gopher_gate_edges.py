"""Cross-engine edge-case consistency of the shared Gopher gate
fragments (queries_text.gopher_gate vs gopher_gate_sql).

The sf parity sweep proves the two halves agree on the synthetic
corpus; these tests feed them ADVERSARIAL texts the corpus never
contains — empty strings, symbol-only, exact rule-boundary word counts,
mean-word-length boundaries, ellipsis floods — plus a hypothesis sweep
over a restricted alphabet (both regex engines agree on ASCII word
splitting; exotic unicode whitespace is out of contract). A divergence
here is a latent parity break waiting for a corpus that exercises it.
"""

from __future__ import annotations

import string

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flights_etl_pipeline_spark.plans import queries_text
from flights_etl_pipeline_spark.plans.queries_text import (
    _GOPHER_MIN_WORDS,
    gopher_gate,
    gopher_gate_sql,
    gopher_metrics,
)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)

# stopwords of the 'en' ruleset appear in some cases so flag_stopwords
# can pass; the gate needs >= 2 distinct ones
_EN_FILLER = "the of and to a in is it was for"  # 10 words, all stopwords


def _edge_texts() -> list[str]:
    lo = _GOPHER_MIN_WORDS
    word = "data"
    passing = " ".join([_EN_FILLER] + [word] * (lo - 10))  # exactly lo
    return [
        "",
        " ",
        "   ",
        "#",
        "# # #",
        "...",
        "... ... ...",
        "a",
        "a b",
        " leading space",
        "trailing space ",
        "double  space",
        "tab\tseparated words",
        "newline\nseparated words",
        passing,  # exactly MIN_WORDS words, should satisfy word count
        " ".join([_EN_FILLER] + [word] * (lo - 11)),  # one word short
        " ".join(["x" * 11] * lo),  # mean word len 11 > 10 -> fail
        " ".join(["xyz"] * lo),  # mean 3, no stopwords -> fail stopwords
        " ".join([_EN_FILLER] + ["12345"] * (lo - 10)),  # digits: alpha rule
        " ".join([_EN_FILLER] + ["#"] * (lo - 10)),  # symbol flood
        passing + " " + "...." * 5,
        "The OF aNd " + " ".join([word] * lo),  # stopword case-folding
    ]


def _compare(spark, texts: list[str]) -> None:
    rows = [
        (i, "en", "src0", t) for i, t in enumerate(texts)
    ]
    sdf = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    got = {
        r.doc_id: bool(r.keep)
        for r in gopher_gate(sdf, "doc_id").collect()
    }
    con = duckdb.connect()
    con.register(
        "docs_edge",
        pd.DataFrame(rows, columns=["doc_id", "lang", "source", "text"]),
    )
    want = {
        int(d): bool(k)
        for d, k in con.execute(
            "SELECT doc_id, keep FROM ("
            + gopher_gate_sql("docs_edge", "doc_id")
            + ")"
        ).fetchall()
    }
    assert got == want, {
        d: (got[d], want[d], texts[d])
        for d in got
        if got[d] != want.get(d)
    }


def test_gopher_gate_edge_cases_match_duckdb(spark):
    _compare(spark, _edge_texts())


def test_gopher_gate_boundary_word_count_passes(spark):
    """Sanity that the 'passing' fixture really passes (the edge test
    would vacuously succeed if every case failed the gate in both
    engines)."""
    lo = _GOPHER_MIN_WORDS
    passing = " ".join([_EN_FILLER] + ["data"] * (lo - 10))
    sdf = spark.createDataFrame(
        [(0, "en", "s", passing)],
        "doc_id long, lang string, source string, text string",
    )
    [r] = gopher_gate(sdf, "doc_id").collect()
    assert r.keep is True


_word = st.text(
    alphabet=string.ascii_letters + string.digits + "#.",
    min_size=1,
    max_size=12,
)
_doc = st.lists(_word, min_size=0, max_size=80).map(" ".join)


@settings(**_SETTINGS)
@given(st.lists(_doc, min_size=1, max_size=12))
def test_gopher_gate_random_ascii_matches_duckdb(spark, docs):
    _compare(spark, docs)


@pytest.mark.parametrize(
    "stopwords",
    [
        {"en": ["the", "o'clock"]},
        {"en": ["the", "back\\slash"]},
        {"e\\n": ["the", "of"]},
    ],
    ids=["quote-in-word", "backslash-in-word", "backslash-in-lang"],
)
def test_gopher_metrics_rejects_unrenderable_stopwords(spark, monkeypatch, stopwords):
    """Stopwords and language names are rendered as SQL string literals: a
    quote would end the literal and a backslash would be escape-processed,
    so either raises instead of silently changing the metric."""
    monkeypatch.setattr(queries_text, "STOPWORDS", stopwords)
    docs = spark.createDataFrame([("the of", "en")], "text string, lang string")
    with pytest.raises(ValueError, match="SQL literal"):
        gopher_metrics(docs)
