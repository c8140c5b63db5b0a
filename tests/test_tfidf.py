"""bm25 (engine/text.py): the term-weight table vs an exact pure-python
oracle (the same Okapi formula computed with vanilla floats), plus the
min_df pruning and doc-length contracts."""

import math
import re

import pytest

from engine import text as T

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "The cat ran after the dog"),
    (3, "a   dog\tbarked"),          # messy whitespace collapses
    (4, ""),                          # empty doc drops out
    (5, "   \t  "),                   # whitespace-only doc drops out
    (6, "cat cat cat dog"),           # repeated terms -> tf > 1
]


def _tok(text):
    return re.split(r"\s+", text.lower().strip())


def _corpus():
    return {d: _tok(t) for d, t in DOCS if t.strip()}


def oracle_bm25(k1=1.2, b=0.75, round_to=4):
    corpus = _corpus()
    n = len(corpus)
    avgdl = sum(len(t) for t in corpus.values()) / n
    df = {}
    for toks in corpus.values():
        for term in set(toks):
            df[term] = df.get(term, 0) + 1
    out = {}
    for doc_id, toks in corpus.items():
        dl = len(toks)
        for term in set(toks):
            tf = toks.count(term)
            idf = math.log(1.0 + (n - df[term] + 0.5) / (df[term] + 0.5))
            w = idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
            out[(doc_id, term)] = (tf, df[term], dl, round(w, round_to))
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"]).cache()


def test_term_frequencies(spark, docs_df):
    rows = {
        (r.doc_id, r.term): (r.tf, r.dl)
        for r in T.term_frequencies(docs_df).collect()
    }
    corpus = _corpus()
    want = {
        (d, term): (toks.count(term), len(toks))
        for d, toks in corpus.items()
        for term in set(toks)
    }
    assert rows == want


def test_bm25_min_df_prunes(spark, docs_df):
    """min_df drops rare terms; N and avgdl still count every doc."""
    got = {
        (r.doc_id, r.term): (r.tf, r.df, r.dl, r.bm25_w)
        for r in T.bm25(docs_df, min_df=2).collect()
    }
    assert got == {k: w for k, w in oracle_bm25().items() if w[1] >= 2}
    assert got  # something survives (cat/dog/the appear in >=2 docs)


def test_bm25_matches_oracle(spark, docs_df):
    got = {
        (r.doc_id, r.term): (r.tf, r.df, r.dl, r.bm25_w)
        for r in T.bm25(docs_df).collect()
    }
    assert got == oracle_bm25()


def test_bm25_rare_term_outweighs_common(spark, docs_df):
    """A term unique to one doc must outscore 'the'-class terms with the
    same tf in the same doc — the whole point of the idf factor."""
    w = {
        (r.doc_id, r.term): r.bm25_w for r in T.bm25(docs_df).collect()
    }
    assert w[(1, "mat")] > w[(1, "the")]     # tf 1 vs 2, df 1 vs 2
    assert w[(3, "barked")] > w[(3, "dog")]  # same doc, same tf, df 1 vs 3


def test_bm25_length_normalization(spark):
    """Same tf/df: the shorter doc scores higher (b > 0)."""
    docs = spark.createDataFrame(
        [(1, "apple pie"), (2, "apple " + " ".join(["filler"] * 20))],
        ["doc_id", "text"],
    )
    w = {(r.doc_id, r.term): r.bm25_w for r in T.bm25(docs).collect()}
    assert w[(1, "apple")] > w[(2, "apple")]
