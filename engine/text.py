"""Text analysis operators for large-scale training-data pipelines.

All hot-path expressions are JVM builtins (whole-stage codegen); each
operator is deliberately expressible in ANSI SQL with identical semantics so
the driver's DuckDB oracle can verify it value-for-value. These extend the
reference's surface (Verum had no text ops) — marked "beyond reference" in
SURVEY.md terms — but are first-class citizens of the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Character-trigram profiles for language ID (Cavnar & Trenkle's n-gram
# text categorization, reduced to a fixed top-trigram table — public
# knowledge). Per language, the highest-frequency character trigrams of
# space-padded text; profiles deliberately OVERLAP (que/ " qu" in es+fr,
# " de" in de+fr, ion/ent in en+fr) the way real language statistics do —
# classification is the argmax of summed trigram occurrence counts, so
# shared trigrams cancel and the discriminative ones decide. Fixed priority
# order breaks exact ties; zero hits -> 'other'. Counting is
# replace-and-measure (length(s) - length(replace(s, tg, ''))) / 3 —
# integer arithmetic, regex-free, identical in any SQL engine, one
# codegen'd projection per doc. r2's 8-function-word heuristic upgraded
# per VERDICT r2 item 6; same (doc_id, lang_pred) column contract.
LANG_TRIGRAMS = [
    ("en", ["the", " th", "he ", "ing", "ng ", " an", "nd ", " of",
            "of ", " to", "to ", "ent", " is", "is ", "at ", "ed "]),
    ("es", [" el", "el ", " la", "la ", "los", " lo", "que", " qu",
            "ue ", " co", "ado", "os ", "as ", " un", "una", "por"]),
    ("de", ["der", " de", "die", " di", "ie ", "und", " un", "ich",
            "ch ", "ein", " ei", "sch", "cht", "das", "ist", "it "]),
    ("fr", ["les", " le", "ent", " en", " de", "des", "que", " qu",
            "ue ", "ait", "our", " pa", "ion", "eur", "ais", "est"]),
    # r4 widening (VERDICT r3 item 7): same fixed-literal mechanism, public
    # frequency statistics. Profiles again overlap deliberately — es/pt
    # share que/" qu"/"os ", de/nl share "de "/"en ", es/it share " co" —
    # and the discriminative tails (ção/ão for pt, ijk/van for nl, och/att
    # for sv, się/prz for pl, ...) decide; confusable pairs are tested.
    ("it", ["che", " ch", " di", "di ", " il", "il ", "lla", "zio",
            "ion", "ato", " co", "to ", "ell", " pe", "gli", "ta "]),
    ("pt", [" de", "de ", "que", " qu", "ão ", "ção", "os ", "as ",
            " um", "uma", "nte", "do ", "da ", "ara", "em ", "com"]),
    ("nl", ["de ", " de", "het", " he", "et ", "een", " ee", "en ",
            "van", " va", "aar", "ijk", "ij ", " ni", "iet", "oor"]),
    ("sv", ["och", " oc", "ch ", "att", " at", "tt ", "det", " de",
            "en ", "för", " fö", "ör ", "ar ", "som", " so", "ing"]),
    ("pl", ["nie", " ni", "ie ", " po", "prz", "rze", "się", " si",
            "ię ", "ego", "go ", " że", "że ", "ych", "ym ", "na "]),
    ("tr", ["bir", " bi", "ir ", "lar", "ler", "in ", " ka", "da ",
            "ın ", " ve", "ve ", "eri", "ını", "lık", "ara", "an "]),
    ("id", ["ang", "ng ", "yan", " ya", "kan", "an ", " me", "men",
            " di", "di ", " ke", "ada", " be", "ber", " pe", "nya"]),
    ("ro", [" în", "în ", "ul ", "are", "re ", " cu", "ea ", "ște",
            " și", "și ", "ate", "lui", "tru", " pe", "tă ", "uri"]),
]


# GPT-2-style pre-tokenizer chunks, simplified to the lookahead-free subset
# that Java regex (Spark) and RE2 (DuckDB/Go tokenizers) treat identically:
# a word run, a digit run, or a punctuation run, each with an optional
# leading space. Matches of this pattern are the units a byte-pair encoder
# would merge within — counting them estimates BPE token budget far better
# than chars/4 on code-like text.
BPE_CHUNK_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, bpe_chunks, bpe_upper) — whitespace tokens, the
    BPE-ish regex chunk count (``BPE_CHUNK_RE``), and the chars/4+1 upper
    bound for budget estimation."""
    return docs.filter(F.length("text") > 0).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_CHUNK_RE), F.lit(0))
        ).cast("long").alias("bpe_chunks"),
        # floor() explicitly: SQL engines disagree on float->int cast
        # rounding (Spark truncates, DuckDB rounds), floor is portable.
        (F.floor(F.length("text") / F.lit(4)) + 1).cast("long").alias("bpe_upper"),
    )


def quality_features(docs: DataFrame) -> DataFrame:
    """Per-doc quality signals: length, alpha/digit/space ratios, mean token
    length — rounded to 4 decimals for deterministic cross-engine compare."""
    t = F.col("text")
    n = F.length(t)
    alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    digit = F.length(F.regexp_replace(t, "[^0-9]", ""))
    space = F.length(F.regexp_replace(t, "[^ ]", ""))
    toks = F.size(F.split(F.trim(t), r"\s+"))
    return docs.filter(n > 0).select(
        "doc_id",
        n.alias("n_chars"),
        F.round(alpha / n, 4).alias("alpha_ratio"),
        F.round(digit / n, 4).alias("digit_ratio"),
        F.round(space / n, 4).alias("space_ratio"),
        F.round(n / toks, 4).alias("mean_tok_len"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Scalar quality score in [0,1]: favors alpha-heavy, mid-length docs.
    score = 0.5*alpha_ratio + 0.3*min(n_chars,2000)/2000 + 0.2*(1-digit_ratio)

    Computed from UNROUNDED ratios and rounded once at the end: rounding the
    intermediates puts the combined value on a 5e-5 grid where every engine's
    half-rounding rule disagreement becomes visible (Spark rounds HALF_UP on
    the shortest decimal repr; DuckDB rounds the binary double numerically).
    """
    t = F.col("text")
    n = F.length(t)
    alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", "")) / n
    digit = F.length(F.regexp_replace(t, "[^0-9]", "")) / n
    score = (
        0.5 * alpha
        + 0.3 * (F.least(n, F.lit(2000)) / 2000.0)
        + 0.2 * (1.0 - digit)
    )
    return docs.filter(n > 0).select("doc_id", F.round(score, 4).alias("quality"))


def _lang_norm(t):
    """Space-padded, whitespace-collapsed, lowered text — the trigram
    domain. Padding lets boundary trigrams (' th', 'he ') fire at the
    edges, as in the n-gram-profile literature."""
    return F.concat(
        F.lit(" "), F.regexp_replace(F.lower(F.trim(t)), r"\s+", " "), F.lit(" ")
    )


def _trigram_count(s, tg: str):
    """Non-overlapping occurrence count of ``tg`` in ``s`` via
    replace-and-measure — left-to-right replace semantics are identical
    across engines, so the count is exactly mirrorable in SQL."""
    return (
        (F.length(s) - F.length(F.replace(s, F.lit(tg), F.lit("")))) / 3
    ).cast("int")


def lang_id(docs: DataFrame) -> DataFrame:
    """Char-trigram-profile language ID (``LANG_TRIGRAMS``): per-language
    summed trigram counts over space-padded lowered text, argmax with fixed
    priority tiebreak, 'other' when nothing fires. One codegen'd projection,
    no shuffle, no regex in the hot path (the whitespace collapse is the
    only regexp and both engines agree on it).

    The argmax is the max of (score, priority, code) structs, so each
    language's score occurs once in the expression. A filter on
    ``lang_pred`` is pushed below this projection with the expression
    inlined and no common-subexpression reuse; written as a CASE over
    ``greatest`` (every score ~15 times), that filter compiled to a plan
    that exhausted a 4 GiB driver heap on 8 documents."""
    s = _lang_norm(F.col("text"))
    n = len(LANG_TRIGRAMS)

    def cand(score, prio, code):
        return F.struct(
            score.alias("score"), F.lit(prio).alias("prio"), F.lit(code).alias("code")
        )

    # nothing fired (max score 0, or null text): the sentinel's top
    # priority wins every tie at 0
    cands = [cand(F.lit(0), n, "other")]
    for i, (code, tgs) in enumerate(LANG_TRIGRAMS):
        total = None
        for tg in tgs:
            c = _trigram_count(s, tg)
            total = c if total is None else total + c
        cands.append(cand(total, n - 1 - i, code))  # earlier code wins ties
    best = F.array_max(F.array(*cands))
    return docs.select("doc_id", best["code"].alias("lang_pred"))


def corpus_stats(docs: DataFrame, rsd: float = 0.02) -> DataFrame:
    """Per-source corpus statistics with a sketched unique-content count —
    the A5 ``approx_count_distinct`` surface (SURVEY.md Table B A5).

    At 10^9+ docs an exact ``countDistinct`` of content hashes is a full
    shuffle of every distinct hash; the HLL++ sketch is a fixed-size
    partial-aggregable state per group, which is how a dedup-ratio metric is
    actually computed at scale. The harness (a5) validates the sketch
    against the exact count at small sf: ``approx_ok`` asserts the estimate
    lands within 5x the configured rsd — HLL++ is deterministic for a fixed
    input, so this is a stable, meaningful check, and the exact count is
    value-verified against DuckDB.
    """
    h = F.sha2(F.col("text"), 256)
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(h).alias("exact_uniq"),
        F.approx_count_distinct(h, rsd=rsd).alias("approx_uniq"),
    ).select(
        "source",
        "n_docs",
        "exact_uniq",
        (
            F.abs(F.col("approx_uniq") - F.col("exact_uniq"))
            <= F.greatest(F.lit(1.0), F.lit(5 * rsd) * F.col("exact_uniq"))
        ).alias("approx_ok"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """64-bit-ish document fingerprint: first 16 hex chars of sha256 over
    whitespace-normalized, lowercased text — stable under reflow, so it
    catches trivially-reformatted duplicates exact hashing misses."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select(
        "doc_id", F.substring(F.sha2(norm, 256), 1, 16).alias("fp")
    )


def term_frequencies(docs: DataFrame, lowercase: bool = True) -> DataFrame:
    """(doc_id, term, tf, dl) — per-document whitespace-term counts plus the
    document token length, the substrate of ``bm25``.

    One explode (row count = total tokens, the irreducible work) into one
    partially-aggregated groupBy(doc_id, term): counts combine map-side, so
    the shuffle carries one row per distinct (doc, term), not per token.
    ``dl`` is constant within a doc and rides the same aggregation as a
    max() — no second scan, no doc-length join. Whitespace-only docs are
    excluded up front, and the trim is regex-based (``^\\s+|\\s+$``): SQL
    ``trim`` strips only spaces, so a tab-padded doc would otherwise leak
    empty boundary tokens out of the split.
    """
    t = F.col("text")
    if lowercase:
        t = F.lower(t)
    toks = F.split(F.regexp_replace(t, r"^\s+|\s+$", ""), r"\s+")
    return (
        docs.filter(F.col("text").rlike(r"\S"))
        .select("doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )


def bm25(
    docs: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    min_df: int = 1,
    lowercase: bool = True,
    round_to: int = 4,
) -> DataFrame:
    """(doc_id, term, tf, df, dl, bm25_w) — Okapi BM25 term weights
    (Robertson–Spärck Jones idf in its always-positive +1 form:
    idf = ln(1 + (N - df + 0.5)/(df + 0.5));
    w = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))).

    The per-(doc, term) weight table IS the inverted index a retrieval or
    data-curation pipeline builds: scoring a query is then a semi-join of
    its terms against this table + a groupBy(doc_id) sum. The corpus-sized
    side is touched once: tf explode+groupBy (``term_frequencies``), df as
    a much smaller groupBy over the tf table, tf ⋈ df on term, and the
    (N, avgdl) scalars ride a broadcast 1-row aggregate, everything
    codegen'd.
    """
    tf = term_frequencies(docs, lowercase=lowercase)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    stats = (
        tf.select("doc_id", "dl")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    w = idf * F.col("tf") * (k1 + 1.0) / norm
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            "dl",
            F.round(w, round_to).alias("bm25_w"),
        )
    )
