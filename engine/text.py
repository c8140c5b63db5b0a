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


def ngram_vocab(
    docs: DataFrame,
    n: int = 1,
    min_count: int = 1,
    top_k: int | None = None,
    lowercase: bool = True,
) -> DataFrame:
    """(gram, count, doc_freq) — token n-gram vocabulary induction, the
    tokenizer-prep / IDF-table operator of a training-data pipeline.

    Tokens are whitespace runs (the same split as ``token_counts``),
    n-grams the space-joined sliding windows over each doc's token
    sequence — built with ``transform`` over ``sequence`` + ``slice``,
    i.e. array expressions inside codegen, no UDF. One explode (row count
    = total grams, the irreducible size of the work) into one
    partial-aggregated groupBy: counts combine map-side, so the shuffle
    carries one partial row per (partition, gram), not one per
    occurrence. ``doc_freq`` = distinct docs containing the gram (the IDF
    numerator) rides the same aggregation.

    ``min_count`` prunes the long tail BEFORE any driver contact;
    ``top_k`` additionally keeps the global k most frequent (ties broken
    by gram for determinism) — at 100 TB always set one of them: an
    unpruned unigram table of the open web is itself a large dataset.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    t = F.col("text")
    if lowercase:
        t = F.lower(t)
    toks = F.split(F.trim(t), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    exploded = (
        docs.filter(F.length("text") > 0)
        .filter(F.size(toks) >= n)
        .select("doc_id", F.explode(grams).alias("gram"))
    )
    agg = exploded.groupBy("gram").agg(
        F.count(F.lit(1)).alias("count"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    if min_count > 1:
        agg = agg.filter(F.col("count") >= min_count)
    if top_k is not None:
        # orderBy().limit() compiles to TakeOrderedAndProject: a bounded
        # per-partition heap + one k-row merge at the driver — never a
        # global sort of the whole vocabulary (same pattern as report.top_k)
        agg = (
            agg.orderBy(F.col("count").desc(), F.col("gram").asc())
            .limit(top_k)
        )
    return agg


def term_frequencies(docs: DataFrame, lowercase: bool = True) -> DataFrame:
    """(doc_id, term, tf, dl) — per-document whitespace-term counts plus the
    document token length, the shared substrate of ``tfidf`` and ``bm25``.

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


def _doc_stats(tf: DataFrame) -> DataFrame:
    """One-row (n_docs, avgdl) from the tf table — broadcast-joined by the
    callers (a 1-row aggregate; Catalyst broadcasts it, never shuffles)."""
    return (
        tf.select("doc_id", "dl")
        .distinct()
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        )
    )


def tfidf(
    docs: DataFrame,
    min_df: int = 1,
    lowercase: bool = True,
    round_to: int = 4,
) -> DataFrame:
    """(doc_id, term, tf, df, tfidf_w) — smoothed TF-IDF term weights,
    idf = ln((N+1)/(df+1)) + 1 (the add-one-smoothed form: never zero,
    never divides by zero, public knowledge from the IR literature /
    sklearn's TfidfTransformer default).

    Plan: tf explode+groupBy (see ``term_frequencies``), df as a second,
    much smaller groupBy over the tf table (one row per distinct term),
    then tf ⋈ df on term — a shuffle equi-join whose build side is the
    vocabulary, orders of magnitude below the corpus; the (N) scalar rides
    a broadcast 1-row crossJoin. No UDF anywhere; the weight is one
    codegen'd projection, rounded once at the end (the quality_score
    cross-engine rounding rule).
    """
    tf = term_frequencies(docs, lowercase=lowercase)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    stats = _doc_stats(tf)
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * idf, round_to).alias("tfidf_w"),
        )
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
    its terms against this table + a groupBy(doc_id) sum. Same plan shape
    as ``tfidf`` — the corpus-sized side is touched once, the (N, avgdl)
    scalars ride a broadcast 1-row aggregate, everything codegen'd.
    """
    tf = term_frequencies(docs, lowercase=lowercase)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    stats = _doc_stats(tf)
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


def repetition_features(docs: DataFrame, ns: tuple = (2, 3)) -> DataFrame:
    """Per-doc repetition/boilerplate signals (the Gopher/MassiveText
    repetition-filter family, Rae et al. 2021 §A1.1 — public knowledge),
    set-oriented:

      dup_line_frac       duplicate lines / lines
      dup_line_char_frac  chars inside duplicate-line occurrences / chars
      top{n}gram_frac     occurrences of the most frequent word n-gram /
                          total n-gram occurrences, per n in ``ns``
      dup{n}gram_frac     1 - distinct/total n-gram occurrences (the
                          fraction of occurrences that are repeats)

    Line metrics are pure array expressions (split + array_distinct +
    aggregate) — zero shuffle, one codegen'd projection. The n-gram
    metrics explode once per n into a partial-agg groupBy(doc_id, gram)
    and a groupBy(doc_id) rollup — shuffle rows = distinct grams, the
    irreducible histogram size; everything joins back on doc_id. Short
    docs (< n tokens) report 0.0 for that n. All ratios rounded to 4 for
    cross-engine compare.
    """
    t = F.col("text")
    lines = F.filter(F.split(t, "\n"), lambda s: F.length(F.trim(s)) > 0)
    n_lines = F.size(lines)
    dist_lines = F.array_distinct(lines)
    # chars inside duplicate-line occurrences: total line chars minus the
    # chars of one copy of each distinct line... counts EVERY occurrence of
    # a line that appears >1x as duplicate, matching the "fraction of
    # characters within duplicate lines" reading where the first copy of a
    # repeated line is also boilerplate.
    sum_len = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0), lambda acc, s: acc + F.length(s)
    )
    line_chars = sum_len(lines)
    uniq_line_set = F.filter(
        dist_lines,
        lambda s: F.size(F.filter(lines, lambda x: x == s)) == 1,
    )
    base = docs.filter(F.col("text").rlike(r"\S")).select(
        "doc_id",
        "text",
        F.when(n_lines > 0, F.round(
            (n_lines - F.size(dist_lines)) / n_lines, 4
        )).otherwise(F.lit(0.0)).alias("dup_line_frac"),
        F.when(line_chars > 0, F.round(
            (line_chars - sum_len(uniq_line_set)) / line_chars, 4
        )).otherwise(F.lit(0.0)).alias("dup_line_char_frac"),
    )

    toks = F.split(F.regexp_replace(F.lower(t), r"^\s+|\s+$", ""), r"\s+")
    out = base.select("doc_id", "dup_line_frac", "dup_line_char_frac")
    for n in ns:
        grams = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array())
        hist = (
            base.select("doc_id", F.explode(grams).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id")
            .agg(
                F.max("c").alias("top"),
                F.sum("c").alias("tot"),
                F.count(F.lit(1)).alias("dist"),
            )
            .select(
                "doc_id",
                F.round(F.col("top") / F.col("tot"), 4).alias(f"top{n}gram_frac"),
                F.round(1 - F.col("dist") / F.col("tot"), 4).alias(f"dup{n}gram_frac"),
            )
        )
        out = out.join(hist, "doc_id", "left").fillna(
            {f"top{n}gram_frac": 0.0, f"dup{n}gram_frac": 0.0}
        )
    return out


# ---------------------------------------------------------------- PII pass
# Regex PII detection/redaction — the standard pre-training scrub (public
# practice: C4/Dolma/RedPajama ship exactly this class of conservative
# regex passes; ML-based PII is out of scope offline). Patterns restrict
# to constructs whose semantics are IDENTICAL in Java regex (Spark JVM)
# and python `re` — no lookaround, no possessive quantifiers — so the
# pytest oracle (tests/test_pii.py) runs the very same pattern strings
# through `re` and asserts exact per-doc equality.
#
# Scale notes: detection is one projection of `regexp_count` columns
# (whole-stage codegen, zero shuffle, zero Python); redaction is a chain
# of `regexp_replace` in a fixed kind order. Both stream through the scan.

PII_PATTERNS: dict[str, str] = {
    # local@domain.tld — conservative, no quoted-locals
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}",
    # dotted quad, each octet 0-255
    "ipv4": (
        r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b"
    ),
    # NANP-ish phone: optional +1, (xxx) or xxx, separators space/dot/dash
    "phone": r"\b(?:\+?1[ .-]?)?(?:\(\d{3}\)|\d{3})[ .-]\d{3}[ .-]\d{4}\b",
    # US SSN shape
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}

# Redaction must apply in a FIXED order: ssn/phone before ipv4 cannot
# matter (disjoint shapes), but email before ipv4 prevents re-matching
# inside already-redacted text when replacement tokens contain dots.
PII_ORDER = ("email", "ipv4", "phone", "ssn")


def pii_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document match counts per PII kind + total. One codegen'd
    projection; no shuffle, no Python."""
    cols = [
        F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{kind}")
        for kind, pat in PII_PATTERNS.items()
    ]
    out = docs.select("doc_id", *cols)
    total = None
    for kind in PII_PATTERNS:
        c = F.col(f"n_{kind}")
        total = c if total is None else total + c
    return out.withColumn("n_pii", total)


def redact_pii(
    docs: DataFrame,
    text_col: str = "text",
    replacement: str = "[PII_{kind}]",
) -> DataFrame:
    """Replace every PII match with ``replacement`` (``{kind}`` expands to
    the pattern name, uppercased). Applies PII_ORDER deterministically;
    all other columns pass through."""
    col = F.col(text_col)
    for kind in PII_ORDER:
        token = replacement.replace("{kind}", kind.upper())
        col = F.regexp_replace(col, F.lit(PII_PATTERNS[kind]), F.lit(token))
    return docs.withColumn(text_col, col)


# ---------------------------------------------------------------------------
# Text normalization + C4-style line cleaning (round 4)
# ---------------------------------------------------------------------------

# C0 controls minus \t\n\r, plus DEL and the zero-width/BOM family — the
# characters every web-corpus pipeline strips (C4/Dolma/RefinedWeb
# practice). The class members are LITERAL characters (Python \x/\u
# escapes resolve before the pattern string is built), so Java regex and
# python `re` see byte-identical patterns and the test oracle runs the
# SAME string.
CONTROL_CHARS_RE = (
    "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f"
    "\u200b\u200c\u200d\ufeff]"
)


def normalize_text(
    docs: DataFrame,
    text_col: str = "text",
    unicode_form: str | None = "NFC",
    strip_control: bool = True,
    collapse_spaces: bool = True,
) -> DataFrame:
    """Canonical text cleanup: CRLF/CR -> LF, control/zero-width strip,
    space-run collapse + per-line edge trim, optional Unicode NFC.

    Everything except NFC is codegen'd ``regexp_replace`` (zero shuffle,
    zero Python). NFC itself has no JVM builtin in Spark SQL, so it is the
    one Arrow-batched pandas-UDF step — vectorized ``unicodedata.normalize``
    per batch, the documented slow-path exception (SURVEY §2 B.9). Pass
    ``unicode_form=None`` to stay entirely JVM-side.

    Order matters and is part of the contract (mirrored by the oracle):
    newline canonicalization, then control strip, then space collapse,
    then NFC last (so composition can't resurrect a stripped mark's
    combining form ordering).
    """
    col = F.col(text_col)
    col = F.regexp_replace(col, F.lit("\\r\\n?"), F.lit("\n"))
    if strip_control:
        col = F.regexp_replace(col, F.lit(CONTROL_CHARS_RE), F.lit(""))
    if collapse_spaces:
        col = F.regexp_replace(col, F.lit("[ \\t]+"), F.lit(" "))
        col = F.regexp_replace(col, F.lit(" ?\\n ?"), F.lit("\n"))
        # explicit edge-trim pattern (NOT F.trim, which strips only
        # spaces): by this point \r is canonicalized and controls are
        # gone, so [ \t\n] is the full whitespace alphabet — the same
        # pattern string runs in the python-re oracle
        col = F.regexp_replace(
            col, F.lit("^[ \\t\\n]+|[ \\t\\n]+$"), F.lit("")
        )
    out = docs.withColumn(text_col, col)
    if unicode_form is not None:
        if unicode_form not in ("NFC", "NFD", "NFKC", "NFKD"):
            raise ValueError(f"unknown unicode form {unicode_form!r}")
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import StringType

        form = unicode_form

        # NB: no pd.Series type hints — this module uses
        # `from __future__ import annotations`, which stringifies them
        # and breaks pandas_udf's eval-type inference; the returnType
        # argument alone selects the scalar Arrow-batched form.
        @pandas_udf(StringType())
        def _nfc(s):
            import unicodedata

            return s.map(
                lambda t: unicodedata.normalize(form, t)
                if t is not None
                else None
            )

        out = out.withColumn(text_col, _nfc(F.col(text_col)))
    return out


TERMINAL_PUNCT = (".", "!", "?", '"', "'")


def clean_lines(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
    require_terminal: bool = True,
    drop_markers: tuple[str, ...] = ("javascript", "cookie", "{"),
    min_lines: int = 1,
) -> DataFrame:
    """C4's line-level heuristics (Raffel et al. 2020 §2.2, public): keep
    only lines with >= ``min_words`` whitespace words, (optionally) ending
    in terminal punctuation, and not containing any lowercase
    ``drop_markers`` substring; drop documents left with fewer than
    ``min_lines`` surviving lines.

    One codegen'd split -> ``filter`` (array lambda) -> ``array_join``
    projection plus one length filter: zero shuffle, zero Python, the
    whole corpus pass is a single WholeStageCodegen span. At 100 TB this
    is the shape you want for a rule that touches every byte once.
    """
    if min_words < 1:
        raise ValueError(f"min_words must be >= 1, got {min_words}")
    lines = F.split(F.col(text_col), "\n")

    def keep(line):
        c = F.size(F.split(F.trim(line), r"\s+")) >= min_words
        c = c & (F.length(F.trim(line)) > 0)
        if require_terminal:
            term = None
            for p in TERMINAL_PUNCT:
                t = F.endswith(F.trim(line), F.lit(p))
                term = t if term is None else (term | t)
            c = c & term
        low = F.lower(line)
        for m in drop_markers:
            c = c & ~F.contains(low, F.lit(m.lower()))
        return c

    kept = F.filter(lines, keep)
    return (
        docs.withColumn("__kept", kept)
        .filter(F.size("__kept") >= min_lines)
        .withColumn(text_col, F.array_join(F.col("__kept"), "\n"))
        .drop("__kept")
    )
