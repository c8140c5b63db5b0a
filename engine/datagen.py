"""Deterministic synthetic ``source_files`` generator (FIXTURES.md §1).

Pure function of ``(seed, rows, repos)`` — every column is derived from the
row id via seeded hashes (Spark builtins), so the same table is produced at
any parallelism (``local[8]`` and ``local[32]`` see byte-identical inputs,
FIXTURES.md: "all generation is pure-function-of-(seed, scale)").

Content is synthesized by an Arrow-vectorized pandas UDF (the only Python
stage; per-row Python UDFs are banned engine-wide, BASELINE.json input_hint).

The generated corpus exercises every skew/dedup path the engine must handle:

- lang popularity is Zipf(s=1.2) over a fixed 12-entry ext->lang map, so
  ``python`` / ``javascript`` become hub vertices (>20% of path->lang edges
  land on the top lang — hub skew is exercised, not just configured).
- 8% of files draw content from a shared 50-entry pool (empty file, LICENSE,
  README boilerplate, common snippets) -> cross-repo identical sha256 ->
  co-occurrence groups, including groups larger than the explode cap.

Reference parity note: this replaces the reference's live enrichment inputs
(DNS answers, whois records, ... [R plugins/*::run, reconstructed — the
/root/reference mount was empty, SURVEY.md §0]) with a deterministic corpus,
because the rebuild's enrichment is corpus-derivation (SURVEY.md Table A E1).
"""

from __future__ import annotations

import random
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

GLOBAL_SEED = 42

# Fixed ext->lang map (FIXTURES.md §1), Zipf-ranked in this order.
EXT_LANG = [
    ("py", "python"),
    ("js", "javascript"),
    ("ts", "typescript"),
    ("java", "java"),
    ("go", "go"),
    ("rs", "rust"),
    ("c", "c"),
    ("cpp", "cpp"),
    ("rb", "ruby"),
    ("md", "markdown"),
    ("yml", "yaml"),
    ("txt", "text"),
]
ZIPF_S = 1.2


_MOD = 1_000_000_007

DUP_POOL_SIZE = 50
DUP_PCT = 8  # percent of files drawing from the shared pool


def _u(col: Column, salt: int) -> Column:
    """Deterministic uniform [0,1) from a column + salt (seeded xxhash64)."""
    return F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(_MOD)) / F.lit(float(_MOD))


def _h(col: Column, salt: int, mod: int) -> Column:
    """Deterministic integer hash in [0, mod)."""
    return F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(mod))


def _zipf_cdf() -> list[float]:
    w = [1.0 / (k + 1) ** ZIPF_S for k in range(len(EXT_LANG))]
    tot = sum(w)
    acc, cdf = 0.0, []
    for x in w:
        acc += x / tot
        cdf.append(acc)
    return cdf


def _ext_col(key: Column, seed: int) -> Column:
    """Zipf(s=1.2) ext choice as a when-chain on a seeded uniform draw."""
    u = _u(key, seed + 11)
    cdf = _zipf_cdf()
    expr = F.lit(EXT_LANG[-1][0])
    # Build the when-chain from the tail so the first matching threshold wins.
    for i in range(len(EXT_LANG) - 2, -1, -1):
        expr = F.when(u < F.lit(cdf[i]), F.lit(EXT_LANG[i][0])).otherwise(expr)
    return expr


_WORDS = (
    "def class return import for while if else try except lambda yield self "
    "data value result index node edge graph table query spark filter map "
    "reduce join group sort hash merge scan batch row col key count sum state "
    "iter rank label score path repo commit lang src dst weight part shuffle"
).split()


@lru_cache(maxsize=4)
def _corpus(seed: int) -> str:
    """~256 KB deterministic pseudo-code text; content rows are slices of it."""
    rng = random.Random(seed)
    out: list[str] = []
    n = 0
    while n < 262_144:
        line = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(3, 9)))
        if rng.random() < 0.3:
            line = "    " + line
        out.append(line)
        n += len(line) + 1
    return "\n".join(out)


@lru_cache(maxsize=4)
def _dup_pool(seed: int) -> list[str]:
    """50 shared contents: empty file, LICENSE/README boilerplate, snippets."""
    corpus = _corpus(seed)
    rng = random.Random(seed + 1)
    pool = [
        "",
        "Apache License Version 2.0, January 2004 http://www.apache.org/licenses/ "
        "Licensed under the Apache License; you may not use this file except in "
        "compliance with the License.",
        "# README\n\nThis project is a placeholder. See docs for details.\n",
    ]
    while len(pool) < DUP_POOL_SIZE:
        off = rng.randrange(0, len(corpus) - 4000)
        pool.append(corpus[off : off + rng.randint(30, 3000)])
    return pool


def _make_content_udf(seed: int):
    @pandas_udf(StringType())
    def gen_content(ids: pd.Series) -> pd.Series:
        corpus = _corpus(seed)
        pool = _dup_pool(seed)
        span = len(corpus) - 3001
        a = ids.to_numpy("int64")
        # Splitmix64-style seeded mixing — pure function of (id, seed).
        h = (a.astype("uint64") + (seed * 0x9E3779B97F4A7C15)) & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 30
        h = (h * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 27
        h = (h * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 31
        is_dup = (h % 100) < DUP_PCT
        pool_ix = (h >> 8) % DUP_POOL_SIZE
        off = (h >> 16) % span
        ln = 30 + (h >> 40) % 2971  # 30..3000 chars
        out = [
            pool[int(p)] if d else corpus[int(o) : int(o) + int(L)]
            for d, p, o, L in zip(is_dup, pool_ix, off, ln)
        ]
        return pd.Series(out)

    return gen_content


def source_files(
    spark: SparkSession,
    rows: int,
    repos: int,
    seed: int = GLOBAL_SEED,
    partitions: int | None = None,
    with_content: bool = True,
) -> DataFrame:
    """Generate the ``(repo, path, commit, lang, content)`` corpus.

    Layout guarantees (checked by tests/test_datagen.py):

    - ``(repo, path, commit)`` unique: ``file_idx = id // repos`` is unique
      within a repo and fully determines the path.
    - path->lang functional: ext (hence lang) is a function of ``file_idx``
      alone, so identical paths across repos agree on lang.
    - paths are *shared* across repos (same ``file_idx`` space), which is
      what makes the repo->path->lang graph connected rather than a forest.
    """
    orgs = max(2, repos // 10)
    df = spark.range(0, rows, 1, partitions or spark.sparkContext.defaultParallelism)

    rid = (F.col("id") % repos).alias("rid")
    df = df.withColumn("rid", rid).withColumn("fidx", F.col("id") / repos)
    df = df.withColumn("fidx", F.col("fidx").cast("long"))

    repo = F.concat(
        F.lit("org"), (F.col("rid") % orgs).cast("string"), F.lit("/repo"), F.col("rid").cast("string")
    )

    ext = _ext_col(F.col("fidx"), seed)
    lang_map = F.create_map(*[F.lit(x) for pair in EXT_LANG for x in pair])
    lang = lang_map[ext]

    # Path = [private-prefix/] dir*/file{fidx}.{ext}. ~30% of files are
    # "shared" (path a pure function of fidx -> identical string across
    # repos -> shared path vertices, which is what connects the graph and
    # builds path hubs); the rest get a per-row private dir so the path
    # vertex space grows with rows, not with rows//repos. (repo, path)
    # stays unique by construction: fidx is unique within a repo.
    depth = _h(F.col("fidx"), seed + 21, 4)
    dirs = [
        F.when(
            depth > i,
            F.concat(F.lit("dir"), _h(F.col("fidx"), seed + 31 + i, 10).cast("string"), F.lit("/")),
        ).otherwise(F.lit(""))
        for i in range(3)
    ]
    shared = _u(F.col("id"), seed + 61) < F.lit(0.3)
    private_prefix = F.when(shared, F.lit("")).otherwise(
        F.concat(F.lit("p"), _h(F.col("id"), seed + 71, 1_000_000).cast("string"), F.lit("/"))
    )
    path = F.concat(
        private_prefix, *dirs, F.lit("file"), F.col("fidx").cast("string"), F.lit("."), ext
    )

    # Commits-per-repo ~ LogNormal(median 8), capped to [1, 200]  — Box-Muller
    # on two seeded uniforms of the repo id.
    u1 = _u(F.col("rid"), seed + 41)
    u2 = _u(F.col("rid"), seed + 42)
    z = F.sqrt(-2.0 * F.log(u1 + F.lit(1e-12))) * F.cos(F.lit(6.283185307179586) * u2)
    c_repo = F.greatest(F.lit(1), F.least(F.lit(200), F.round(F.lit(8.0) * F.exp(F.lit(0.8) * z)).cast("int")))
    commit_idx = F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 51)), c_repo.cast("long"))
    commit = F.substring(
        F.sha2(F.concat(repo, F.lit("@"), commit_idx.cast("string")), 256), 1, 40
    )

    # with_content=False: a cheap deterministic stand-in — structural-edge
    # benches at 10^7+ rows don't need multi-KB strings (derive ignores
    # content except for hashing/co-occurrence).
    content = (
        _make_content_udf(seed)(F.col("id"))
        if with_content
        else F.concat(F.lit("content-"), F.col("id").cast("string"))
    )
    out = df.select(
        repo.alias("repo"),
        path.alias("path"),
        commit.alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
        F.xxhash64(F.col("id"), F.lit(seed + 999)).alias("_shuffle"),
    )
    # Emit in a seeded-permutation order so input order carries no signal.
    return out.orderBy("_shuffle").drop("_shuffle")


def documents_as_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's ``documents`` table onto the source_files schema.

    source~repo, doc_id~path, text~content, lang~lang (FIXTURES.md §3); no
    commit column exists, so a per-repo pseudo-commit is synthesized
    deterministically.
    """
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("path"),
        F.substring(F.sha2(F.concat(F.lit("commit:"), F.col("source")), 256), 1, 40).alias("commit"),
        F.col("lang").alias("lang"),
        F.col("text").alias("content"),
    )


def rmat_edges(
    spark: SparkSession,
    scale: int = 16,
    n_edges: int = 1_000_000,
    a: float = 0.57,
    b: float = 0.19,
    c: float = 0.19,
    seed: int = 42,
) -> DataFrame:
    """Deterministic R-MAT edge generator (Chakrabarti, Zhan, Faloutsos
    2004, "R-MAT: a recursive model for graph mining" — public knowledge;
    the Graph500 generator) — the skew-stress input the synthetic corpus
    can't provide on demand: power-law in/out degrees whose heaviness is
    a single knob (raise ``a``).

    Same discipline as ``source_files``: pure function of (seed, scale,
    n_edges) — edge i's 2*scale quadrant bits all come from seeded
    xxhash64 draws, so any parallelism produces byte-identical edges and
    a re-run is free. One ``range`` scan + one codegen'd aggregate over
    the recursion levels; no shuffle, no UDF, no driver state.

    Quadrant semantics per level: u < a -> (0,0), < a+b -> (0,1),
    < a+b+c -> (1,0), else (1,1); bit l of (src, dst) is the level-l
    choice. a=b=c=0.25 degenerates to the uniform random digraph.
    Self-loops and parallel edges are kept (R-MAT's own behavior) —
    symmetrize/dedup downstream exactly like any raw edge feed."""
    if scale < 1 or scale > 31:
        raise ValueError(f"scale must be in [1, 31], got {scale}")
    if min(a, b, c) < 0 or a + b + c >= 1.0:
        raise ValueError(
            f"need a,b,c >= 0 with a+b+c < 1 (d = 1-a-b-c), got {a},{b},{c}"
        )
    rows = spark.range(n_edges).select(F.col("id").alias("i"))

    def step(acc, lvl):
        u = (
            F.pmod(F.xxhash64(F.col("i"), lvl, F.lit(seed)), F.lit(_MOD))
            / F.lit(float(_MOD))
        )
        sbit = (u >= F.lit(a + b)).cast("long")
        dbit = (
            ((u >= F.lit(a)) & (u < F.lit(a + b)))
            | (u >= F.lit(a + b + c))
        ).cast("long")
        # shiftleft needs a literal shift count; 2^lvl as a double power
        # is exact for lvl <= 31 and casts back losslessly
        p2 = F.pow(F.lit(2.0), lvl.cast("double")).cast("long")
        return F.struct(
            (acc["s"] + sbit * p2).alias("s"),
            (acc["d"] + dbit * p2).alias("d"),
        )

    acc0 = F.struct(F.lit(0).cast("long").alias("s"),
                    F.lit(0).cast("long").alias("d"))
    sd = F.aggregate(F.sequence(F.lit(0), F.lit(scale - 1)), acc0, step)
    return rows.select(
        sd["s"].alias("src"),
        sd["d"].alias("dst"),
        F.lit(1.0).alias("weight"),
    )
