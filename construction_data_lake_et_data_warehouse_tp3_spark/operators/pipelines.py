"""Composed scale-path pipelines — the shapes you actually run at 100 TB,
wired end-to-end as single declarative plans and still oracle-checkable.

Each pairs a cheap candidate-generation stage with an exact verification
stage, so the quadratic work only touches candidates:

- minhash_verified_dups: LSH candidates → exact word-3-gram Jaccard on
  candidates only → verified near-duplicates. (The standalone
  ngram_jaccard_pairs computes Jaccard for every co-shingled pair; here
  the join is bounded by the candidate set.)
- simhash_hamming_pairs: simhash signatures → prefix-bucket join (first
  16 bits equal) → exact Hamming distance on the tail. Prefix bucketing
  is the banding trick for Hamming space: distance ≤ 3 pairs must agree
  on at least one 16-bit half; checking both halves as buckets would be
  exhaustive — one half is the demo here.
- ann_ivf_topk: LSH bucket as coarse quantizer (IVF-style): query
  vectors probe only their own bucket's candidates, then exact cosine
  top-k inside the bucket.
- word_freq_topk: corpus-level token frequencies, global top-20 —
  explode + two-level aggregation; the canonical vocabulary-building
  pass over a text corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.registry import load_table
from .dedup import (
    WORD_SHINGLES,
    WORD_SHINGLES_DUCK,
    duck_lsh_candidates_cte,
    minhash_lsh_candidates,
)
from .similarity import _DOT, _NORM, _TO_DOUBLE, plane_components

JACCARD_THRESHOLD = 0.35
HAMMING_MAX = 3
IVF_TOP_K = 3


def minhash_verified_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates → exact Jaccard (word 3-grams) ≥ τ. The verify join
    touches only candidate pairs — the whole point of LSH at scale."""
    docs = load_table(spark, sf_dir, "documents")
    return _verify_candidates(docs, minhash_lsh_candidates(spark, sf_dir))


def minhash_verified_dups_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment twin of :func:`minhash_verified_dups` on the xxhash64
    LSH family (dedup.minhash_lsh_candidates_fast): the verify kernel is
    IDENTICAL and computes the exact word-3-gram Jaccard, so precision
    is exact by construction regardless of the candidate family — only
    recall depends on which candidates the bands surface, locked within
    one-pair tolerance of the md5 form in tests/test_dedup_recall.py.
    The md5 form keeps the registry slot (DuckDB oracles md5)."""
    from .dedup import minhash_lsh_candidates_fast

    docs = load_table(spark, sf_dir, "documents")
    return _verify_candidates(docs, minhash_lsh_candidates_fast(spark, sf_dir))


def _verify_candidates(docs: DataFrame, candidates: DataFrame) -> DataFrame:
    """The exact-Jaccard verify shared by the md5 and xxhash64 pipelines.

    r12 shape (the _ppjoin_verify idiom): WORD_SHINGLES is already
    array_distinct, so the intersection is computed per candidate pair
    with `array_intersect` over the per-doc shingle ARRAYS — two joins
    keyed on the candidate ids. The r8–r11 shape exploded the corpus
    shingle set into a row STREAM and joined it against itself on
    (doc_b, s): both corpus-sized explodes shuffled in full (the second
    keyed on (doc_b, s) — id×shingle rows), then two more joins
    attached the size aggregation. Now the only corpus-sized exchanges
    carry one array row per doc, and when the candidate side is small
    it broadcasts, leaving the corpus scan shuffle-free (guide §2.3:
    shuffle keys and metadata, not payload streams). n_common =
    |set_a ∩ set_b| and the sizes are the same integers the stream
    shape counted, so jaccard and the oracle hash are unchanged.

    REJECTED rewrite (r10, measured; superseded but kept as history):
    semi-joining the shingle EXPLODE to the candidate-pair docs before
    the stream intersection joins cut the 100× verify 37.5 → ~22 s but
    replicated the banded-minhash lineage into every consumer (5
    minhash folds, ReusedExchange: 0) and DOUBLED the sf0.1/10× wall —
    the array form gets the same candidate-bounded verify without any
    prefilter of the corpus side."""
    sets_df = docs.select("doc_id", F.expr(WORD_SHINGLES).alias("ts"))
    ta = sets_df.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    tb = sets_df.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"))
    # LENGTH prefilter (r12, the PPJoin size-guard idea applied here):
    # n_common ≤ min(m_a, m_b), and the emitted predicate is
    # round(J, 4) ≥ 0.35 ⟺ J ≥ 0.34995 ⟺ i ≥ 0.34995/1.34995·(m_a+m_b),
    # so any surviving pair MUST satisfy
    # min(m_a, m_b) ≥ 0.2592318…·(m_a+m_b). The integer guard below uses
    # 2592/10000 (strictly looser, so it can never drop a row the
    # rounded threshold keeps) and runs BEFORE array_intersect — on the
    # 5M-doc closed-vocab tier most capped-bucket candidates are
    # length-mismatched (uniform 10–100-word docs collide freely in LSH
    # buckets), so the expensive intersect is skipped for them. Output
    # rows are bit-identical; only never-qualifying pairs skip compute.
    return (
        candidates.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(
            F.expr("10000 * least(size(ts_a), size(ts_b))")
            >= F.expr("2592 * (size(ts_a) + size(ts_b))")
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("size(array_intersect(ts_a, ts_b))").alias("n_common"),
            F.expr("size(ts_a)").alias("size_a"),
            F.expr("size(ts_b)").alias("size_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
                4,
            ),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash near-dup pairs: bucket on the first 16 signature bits, then
    exact Hamming ≤ HAMMING_MAX within buckets."""
    from .dedup import simhash_signatures

    sigs = simhash_signatures(spark, sf_dir)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"),
        F.substring("simhash", 1, 16).alias("prefix"),
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"),
        F.substring("simhash", 1, 16).alias("prefix"),
    )
    hamming = sum(
        F.when(
            F.substring("sig_a", i, 1) != F.substring("sig_b", i, 1), 1
        ).otherwise(0)
        for i in range(1, 33)
    )
    return (
        a.join(b, "prefix")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: LSH signature as the coarse cell; each query probes
    only its own cell, exact cosine re-ranks inside. Recall trades against
    the brute-force cosine_topk baseline (compare the two queries)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # malformed vectors (NULL / wrong dimensionality) excluded — the
    # similarity._vectors rule; same len() predicate in the oracle's e CTE
    vec = (
        emb.where(F.expr("size(embedding) = 64"))
        .select("vec_id", F.expr(_TO_DOUBLE).alias("v"))
        .withColumn("norm", F.expr(_NORM.format(a="v")))
    )
    bits = []
    for j in range(1, 5):  # 4 planes → 16 cells: coarse, like IVF nlist
        plane = ", ".join(f"{c}D" for c in plane_components(j))
        dot = (
            f"aggregate(zip_with(v, array({plane}), (x, p) -> x * p),"
            f" cast(0 as double), (acc, x) -> acc + x)"
        )
        bits.append(f"CASE WHEN ({dot}) >= 0 THEN '1' ELSE '0' END")
    cell = F.expr("concat(" + ", ".join(bits) + ")")
    cells = vec.withColumn("cell", cell)
    q = cells.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qn"), "cell",
    )
    c = cells.select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"),
        F.col("norm").alias("cn"), "cell",
    )
    pairs = q.join(c, "cell").where(F.col("query_id") != F.col("cand_id"))
    cosine = F.round(F.expr(_DOT.format(a="qv", b="cv")) / (F.col("qn") * F.col("cn")), 4)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        pairs.select("query_id", "cand_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= IVF_TOP_K)
    )


def word_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: global top-20 tokens by document+total frequency
    (ties broken lexicographically — deterministic)."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(F.expr("split(trim(text), '\\\\s+')")).alias("token")
    )
    counts = tokens.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(20)


#: count-min sketch geometry: DEPTH independent md5-salted hash rows ×
#: WIDTH buckets. 4×1024 cells = 32 KB of counters regardless of corpus
#: size — the point of the sketch.
CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_TOP_K = 20

_CMS_BUCKET = (
    "pmod(CAST(conv(substr(md5(concat(CAST(d AS STRING), '|', token)), 1, 8),"
    f" 16, 10) AS BIGINT), {CMS_WIDTH})"
)


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters: the corpus word frequencies folded
    into a DEPTH×WIDTH counter grid (constant memory at any corpus
    size), then the top-K words' sketch estimates read back beside their
    exact counts — `overestimate` exposes the collision error, and the
    CMS invariant estimate ≥ exact holds by construction.

    Everything is deterministic (md5-salted buckets), so the DuckDB
    oracle REPLAYS the sketch bit-for-bit — the accuracy claim is
    hash-checked, not asserted probabilistically.

    Plan: one token-key shuffle for exact counts; cells aggregate from
    that frame as WEIGHTED increments (DEPTH rows per distinct word, not
    per token instance); the 4096-cell grid broadcasts to the K probe
    rows. At 100 TB: the grid is the only global state and it is 32 KB
    — the map-side-combine profile of a streaming sketch."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.expr("split(trim(text), '\\\\s+')")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
    )
    salted = words.withColumn(
        "d", F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})"))
    ).withColumn("bucket", F.expr(_CMS_BUCKET))
    cells = salted.groupBy("d", "bucket").agg(
        F.sum("n_occurrences").alias("cell")
    )
    topk = words.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(CMS_TOP_K)
    probes = topk.withColumn(
        "d", F.explode(F.expr(f"sequence(0, {CMS_DEPTH - 1})"))
    ).withColumn("bucket", F.expr(_CMS_BUCKET))
    est = (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("token")
        .agg(F.min("cell").alias("cms_estimate"))
    )
    return topk.join(est, "token").select(
        "token",
        "n_occurrences",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("n_occurrences")).alias("overestimate"),
    )


QUERIES = {
    "minhash_verified_dups": minhash_verified_dups,
    "simhash_hamming_pairs": simhash_hamming_pairs,
    "ann_ivf_topk": ann_ivf_topk,
    "word_freq_topk": word_freq_topk,
    "cms_heavy_hitters": cms_heavy_hitters,
}


_HAMMING_DUCK = " + ".join(
    f"CASE WHEN substr(a.simhash, {i}, 1) != substr(b.simhash, {i}, 1) THEN 1 ELSE 0 END"
    for i in range(1, 33)
)


def _duck_ivf_bits() -> str:
    def plane_sql(j: int) -> str:
        comps = ", ".join(str(c) for c in plane_components(j))
        return (
            f"CASE WHEN (SELECT sum(v[d + 1] * p[d + 1]) "
            f"FROM (SELECT [{comps}]::DOUBLE[] AS p), range(0, 64) AS r(d)) >= 0 "
            f"THEN '1' ELSE '0' END"
        )

    return ", ".join(plane_sql(j) for j in range(1, 5))


def duck_verified_dups_cte() -> str:
    """DuckDB CTE chain ending in `verified(doc_a, doc_b, jaccard)` — the
    exact oracle twin of minhash_verified_dups, used by this module's
    ORACLE."""
    return f"""{duck_lsh_candidates_cte()},
        toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
        wsh AS (
            SELECT doc_id, unnest({WORD_SHINGLES_DUCK}) AS s FROM toks
        ),
        vsizes AS (SELECT doc_id, count(*) AS n_sh FROM wsh GROUP BY 1),
        vinter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS n_common
            FROM cand c
            JOIN wsh a ON a.doc_id = c.doc_a
            JOIN wsh b ON b.doc_id = c.doc_b AND b.s = a.s
            GROUP BY 1, 2
        ),
        verified AS (
            SELECT doc_a, doc_b,
                   round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 4) AS jaccard
            FROM vinter
            JOIN vsizes sa ON sa.doc_id = doc_a
            JOIN vsizes sb ON sb.doc_id = doc_b
            WHERE round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 4) >= {JACCARD_THRESHOLD}
        )"""


ORACLE = {
    "minhash_verified_dups": f"""
        WITH {duck_verified_dups_cte()}
        SELECT doc_a, doc_b, jaccard FROM verified
    """,
    "simhash_hamming_pairs": f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS t
            FROM documents WHERE regexp_matches(text, '\\S')
        ),
        bits AS (
            SELECT doc_id, b,
                   CASE WHEN sum(CASE WHEN strpos('0123456789abcdef', md5(t)[b:b]) - 1 >= 8
                                      THEN 1 ELSE -1 END) >= 0
                        THEN '1' ELSE '0' END AS bit
            FROM tok, range(1, 33) AS r(b)
            GROUP BY 1, 2
        ),
        sigs AS (
            SELECT doc_id, string_agg(bit, '' ORDER BY b) AS simhash FROM bits GROUP BY 1
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST({_HAMMING_DUCK} AS INT) AS hamming
        FROM sigs a JOIN sigs b
          ON substr(a.simhash, 1, 16) = substr(b.simhash, 1, 16)
         AND a.doc_id < b.doc_id
        WHERE {_HAMMING_DUCK} <= {HAMMING_MAX}
    """,
    "ann_ivf_topk": f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                   WHERE len(embedding) = 64),
        cells AS (
            SELECT vec_id, v, concat({_duck_ivf_bits()}) AS cell,
                   sqrt(list_dot_product(v, v)) AS norm
            FROM e
        ),
        pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   round(list_dot_product(q.v, c.v) / (q.norm * c.norm), 4) AS cosine
            FROM cells q JOIN cells c ON q.cell = c.cell
            WHERE q.vec_id < 5 AND q.vec_id != c.vec_id
        )
        SELECT query_id, cand_id, cosine, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rank
            FROM pairs
        ) WHERE rank <= {IVF_TOP_K}
    """,
    "word_freq_topk": """
        SELECT token, count(*) AS n_occurrences,
               count(DISTINCT doc_id) AS n_docs
        FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents)
        GROUP BY 1
        ORDER BY n_occurrences DESC, token ASC
        LIMIT 20
    """,
    # the sketch replayed exactly: same md5-salted buckets, same weighted
    # cell sums, same min-over-depth readout
    "cms_heavy_hitters": f"""
        WITH words AS (
            SELECT token, count(*) AS n_occurrences
            FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
                  FROM documents)
            GROUP BY 1
        ),
        salted AS (
            SELECT token, n_occurrences, d,
                   ('0x' || substr(md5(CAST(d AS VARCHAR) || '|' || token), 1, 8))
                       ::BIGINT % {CMS_WIDTH} AS bucket
            FROM words, unnest(range(0, {CMS_DEPTH})) AS s(d)
        ),
        cells AS (
            SELECT d, bucket, CAST(sum(n_occurrences) AS BIGINT) AS cell
            FROM salted GROUP BY 1, 2
        ),
        topk AS (
            SELECT token, n_occurrences FROM words
            ORDER BY n_occurrences DESC, token ASC LIMIT {CMS_TOP_K}
        ),
        probes AS (
            SELECT t.token, t.n_occurrences, s.d, s.bucket
            FROM topk t JOIN salted s USING (token)
        ),
        est AS (
            SELECT p.token, min(c.cell) AS cms_estimate
            FROM probes p JOIN cells c USING (d, bucket)
            GROUP BY 1
        )
        SELECT t.token, t.n_occurrences, e.cms_estimate,
               CAST(e.cms_estimate - t.n_occurrences AS BIGINT) AS overestimate
        FROM topk t JOIN est e USING (token)
    """,
}
