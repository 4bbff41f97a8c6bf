"""Deduplication operators over the `documents` table — the training-data
pipeline surface (beyond-reference, SURVEY §7 M7).

Four strategies, all expressed with JVM-side built-ins (no Python in the
hot path) and all deterministic so the DuckDB oracle can check them:

- exact:      hash-groupBy on md5(text) — one shuffle on the hash.
- minhash:    char-12-gram shingles → k=12 Carter-Wegman minhashes over one
              md5 per shingle → 3 LSH bands of 4 rows → candidates via
              band-bucket grouping, buckets larger than LSH_BUCKET_CAP
              dropped as non-discriminative. Portable determinism trick:
              both engines parse the same md5 hex halves to BIGINT, so the
              hash family is bit-identical with no engine-specific hashes.
- simhash:    32-bit signature from token-hash hex digits (±1 vote per
              digit), folded entirely map-side — no explode, no shuffle.
- n-gram jaccard: word-3-gram shingle join → |∩| / |A∪B| per pair.

Scale notes (100 TB corpus):
- minhash is the scale path: cost is O(docs × shingles × k) map-side plus a
  shuffle keyed on (band, signature); candidate generation never compares
  all pairs. 3 bands × 4 rows ⇒ P(candidate) = 1-(1-J^4)^3: ~0.95 at
  J=0.9, ~0.18 at J=0.5. Selectivity comes from the shingle length and
  the bucket cap (constants below), not the banding alone — on this
  word-soup corpus banding by itself retains ~9% of all pairs (VERDICT
  r1), because a ~40-word vocabulary makes the background pairwise J
  high at short shingle lengths.
- the jaccard join is quadratic in the worst case (all docs share a
  shingle); at scale you run it only on minhash candidates. It's exposed
  standalone here because the oracle can verify it exactly.
- exact dedup at 100 TB: hash first (md5 projected at scan), so the
  shuffle carries 32-byte keys + doc ids, never the documents themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.registry import load_table

#: whitespace tokenization (Spark + DuckDB spellings) — the shared
#: definition; text.py re-exports these for the analysis operators.
TOKENS = "split(trim(text), '\\\\s+')"
TOKENS_DUCK = "string_split_regex(trim(text), '\\s+')"

#: char shingle length. 12 chars (vs the classic 5) because this corpus
#: draws on a ~40-word vocabulary — short shingles make *every* pair look
#: similar and blow up the candidate set. Measured candidate pairs at
#: sf0.1 (5,000 docs, 12.5M pairs) with 3 bands × 4 rows: 5-gram 1.69M,
#: 7-gram 1.13M (~9%, the VERDICT r1 finding), 12-gram 74k, 12-gram +
#: bucket cap 20 → 14k (0.11%) while still catching 24/25 planted
#: J≥0.8 near-dup pairs at sf0.01 (the 1 miss is the LSH probability
#: curve at the 0.8 boundary, not the cap).
SHINGLE_LEN = 12

#: char-SHINGLE_LEN-gram distinct shingle array (Spark SQL expression).
CHAR_SHINGLES = (
    f"array_distinct(transform(sequence(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1)),"
    f" i -> substr(text, i, {SHINGLE_LEN})))"
)

#: same shingle set in DuckDB list-comprehension form.
CHAR_SHINGLES_DUCK = (
    f"list_distinct([substr(text, i, {SHINGLE_LEN}) for i in "
    f"range(1, greatest(len(text) - {SHINGLE_LEN - 1}, 1) + 1)])"
)

#: word-3-gram distinct shingles from whitespace tokens.
WORD_SHINGLES = (
    "array_distinct(transform(sequence(1, greatest(size(split(trim(text), '\\\\s+')) - 2, 1)),"
    " i -> array_join(slice(split(trim(text), '\\\\s+'), i, 3), ' ')))"
)

WORD_SHINGLES_DUCK = (
    "list_distinct([array_to_string(toks[i:i+2], ' ') "
    "for i in range(1, greatest(len(toks) - 2, 1) + 1)])"
)

MINHASH_K = 12
MINHASH_ROWS_PER_BAND = 4  # 3 bands: P(candidate) = 1-(1-J^4)^3

#: LSH buckets with more members than this are dropped, not expanded into
#: pairs. A bucket this large on a near-dup task is a non-discriminative
#: signature (stop-shingle), not a duplicate cluster — and pair expansion
#: is quadratic in bucket size, so one hot bucket dominates the output.
#: At 100 TB this cap is what keeps the worst case linear. Exact-dup
#: clusters bigger than the cap are still caught by dedup_exact (hash
#: groupBy), which is the right tool for them.
LSH_BUCKET_CAP = 20


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on content hash, keep the smallest doc_id
    (deterministic survivor), report copy counts."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("copies"))
    )


def _band_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig): one row per LSH band per doc.

    Hash family: Carter-Wegman over ONE md5 per shingle — h1/h2 are the
    two 48-bit halves of md5(s) and the j-th hash is h1 + j·h2 (exact
    BIGINT, no overflow: 13·2^48 ≪ 2^63; identical in DuckDB via
    ('0x'||hex)::BIGINT).

    All k minima are folded ENTIRELY map-side in one `aggregate()` over
    the shingle array (a k-slot accumulator, one md5 per element) — the
    plan is scan→project with zero shuffle before banding, the same
    shape as the simhash fold. Measured at sf0.1: 0.32 s vs 1.11 s for
    the previous explode→groupBy(k mins) formulation (whose shuffle was
    already small; the win is skipping shingle-row materialization).

    (Other rejected formulations, measured at sf0.1: explode(shingle)×
    explode(j) + groupBy(doc,j) shuffles docs×shingles×k rows — 37 s;
    k array_min columns re-inlining the array k times under
    CollapseProject — 60 s; k per-shingle md5-string min-aggs — 4 s.)"""
    # a CONTENTLESS doc (NULL/empty/whitespace text) can never be a
    # near-duplicate of anything: its shingle set degenerates to {''}
    # (or NULL), so every such doc shares one signature and the
    # generator would fabricate 'duplicate' pairs among unrelated
    # corrupt rows (caught by the streaming dirty-batch lock and the
    # dirty-input parity sweep) - excluded identically on BOTH engines
    docs = docs.where(F.expr("text rlike '\\\\S'"))
    pair = (
        "CAST(conv(substr(hh, 1, 12), 16, 10) AS BIGINT)"
        " + j * CAST(conv(substr(hh, 13, 12), 16, 10) AS BIGINT)"
    )
    mh_fold = (
        f"aggregate(transform({CHAR_SHINGLES}, s -> md5(s)),"
        f" array_repeat(cast(9223372036854775807 as bigint), {MINHASH_K}),"
        f" (acc, hh) -> zip_with(acc, sequence(1, {MINHASH_K}),"
        f" (a, j) -> least(a, {pair})))"
    )
    sigs = docs.select("doc_id", F.expr(mh_fold).alias("mh"))
    return _band_explode(sigs, banded_hash=F.md5)


def _band_explode(sigs: DataFrame, banded_hash) -> DataFrame:
    """(doc_id, mh array<bigint>) → one (doc_id, band, sig) row per band,
    sig = banded_hash over the band's minima — shared by the md5 registry
    form and the xxhash64 deployment twin (banding is hash-agnostic)."""
    n_bands = MINHASH_K // MINHASH_ROWS_PER_BAND
    band_structs = []
    for band in range(n_bands):
        members = [
            F.element_at("mh", j).cast("string")
            for j in range(band * MINHASH_ROWS_PER_BAND + 1, (band + 1) * MINHASH_ROWS_PER_BAND + 1)
        ]
        band_structs.append(
            F.struct(
                F.lit(band).alias("band"),
                banded_hash(F.concat_ws("|", *members)).cast("string").alias("sig"),
            )
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


#: low 48 bits kept from each xxhash64 draw so h1 + K·h2 stays exact
#: BIGINT (13·2^48 ≪ 2^63), mirroring the md5-half family's bound.
_MASK48 = (1 << 48) - 1


def _band_signatures_fast(docs: DataFrame) -> DataFrame:
    """xxhash64 twin of :func:`_band_signatures` (VERDICT r9 ask #5):
    identical Carter-Wegman construction — the j-th hash is h1 + j·h2
    over two independent 48-bit draws per shingle — but the draws come
    from the JVM-intrinsic xxhash64 (one call per (shingle, seed), no
    hex-string materialization or conv() parsing) instead of md5, which
    dominated the 100×-tier wall (slope2 9.9 was hash-bound, not
    plan-bound). Recall is hash-agnostic (any pairwise-independent
    family gives the same collision probability), locked equal on the
    planted-dup corpus in tests/test_dedup_recall.py; the md5 form keeps
    the registry slot because DuckDB has no xxhash64 to oracle against."""
    docs = docs.where(F.expr("text rlike '\\\\S'"))
    mh_fold = (
        f"aggregate(transform({CHAR_SHINGLES}, s -> named_struct("
        f"'h1', xxhash64(s) & {_MASK48}, 'h2', xxhash64(s, 1) & {_MASK48})),"
        f" array_repeat(cast(9223372036854775807 as bigint), {MINHASH_K}),"
        f" (acc, hh) -> zip_with(acc, sequence(1, {MINHASH_K}),"
        f" (a, j) -> least(a, hh.h1 + j * hh.h2)))"
    )
    sigs = docs.select("doc_id", F.expr(mh_fold).alias("mh"))
    return _band_explode(sigs, banded_hash=F.xxhash64)


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidates: band signatures → bucket grouping
    → per-bucket pair expansion (buckets ≤ LSH_BUCKET_CAP only) → distinct
    (doc_a < doc_b) pairs.

    Buckets are size-screened with a count aggregation BEFORE any member
    array is built (see _qualifying_buckets), then pairs expand with an
    array expression — a band self-join would recompute the whole minhash
    lineage for each side (measured ~2× slower). The cap bounds the
    quadratic pair expansion: an oversized bucket means a
    non-discriminative signature, and at 100 TB dropping it is the
    difference between linear and quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    return _bucket_pairs(_band_signatures(docs))


def _qualifying_buckets(bands: DataFrame) -> DataFrame:
    """band signatures → the capped buckets (2..LSH_BUCKET_CAP members,
    ds = sorted member ids) both the pair expansion and the member set
    derive from.

    The size filter runs BEFORE any member array exists (VERDICT r11
    'What's wrong' #1): the old `collect_list → where(size ≤ CAP)`
    materialized EVERY bucket's full member array in the aggregation
    buffer and only then dropped the oversized ones — on closed-vocab
    corpora where non-discriminative signatures produce huge buckets,
    that pre-cap materialization was the measured cause of the xxhash64
    twins' third-decade blowup (slope3 44.1 / 26.2 on the 5M-doc
    tier). Now: count per (band, sig) with an O(1) agg buffer,
    keep 2..CAP keys, left-semi the band rows back, and collect_list
    only over buckets already known to be capped — the agg buffer is
    bounded by CAP regardless of corpus shape.

    The count is a window over the SAME (band, sig) exchange the
    collect_list needs anyway, so the minhash fold runs exactly ONCE — a
    count→cap-filter→semi-join rewrite was measured 1.9× slower at the
    100x tier because the broadcast semi-join split the lineage and
    re-ran the fold on both sides. WindowExec buffers one group at a
    time in a SPILLABLE row buffer (tiny (doc_id, band, sig) rows hit
    disk, not heap), versus ObjectHashAggregate holding every group's
    growing array on-heap at once — degenerate buckets cost bounded
    memory and linear I/O."""
    w = Window.partitionBy("band", "sig")
    return (
        bands.withColumn("n", F.count(F.lit(1)).over(w))
        .where((F.col("n") > 1) & (F.col("n") <= LSH_BUCKET_CAP))
        .groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
    )


def _bucket_pairs(bands: DataFrame) -> DataFrame:
    """band signatures → capped-bucket pair expansion → distinct pairs
    (shared by the md5 registry form and the xxhash64 deployment twin)."""
    pair_expr = (
        "flatten(transform(sequence(1, size(ds) - 1), "
        "i -> transform(slice(ds, i + 1, size(ds) - i), "
        "b -> struct(element_at(ds, i) AS doc_a, b AS doc_b))))"
    )
    return (
        _qualifying_buckets(bands)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )




def minhash_lsh_candidates_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment form of :func:`minhash_lsh_candidates` on the xxhash64
    Carter-Wegman family (see :func:`_band_signatures_fast`) — identical
    banding, bucketing, cap, and pair expansion; only the per-shingle
    hash family differs. Candidate sets differ pair-for-pair (different
    random family ⇒ different band collisions) but recall against the
    exact high-Jaccard ground truth is locked equal in
    tests/test_dedup_recall.py. Lives outside the capped registry: the
    md5 form keeps the oracle slot (DuckDB reproduces md5, not
    xxhash64)."""
    docs = load_table(spark, sf_dir, "documents")
    return _bucket_pairs(_band_signatures_fast(docs))


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 32 hex digits of each distinct token's md5 vote ±1 per
    position; sign of the vote sum is the signature bit.

    Computed entirely map-side: each distinct token is hashed ONCE, then a
    `transform(sequence(1,32), b -> aggregate(hashes, ...))` folds the
    32-slot vote array per document inside a single Project — no explode,
    no shuffle, plan is scan→project. (The previous formulation exploded
    one row per (doc, token, bit) through a shuffle — a 32× row
    amplification; VERDICT r1 §What's wrong #3.)"""
    docs = load_table(spark, sf_dir, "documents")
    # CONTENTLESS documents (NULL/empty/whitespace) are EXCLUDED: the
    # NULL token chain folds to an all-'0' signature on Spark where
    # DuckDB's unnest emits no row, and every whitespace-only doc shares
    # one degenerate signature that the hamming-pair query downstream
    # would pair up as fabricated 'duplicates' - the dirty-input parity
    # sweep and the streaming dirty-batch lock pin the exclusion.
    hashed = docs.where(F.expr("text rlike '\\\\S'")).select(
        "doc_id",
        F.expr(
            "transform(array_distinct(split(trim(text), '\\\\s+')), t -> md5(t))"
        ).alias("hs"),
    )
    vote_sum = (
        "aggregate(hs, 0, (acc, h) -> acc + (CASE WHEN"
        " instr('0123456789abcdef', substr(h, b, 1)) - 1 >= 8 THEN 1 ELSE -1 END))"
    )
    return hashed.select(
        "doc_id",
        F.expr(
            "array_join(transform(sequence(1, 32),"
            f" b -> CASE WHEN {vote_sum} >= 0 THEN '1' ELSE '0' END), '')"
        ).alias("simhash"),
    )


#: PPJoin threshold θ = NUM/DEN (integer guards keep the compare exact).
PPJOIN_NUM, PPJOIN_DEN = 1, 2


def ppjoin_jaccard_pairs(
    spark: SparkSession, sf_dir: str, ordered: DataFrame | None = None
) -> DataFrame:
    """EXACT θ-Jaccard set-similarity join via prefix filtering (the
    PPJoin family, Xiao et al. WWW'08) — the deterministic complement of
    minhash: no probability of a missed pair, yet never all-pairs.

    Prefix-filtering principle: order every doc's shingle set by (global
    frequency asc, shingle) and keep the first m − ⌈θ·m⌉ + 1 entries.
    Two docs with J ≥ θ overlap in ≥ max(⌈θ·m_a⌉, ⌈θ·m_b⌉) shingles, so
    their prefixes MUST share one — candidates come from joining on
    prefix shingles only, and the frequency-ascending order puts the
    RAREST shingles in the prefix, keeping buckets small. Exact
    intersection verify on candidates; the integer guard
    (DEN+NUM)·i ≥ NUM·(m_a+m_b) ⇔ J ≥ θ avoids any float threshold.

    The POSITIONAL filter (PPJoin's second stage) prunes before the
    verify: a shared prefix shingle at 0-based positions p_a, p_b can
    contribute at most min(m_a − p_a, m_b − p_b) to the overlap
    (the shared shingle + everything after it), and J ≥ θ needs overlap
    ≥ ⌈θ/(1+θ)·(m_a+m_b)⌉ — in integers for θ=NUM/DEN:
    (DEN+NUM)·min(...) ≥ NUM·(m_a+m_b). Measured at sf0.1 this cuts the
    candidate set 409k → ~1k before the array-intersect verify.

    Oracle: the brute-force all-pairs form — parity therefore PROVES
    prefix+positional candidate completeness every round (same
    discipline as the PassJoin edit-distance oracle). Scale: one shuffle
    on shingles for counts, one per-doc sort of ~m entries, candidate
    buckets bounded by rare-shingle frequencies.

    `ordered` lets a caller that already materialized the index (the
    saturation router) share it; the registry form builds its own and
    relies on runtime exchange reuse (see _ppjoin_ordered)."""
    docs = load_table(spark, sf_dir, "documents")
    if ordered is None:
        ordered = _ppjoin_ordered(docs)
    pex = _ppjoin_prefix(ordered)
    cand = (
        pex.alias("a")
        .join(pex.alias("b"), "s")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .where(
            F.expr(
                f"({PPJOIN_DEN + PPJOIN_NUM})"
                " * least(a.m - a.pos, b.m - b.pos)"
                f" >= {PPJOIN_NUM} * (a.m + b.m)"
            )
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _ppjoin_verify(cand, ordered)


def _ppjoin_ordered(docs: DataFrame) -> DataFrame:
    """(doc_id, os, m): each doc's distinct word-3-gram shingles ordered
    by (global frequency asc, shingle) — the PPJoin prefix index base,
    shared by the generator, the verify kernel, and the saturation probe.

    The shingle EXPRESSION is exploded, not an aliased column: exploding
    `ts` makes Spark infer a size(ts) > 0 filter below the exchange that
    re-evaluates the whole shingle transform a second time (~6× the
    stage cost, measured at sf0.1). `ordered` is consumed three times
    (prefix explode + both verify sides); the static plan re-expands the
    subtree, but Spark's exchange-reuse dedupes the identical groupBy
    exchange at runtime — measured FASTER than an eager localCheckpoint
    of the index at sf0.1 (2.5 s vs 3.8 s), because the checkpoint pays
    a full materialization without saving any distinct exchange. If a
    future Spark stops reusing these exchanges, checkpointing here is
    the PPJoin-literature "build the prefix index" fallback."""
    # a CONTENTLESS doc (NULL/empty/whitespace text) can never be a
    # near-duplicate of anything: its shingle set degenerates to {''}
    # (or NULL), so every such doc shares one signature and the
    # generator would fabricate 'duplicate' pairs among unrelated
    # corrupt rows (caught by the streaming dirty-batch lock and the
    # dirty-input parity sweep) - excluded identically on BOTH engines
    docs = docs.where(F.expr("text rlike '\\\\S'"))
    ex = docs.select("doc_id", F.explode(F.expr(WORD_SHINGLES)).alias("s"))
    # global shingle frequency as a WINDOW over the same (s) exchange the
    # old agg+join-back needed anyway (r13 — the _qualifying_buckets
    # idiom): the count aggregation and the join disappear from the
    # plan, leaving exchange(s) → window → exchange(doc_id). Measured
    # 1.27 → 0.80 s min-of-5 at sf0.1, output bit-equal; WindowExec
    # buffers one shingle group at a time in a spillable row buffer, so
    # a hot shingle costs bounded memory at 100 TB exactly like the LSH
    # bucket screen.
    w = Window.partitionBy("s")
    return (
        ex.withColumn("cnt", F.count(F.lit(1)).over(w))
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(cnt, s))), p -> p.s)"
            ).alias("os"),
            F.count("*").alias("m"),
        )
    )


def _ppjoin_prefix(ordered: DataFrame) -> DataFrame:
    """(doc_id, m, pos, s): the prefix entries — first m − ⌈θ·m⌉ + 1
    frequency-ordered shingles per doc, with 0-based position."""
    ceil_tm = f"CAST((m * {PPJOIN_NUM} + {PPJOIN_DEN} - 1) DIV {PPJOIN_DEN} AS INT)"
    return ordered.select(
        "doc_id",
        "m",
        F.posexplode(F.expr(f"slice(os, 1, m - {ceil_tm} + 1)")).alias("pos", "s"),
    )


def _ppjoin_verify(cand: DataFrame, ordered: DataFrame) -> DataFrame:
    """The exact θ-Jaccard verification kernel: join candidate (doc_a,
    doc_b) pairs to the ordered shingle arrays, exact array_intersect,
    integer guard (DEN+NUM)·i ≥ NUM·(m_a+m_b) ⇔ J ≥ θ. Shared by the
    PPJoin generator and the saturation-routed LSH path — `os` is the
    same distinct-shingle set as the raw shingles (array_intersect is
    order-insensitive), so the verify side re-uses the ordered subtree
    instead of re-deriving corpus shingles."""
    ta = ordered.select(F.col("doc_id").alias("doc_a"), F.col("os").alias("ts_a"))
    tb = ordered.select(F.col("doc_id").alias("doc_b"), F.col("os").alias("ts_b"))
    verified = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("size(array_intersect(ts_a, ts_b))").alias("i"),
            F.expr("size(ts_a)").alias("ma"),
            F.expr("size(ts_b)").alias("mb"),
        )
    )
    return (
        verified.where(
            F.expr(f"{PPJOIN_DEN + PPJOIN_NUM} * i >= {PPJOIN_NUM} * (ma + mb)")
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("i").cast("double")
                / (F.col("ma") + F.col("mb") - F.col("i"))
            ).alias("jaccard"),
        )
    )


def saturated_route_recall(
    spark: SparkSession,
    sf_dir: str,
    thetas: tuple[tuple[int, int], ...] = ((2, 5), (1, 2), (3, 5)),
    caps: tuple[int, ...] = (LSH_BUCKET_CAP, 2 * LSH_BUCKET_CAP),
) -> DataFrame:
    """Measure the saturated route's completeness TRADE as a curve, not
    one number (VERDICT r8 ask #6): for each θ = num/den and each LSH
    bucket cap, the recall of (LSH candidates ≤ cap → exact θ-verify)
    against the brute-force all-pairs θ ground truth.

    Intended for small closed-vocab fixtures (the regime the router
    actually routes): the ground truth is a deliberate O(n²) self-join.
    Everything downstream of the corpus is md5-deterministic, so on a
    seed-pinned fixture each (θ, cap) recall is an EXACT number the
    suite can pin — a silent candidate-generation regression moves it.

    Returns (theta_num, theta_den, bucket_cap, true_pairs, routed_pairs,
    recall_bp) with recall in basis points (integer, engine-stable)."""
    docs = load_table(spark, sf_dir, "documents")
    ordered = _ppjoin_ordered(docs)
    ta = ordered.select(F.col("doc_id").alias("doc_a"), F.col("os").alias("ts_a"))
    tb = ordered.select(F.col("doc_id").alias("doc_b"), F.col("os").alias("ts_b"))
    brute = (
        ta.join(tb, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("size(array_intersect(ts_a, ts_b))").alias("i"),
            F.expr("size(ts_a)").alias("ma"),
            F.expr("size(ts_b)").alias("mb"),
        )
        .persist()
    )
    bands = _band_signatures(docs)
    sized = bands.groupBy("band", "sig").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds")
    )
    pair_expr = (
        "flatten(transform(sequence(1, size(ds) - 1), "
        "i -> transform(slice(ds, i + 1, size(ds) - i), "
        "b -> struct(element_at(ds, i) AS doc_a, b AS doc_b))))"
    )
    rows = []
    for cap in caps:
        cand = (
            sized.where((F.size("ds") > 1) & (F.size("ds") <= cap))
            .select(F.explode(F.expr(pair_expr)).alias("p"))
            .select("p.doc_a", "p.doc_b")
            .distinct()
        )
        routed_i = cand.join(brute, ["doc_a", "doc_b"])  # carries i/ma/mb
        for num, den in thetas:
            guard = F.expr(f"{den + num} * i >= {num} * (ma + mb)")
            t = brute.where(guard).count()
            r = routed_i.where(guard).count()
            rows.append(
                (num, den, cap, t, r, int(round(10_000 * r / t)) if t else None)
            )
    brute.unpersist()
    return spark.createDataFrame(
        rows,
        "theta_num int, theta_den int, bucket_cap int,"
        " true_pairs bigint, routed_pairs bigint, recall_bp int",
    )


#: saturation cutoff for the routed entry point: an UNSATURATED corpus
#: grows its prefix-shingle vocabulary at least linearly with docs
#: (Heaps' law), so distinct-prefix-shingles ≥ docs holds with huge
#: margin on open-vocab text (sf0.1: 20.4k distinct prefixes / 5k docs
#: = 4.1). When the ratio drops below 1 the shingle space is exhausted
#: (closed/templated vocabulary — the 10× tier measures 22.6k / 50k
#: = 0.45) and prefix-bucket pairs grow quadratically (measured 118×
#: pairs at 10× docs, SCALING.md r7).
PPJOIN_SATURATION_RATIO = 1.0


def ppjoin_prefix_stats(docs: DataFrame) -> tuple[int, int]:
    """(n_docs, distinct_prefix_shingles) — the ONE cheap aggregate the
    saturation guard needs: one pass over the prefix index, no pair
    expansion. At 100 TB this is a map-side partial-aggregated distinct
    over ≤~30 short strings per doc."""
    return _prefix_stats_from(_ppjoin_ordered(docs))


def _prefix_stats_from(ordered: DataFrame) -> tuple[int, int]:
    """ppjoin_prefix_stats over an ALREADY BUILT ordered index — lets
    the router probe and route off one shared materialization instead
    of rebuilding the index per consumer (r9: at the 100x tier the
    index build is the dominant term)."""
    row = (
        _ppjoin_prefix(ordered)
        .agg(
            F.countDistinct("doc_id").alias("n"),
            F.countDistinct("s").alias("d"),
        )
        .collect()[0]
    )
    return int(row.n), int(row.d)


def jaccard_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment entry point for θ-Jaccard near-dup pairs (VERDICT r7
    ask #6): probe prefix saturation first, then route.

    - UNSATURATED (distinct prefix shingles ≥ docs): the exact PPJoin —
      complete by the prefix-filtering theorem, linear on open-vocab
      corpora.
    - SATURATED (closed/templated vocabulary): prefix buckets are
      non-discriminative and the exact generator goes quadratic
      (measured 118× pair growth at 10× docs, SCALING.md r7), so the
      candidate generator switches to MinHash-LSH banding — whose
      bucket cap keeps it linear regardless of vocabulary — with the
      SAME PPJoin verification kernel (exact intersection + integer
      θ-guard) on the candidates. The trade is explicit: completeness
      becomes the LSH recall curve instead of exact, which is the
      documented 100 TB posture for such corpora.

    The registry's `ppjoin_jaccard_pairs` stays the always-exact form so
    the brute-force oracle proves candidate completeness every round;
    this router is the deployment shape for corpora too large for the
    exact form.

    The ordered shingle index is built ONCE and localCheckpointed —
    the probe's collect, the exact route's prefix+verify, and the
    saturated route's verify all read the materialization (r9: before
    this the probe and the verify each rebuilt the index, and at the
    100x tier the build is the dominant term of the whole router)."""
    import logging

    docs = load_table(spark, sf_dir, "documents")
    ordered = _ppjoin_ordered(docs).localCheckpoint(eager=True)
    n_docs, d_prefix = _prefix_stats_from(ordered)
    if d_prefix >= PPJOIN_SATURATION_RATIO * n_docs:
        return ppjoin_jaccard_pairs(spark, sf_dir, ordered=ordered)
    logging.getLogger(__name__).warning(
        "ppjoin prefix index saturated (%d distinct prefix shingles for "
        "%d docs): routing to MinHash-LSH candidates with the PPJoin "
        "verify kernel; pair completeness is now the LSH recall curve",
        d_prefix,
        n_docs,
    )
    cand = minhash_lsh_candidates(spark, sf_dir)
    return _ppjoin_verify(cand, ordered)


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard similarity for pairs sharing ≥1 shingle, kept at
    J ≥ 0.2. At 100 TB this runs on LSH candidates only; standalone here so
    the oracle can verify the exact math."""
    docs = load_table(spark, sf_dir, "documents")
    # a CONTENTLESS doc (NULL/empty/whitespace text) can never be a
    # near-duplicate of anything: its shingle set degenerates to {''}
    # (or NULL), so every such doc shares one signature and the
    # generator would fabricate 'duplicate' pairs among unrelated
    # corrupt rows (caught by the streaming dirty-batch lock and the
    # dirty-input parity sweep) - excluded identically on BOTH engines
    docs = docs.where(F.expr("text rlike '\\\\S'"))
    sh = docs.select("doc_id", F.explode(F.expr(WORD_SHINGLES)).alias("s"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        a.join(b, ["s"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
                4,
            ),
        )
        .where(F.col("jaccard") >= 0.2)
        .select("doc_a", "doc_b", "jaccard")
    )


#: edit-distance banding: docs compare only within the same (lang,
#: length-bucket) band, and only their first EDIT_PREFIX chars are
#: compared. Bucket size is bounded by the corpus' per-language length
#: distribution, so the quadratic levenshtein stays inside small bands.
EDIT_BUCKET_CHARS = 50
EDIT_PREFIX = 40
EDIT_MAX_DIST = 5


#: PassJoin segment layout for the 40-char prefix: EDIT_MAX_DIST + 1
#: segments, so ≤5 edit operations must leave one segment untouched
#: (pigeonhole), displaced by at most ±EDIT_MAX_DIST positions.
_SEG_LAYOUT = ((1, 7), (8, 7), (15, 7), (22, 7), (29, 6), (35, 6))


#: deployment cap for PassJoin candidate keys (edit_distance_pairs_capped):
#: a (lang, bucket, segment, piece) key whose window-side population
#: exceeds this is non-discriminative (closed/templated vocabulary — the
#: r9 100x-tier probe measured 443 s vs 7.8 s at 10x, slope2 ≈ 57: the
#: PPJoin prefix-saturation disease, segment edition) and is dropped from
#: BOTH join sides. Open-vocab corpora never touch the cap (populations
#: are single digits), so the capped form equals the exact form there —
#: locked by test_edit_cap.
EDIT_SEG_CAP = 100


def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs — the typo/small-edit modality that
    shingle-based minhash underweights (one char flip changes 12
    shingles but costs edit distance 1). The JVM-side levenshtein kernel
    runs on 40-char prefixes only, so per-pair cost is bounded
    O(EDIT_PREFIX²) regardless of document length.

    Candidate generation is PassJoin-style pigeonhole banding, NOT a
    plain (lang, length-bucket) self-join: that band's population grows
    linearly with the corpus, so the within-band join is quadratic at
    100 TB. Instead the prefix splits into EDIT_MAX_DIST + 1 = 6
    segments; if lev(a, b) ≤ 5, at least one of a's segments survives
    untouched and appears verbatim in b shifted by at most ±5. Every doc
    therefore emits its 6 exact segments (probing its own and the next
    length bucket) and its ~66 shifted windows; candidates join on the
    CONTENT-keyed (lang, bucket, segment index, segment text) — bucket
    sizes behave like LSH buckets (degenerate shared-prefix bands are
    cappable the same way), not like corpus slices. Pairs dedupe via
    distinct before the exact levenshtein verify, so the rewrite is
    result-identical to the naive banded join — which is exactly what
    the unchanged DuckDB oracle still computes, making the pigeonhole
    candidate set's completeness a parity-checked claim. Docs with
    prefixes shorter than 40 chars (sub-40-char docs, bucket 0 only)
    take the plain band join as a fallback — a negligible, cappable
    population.

    This registry form is always exact (the oracle proves candidate
    completeness); on closed-vocab corpora, where segment pieces
    saturate exactly like PPJoin prefixes, the deployment entry point
    is :func:`edit_distance_pairs_capped`."""
    return _edit_pairs(spark, sf_dir, seg_cap=None)


def edit_distance_pairs_capped(
    spark: SparkSession, sf_dir: str, seg_cap: int = EDIT_SEG_CAP
) -> DataFrame:
    """Deployment form of edit_distance_pairs for saturated corpora
    (the jaccard_dup_pairs posture applied to the edit modality):
    candidate keys whose window-side population exceeds `seg_cap` are
    dropped from both join sides before the pair expansion, keeping the
    candidate set linear on closed-vocab corpora where the exact
    pigeonhole join is quadratic (measured 443 s vs 7.8 s at the r9
    100x closed-vocab tier; capped: see SCALING.md r9). On open-vocab
    corpora the cap never binds and this equals the exact form pair
    for pair. The trade is explicit: completeness drops only for pairs
    whose EVERY surviving segment is saturated — recall on planted
    near-dups is locked in tests/test_dedup.py."""
    return _edit_pairs(spark, sf_dir, seg_cap=seg_cap)


def _edit_pairs(
    spark: SparkSession, sf_dir: str, seg_cap: int | None
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / EDIT_BUCKET_CHARS).cast("bigint").alias("bkt"),
        F.substring("text", 1, EDIT_PREFIX).alias("pfx"),
    )
    full = b.where(F.length("pfx") == EDIT_PREFIX)

    seg_structs = [
        F.struct(
            F.lit(i).alias("i"), F.substring("pfx", start, ln).alias("piece")
        )
        for i, (start, ln) in enumerate(_SEG_LAYOUT)
    ]
    segs = (
        full.select(
            "lang",
            "doc_id",
            "pfx",
            F.explode(F.array(F.col("bkt"), F.col("bkt") + 1)).alias("key"),
            F.array(*seg_structs).alias("ss"),
        )
        .select("lang", "key", "doc_id", "pfx", F.explode("ss").alias("s"))
        .select(
            "lang",
            "key",
            F.col("s.i").alias("i"),
            F.col("s.piece").alias("piece"),
            F.col("doc_id").alias("doc_s"),
            F.col("pfx").alias("pfx_s"),
        )
    )
    win_structs = [
        F.struct(
            F.lit(i).alias("i"),
            F.substring("pfx", start + shift, ln).alias("piece"),
        )
        for i, (start, ln) in enumerate(_SEG_LAYOUT)
        for shift in range(-EDIT_MAX_DIST, EDIT_MAX_DIST + 1)
        if 1 <= start + shift <= EDIT_PREFIX - ln + 1
    ]
    wins = full.select(
        "lang",
        F.col("bkt").alias("key"),
        F.explode(F.array(*win_structs)).alias("w"),
        F.col("doc_id").alias("doc_w"),
        F.col("pfx").alias("pfx_w"),
    ).select(
        "lang", "key", F.col("w.i").alias("i"), F.col("w.piece").alias("piece"),
        "doc_w", "pfx_w",
    )
    if seg_cap is not None:
        # saturation cap: a candidate key shared by more than seg_cap
        # windows is non-discriminative (closed-vocab segment pieces);
        # drop it from BOTH sides — the hot-key list is tiny (only
        # saturated keys), so the anti-joins broadcast
        hot = (
            wins.groupBy("lang", "key", "i", "piece")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > seg_cap)
            .select("lang", "key", "i", "piece")
        )
        segs = segs.join(
            F.broadcast(hot), ["lang", "key", "i", "piece"], "left_anti"
        )
        wins = wins.join(
            F.broadcast(hot), ["lang", "key", "i", "piece"], "left_anti"
        )
    cand_pass = (
        segs.join(wins, ["lang", "key", "i", "piece"])
        .where(F.col("doc_s") != F.col("doc_w"))
        .select(
            F.least("doc_s", "doc_w").alias("doc_a"),
            F.greatest("doc_s", "doc_w").alias("doc_b"),
            F.when(F.col("doc_s") < F.col("doc_w"), F.col("pfx_s"))
            .otherwise(F.col("pfx_w"))
            .alias("pfx_a"),
            F.when(F.col("doc_s") < F.col("doc_w"), F.col("pfx_w"))
            .otherwise(F.col("pfx_s"))
            .alias("pfx_b"),
        )
    )

    # sub-40-char docs: plain band join against everything in reach
    # (their own and both neighbor buckets — all bucket 0/1 in practice)
    short = b.where(F.length("pfx") < EDIT_PREFIX)
    short_probe = short.select(
        "lang",
        F.explode(
            F.array(F.col("bkt") - 1, F.col("bkt"), F.col("bkt") + 1)
        ).alias("key"),
        F.col("doc_id").alias("doc_s"),
        F.col("pfx").alias("pfx_s"),
    )
    home_all = b.select(
        "lang",
        F.col("bkt").alias("key"),
        F.col("doc_id").alias("doc_w"),
        F.col("pfx").alias("pfx_w"),
    )
    cand_short = (
        short_probe.join(home_all, ["lang", "key"])
        .where(F.col("doc_s") != F.col("doc_w"))
        .select(
            F.least("doc_s", "doc_w").alias("doc_a"),
            F.greatest("doc_s", "doc_w").alias("doc_b"),
            F.when(F.col("doc_s") < F.col("doc_w"), F.col("pfx_s"))
            .otherwise(F.col("pfx_w"))
            .alias("pfx_a"),
            F.when(F.col("doc_s") < F.col("doc_w"), F.col("pfx_w"))
            .otherwise(F.col("pfx_s"))
            .alias("pfx_b"),
        )
    )

    return (
        cand_pass.union(cand_short)
        .distinct()
        .withColumn("edit_dist", F.levenshtein("pfx_a", "pfx_b"))
        .where(F.col("edit_dist") <= EDIT_MAX_DIST)
        .select("doc_a", "doc_b", "edit_dist")
    )


#: substring-span dedup: token 8-gram fingerprints, content-selected
#: (winnowing-style) at rate 1/SPAN_SELECT; spans shared by more than
#: SPAN_FREQ_CAP docs are dropped as boilerplate (site chrome, licenses)
#: — the cap is what keeps the pair join linear.
SPAN_TOKENS = 8
SPAN_SELECT = 4
SPAN_FREQ_CAP = 20


def substring_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim-run dedup (the Lee-et-al. 'deduplicating training data'
    modality): docs sharing an identical token run, detected via token
    8-gram fingerprints SELECTED BY THEIR OWN CONTENT — a gram survives
    iff its md5 ≡ 0 (mod SPAN_SELECT). Because selection depends only on
    the gram's text, both docs keep the IDENTICAL fingerprint subset of a
    shared run wherever it sits in each document. (A positional stride
    would sample different windows in each doc — an offset-alignment bug
    this operator's planted-inclusion test exists to prevent.) Catches
    quoting, mirroring and template reuse that whole-doc hashing misses
    and minhash only scores fractionally.

    Recall on a shared run of L tokens is 1 − (1−1/SPAN_SELECT)^(L−7):
    ~97% at L = 20, deterministic given the text. Grams more frequent
    than SPAN_FREQ_CAP docs are dropped before pairing — the boilerplate
    guard that bounds each gram's pair fan-out to O(cap²) at any corpus
    size. All map-side (one md5 per token 8-gram, same cost class as the
    minhash shingle pass) until the gram-hash shuffle; the pair count
    aggregation reuses the same key."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        f"transform(sequence(1, greatest(1, size({TOKENS}) - {SPAN_TOKENS - 1})),"
        f" i -> md5(concat_ws(' ', slice({TOKENS}, i, {SPAN_TOKENS}))))"
    )
    spans = (
        docs.select("doc_id", F.explode(F.expr(grams)).alias("h"))
        .where(
            F.expr(f"pmod(CAST(conv(substr(h, 1, 4), 16, 10) AS BIGINT), {SPAN_SELECT})")
            == 0
        )
        .distinct()
    )
    rare = (
        spans.groupBy("h")
        .agg(F.count("*").alias("n_docs_with"))
        .where(F.col("n_docs_with").between(2, SPAN_FREQ_CAP))
    )
    keyed = spans.join(rare.select("h"), "h")
    a = keyed.select("h", F.col("doc_id").alias("doc_a"))
    b = keyed.select("h", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.countDistinct("h").alias("n_shared_spans"))
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "minhash_lsh_candidates": minhash_lsh_candidates,
    "simhash_signatures": simhash_signatures,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "ppjoin_jaccard_pairs": ppjoin_jaccard_pairs,
    "edit_distance_pairs": edit_distance_pairs,
    "substring_dup_pairs": substring_dup_pairs,
}


def duck_lsh_candidates_cte() -> str:
    """DuckDB CTE chain ending in `cand(doc_a, doc_b)` — the exact oracle
    twin of minhash_lsh_candidates (same shingles, hash family, banding,
    and LSH_BUCKET_CAP). Shared by this module's ORACLE and by
    pipelines.minhash_verified_dups's oracle so the two can never drift."""
    mh_defs = ", ".join(
        f"min(h1 + {j} * h2) AS mh_{j}" for j in range(1, MINHASH_K + 1)
    )
    n_bands = MINHASH_K // MINHASH_ROWS_PER_BAND
    sig_defs = ", ".join(
        "md5(" + " || '|' || ".join(
            f"mh_{j}::VARCHAR"
            for j in range(b * MINHASH_ROWS_PER_BAND + 1, (b + 1) * MINHASH_ROWS_PER_BAND + 1)
        ) + f") AS s{b}"
        for b in range(n_bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, s{b} AS sig FROM msigs" for b in range(n_bands)
    )
    return f"""
        msh AS (SELECT doc_id, unnest({CHAR_SHINGLES_DUCK}) AS s FROM documents
                WHERE regexp_matches(text, '\\S')),
        mhashed AS (
            SELECT doc_id,
                   ('0x' || substr(md5(s), 1, 12))::BIGINT AS h1,
                   ('0x' || substr(md5(s), 13, 12))::BIGINT AS h2
            FROM msh
        ),
        mmh AS (SELECT doc_id, {mh_defs} FROM mhashed GROUP BY 1),
        msigs AS (SELECT doc_id, {sig_defs} FROM mmh),
        mbands AS ({band_union}),
        mkeep AS (
            SELECT band, sig FROM mbands
            GROUP BY 1, 2
            HAVING count(*) >= 2 AND count(*) <= {LSH_BUCKET_CAP}
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM mbands x
            JOIN mkeep k ON x.band = k.band AND x.sig = k.sig
            JOIN mbands y ON y.band = k.band AND y.sig = k.sig
            WHERE x.doc_id < y.doc_id
        )
    """

ORACLE = {
    "dedup_exact": """
        SELECT md5(text) AS content_hash,
               min(doc_id) AS keep_doc_id,
               count(*) AS copies
        FROM documents
        GROUP BY 1
    """,
    "minhash_lsh_candidates": None,  # assigned below — needs duck_lsh_candidates_cte()
    "edit_distance_pairs": f"""
        WITH b AS (
            SELECT doc_id, lang, n_chars // {EDIT_BUCKET_CHARS} AS bkt,
                   substr(text, 1, {EDIT_PREFIX}) AS pfx
            FROM documents
        )
        SELECT least(a.doc_id, c.doc_id) AS doc_a,
               greatest(a.doc_id, c.doc_id) AS doc_b,
               CAST(levenshtein(a.pfx, c.pfx) AS INT) AS edit_dist
        FROM b a JOIN b c
          ON a.lang = c.lang
         AND ((a.bkt = c.bkt AND a.doc_id < c.doc_id)
              OR c.bkt = a.bkt + 1)
        WHERE levenshtein(a.pfx, c.pfx) <= {EDIT_MAX_DIST}
    """,
    "substring_dup_pairs": f"""
        WITH toks AS (
            SELECT doc_id, {TOKENS_DUCK} AS tk FROM documents
        ),
        spans AS (
            SELECT DISTINCT doc_id, h
            FROM toks,
                 unnest(list_transform(
                     generate_series(1,
                         greatest(1, CAST(len(tk) AS BIGINT) - {SPAN_TOKENS - 1})),
                     i -> md5(array_to_string(tk[i:i + {SPAN_TOKENS - 1}], ' '))))
                 AS t(h)
            WHERE ('0x' || substr(h, 1, 4))::BIGINT % {SPAN_SELECT} = 0
        ),
        rare AS (
            SELECT h FROM spans GROUP BY 1
            HAVING count(*) BETWEEN 2 AND {SPAN_FREQ_CAP}
        ),
        keyed AS (SELECT doc_id, h FROM spans JOIN rare USING (h))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(DISTINCT a.h) AS n_shared_spans
        FROM keyed a JOIN keyed b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    """,
    "simhash_signatures": """
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
        )
        SELECT doc_id, string_agg(bit, '' ORDER BY b) AS simhash
        FROM bits GROUP BY 1
    """,
    "ngram_jaccard_pairs": f"""
        WITH sh AS (
            SELECT doc_id, unnest(shingles) AS s
            FROM (
                SELECT doc_id, {WORD_SHINGLES_DUCK} AS shingles
                FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                      FROM documents WHERE regexp_matches(text, '\\S'))
            )
        ),
        sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(n_common / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(n_common / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE), 4) >= 0.2
    """,
    # brute-force all-pairs twin: parity vs the prefix-filtered Spark plan
    # proves candidate completeness (same discipline as PassJoin)
    "ppjoin_jaccard_pairs": f"""
        WITH t AS (
            SELECT doc_id, {WORD_SHINGLES_DUCK} AS ts
            FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                  FROM documents WHERE regexp_matches(text, '\\S'))
        ),
        p AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   len(list_intersect(a.ts, b.ts)) AS i,
                   len(a.ts) AS ma, len(b.ts) AS mb
            FROM t a JOIN t b ON a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(i AS DOUBLE) / (ma + mb - i) AS jaccard
        FROM p
        WHERE {PPJOIN_DEN + PPJOIN_NUM} * i >= {PPJOIN_NUM} * (ma + mb)
    """,
}

ORACLE["minhash_lsh_candidates"] = (
    f"WITH {duck_lsh_candidates_cte()} SELECT doc_a, doc_b FROM cand"
)
