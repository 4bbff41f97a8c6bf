"""Text-analysis operators over `documents` (beyond-reference training-data
surface, SURVEY §7 M7): token counting, quality scoring, language-ID
heuristic, document fingerprinting.

All pure built-in expressions (split/filter/transform) — whole-stage
codegen end to end, embarrassingly parallel at 100 TB (no shuffle except
final small aggregations; per-document work is map-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import load_table
from .dedup import CHAR_SHINGLES_DUCK as _CHAR_SHINGLES_DUCK
from .dedup import TOKENS, TOKENS_DUCK  # shared def lives dedup-side (import order)

#: adjacent word bigrams as strings ('w1 w2'); empty when < 2 words.
#: The short-doc branch MUST be an explicit empty array: Spark's
#: sequence(1, 0) is a DECREMENTING [1, 0], so without the guard a
#: 1-word doc reaches element_at(ws, 0) and throws at runtime (the
#: DuckDB twin's range(1, 1) is already empty). Shared by
#: quality.repetition_stats and bigram_surprisal — ONE definition, so a
#: bigram-derivation fix can never apply to one and not the other.
_BIGRAMS = (
    "if(size({ws}) < 2, array(),"
    " transform(sequence(1, size({ws}) - 1),"
    " i -> concat(element_at({ws}, i), ' ', element_at({ws}, i + 1))))"
)

STOPWORDS = ("the", "a", "and", "of", "to", "in")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

#: trivial per-language marker lists for the n-gram/stopword language-ID
#: heuristic (deterministic; real lists would be swapped in at deploy time).
LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "y", "las"),
}


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting (bpe_token_count below is the
    subword-regex sibling)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(f"size({TOKENS})").alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
    )


#: GPT-2-ish pre-tokenizer approximation: letter runs, digit runs, single
#: punctuation marks. Identical regex syntax in Spark and DuckDB.
_BPE_PIECES = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

#: merges learned per BPE level (two levels → up to 256 total merges).
BPE_MERGES_PER_LEVEL = 128

#: BPE merge application as a fold: the segmentation state is the piece's
#: units joined and bracketed by '|' ('|t|h|e|'); applying merge "x,y"
#: replaces '|x|y|' with '|xy|' left-to-right (the boundary markers stop a
#: pair from matching across token edges, e.g. 'h,e' must not fire inside
#: '|th|e|'). Token count falls out as separators-1 with no re-split.
_BPE_SEG = (
    "aggregate({ms}, concat('|', array_join(split({p}, ''), '|'), '|'), "
    "(a2, m) -> replace(a2, concat('|', replace(m, ',', '|'), '|'), "
    "concat('|', replace(m, ',', ''), '|')))"
)

#: top-k merge ranking without a global sort: collect the (count, pair)
#: pairs (bounded: pair cardinality ≤ |alphabet|² resp. |vocab|²), sort by
#: (count desc, pair asc) via a negated-count struct sort, keep k. At a
#: 100 TB corpus the groupBy beneath this is the only shuffle and carries
#: ~hundreds of distinct pairs after map-side partial aggregation.
_BPE_TOPK = (
    "slice(transform(array_sort(collect_list(struct(-n AS negn, pr AS pr))),"
    f" x -> x.pr), 1, {BPE_MERGES_PER_LEVEL})"
)


def _bpe_merge_table(docs: DataFrame) -> DataFrame:
    """Learn a deterministic two-level BPE merge table from the corpus:
    level 1 = the top-k adjacent CHARACTER pairs, level 2 = the top-k
    adjacent TOKEN pairs after level 1 is applied (hierarchical merges —
    level-2 entries like 'th,e' build on level-1 output). Ties break on
    pair text, so the table is reproducible on any engine. Returns a
    1-row DataFrame with the ordered merge array `ms`."""
    words = docs.select(
        F.explode(F.expr(f"regexp_extract_all(text, '{_BPE_PIECES}', 0)")).alias("w")
    ).where("length(w) >= 2")
    pairs1 = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w)-1),"
                " i -> concat(substring(w, i, 1), ',', substring(w, i+1, 1)))"
            )
        ).alias("pr")
    )
    m1 = pairs1.groupBy("pr").agg(F.count("*").alias("n")).agg(F.expr(_BPE_TOPK).alias("ms"))
    seg1 = words.crossJoin(F.broadcast(m1)).select(
        F.expr(_BPE_SEG.format(ms="ms", p="w")).alias("seg")
    )
    toks = seg1.select(
        F.expr("filter(split(seg, '[|]'), x -> x != '')").alias("ts")
    ).where("size(ts) >= 2")
    pairs2 = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts)-1),"
                " i -> concat(element_at(ts, i), ',', element_at(ts, i+1)))"
            )
        ).alias("pr")
    )
    m2 = pairs2.groupBy("pr").agg(F.count("*").alias("n")).agg(F.expr(_BPE_TOPK).alias("ms2"))
    return m1.crossJoin(m2).select(F.expr("concat(ms, ms2)").alias("ms"))


def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real merge-table BPE counting beside the cheap estimator: learn a
    256-entry two-level merge table from the corpus (one aggregation pass
    per level), broadcast it as a 1-row dim, and count merge-applied
    tokens per document with a pure-expression fold — no UDFs, no driver
    collect. `est_bpe_tokens` keeps the ceil(len/4) density estimate as
    the budget column. At 100 TB the merge table is learned once (two
    tiny-result shuffles); application is embarrassingly parallel
    map-side work."""
    docs = load_table(spark, sf_dir, "documents")
    # NULL-text documents are malformed input and are EXCLUDED (the
    # media-kernel quarantine rule): emitting a row for them is
    # engine-dependent (Spark folds NULL chains to '' where DuckDB
    # yields NULL) - the dirty-input parity sweep locks the exclusion.
    pieces = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.expr(f"regexp_extract_all(text, '{_BPE_PIECES}', 0)").alias("pieces")
    )
    seg_pc = _BPE_SEG.format(ms="ms", p="pc")
    return pieces.crossJoin(F.broadcast(_bpe_merge_table(docs))).select(
        "doc_id",
        F.expr("size(pieces)").alias("n_pieces"),
        F.expr(
            "aggregate(pieces, cast(0 as bigint),"
            " (acc, pc) -> acc + CAST(ceil(length(pc) / 4.0) AS BIGINT))"
        ).alias("est_bpe_tokens"),
        F.expr(
            f"aggregate(pieces, cast(0 as bigint),"
            f" (acc, pc) -> acc + (length({seg_pc}) - length(replace({seg_pc}, '|', '')) - 1))"
        ).alias("bpe_tokens"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token stats + stopword ratio → [0,1] score.
    Score = min(1, n_tokens/50) × (1 − stopword_ratio), rounded."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.expr(f"size({TOKENS})").alias("n_tokens"),
        F.expr(f"size(filter({TOKENS}, x -> x IN ({_STOP_SQL})))").alias("n_stop"),
        F.length("text").alias("n_chars_measured"),
    )
    ratio = F.col("n_stop") / F.col("n_tokens").cast("double")
    return t.select(
        "doc_id",
        "n_tokens",
        "n_chars_measured",
        F.round(ratio, 4).alias("stopword_ratio"),
        F.round(
            F.least(F.lit(1.0), F.col("n_tokens") / F.lit(50.0)) * (1 - ratio), 4
        ).alias("quality_score"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: count hits per language, predict the argmax
    (ties broken en > fr > es; no hits → 'unknown'). Emits the labeled lang
    for agreement analysis."""
    docs = load_table(spark, sf_dir, "documents")
    hits = {
        lang: F.expr(
            f"size(filter({TOKENS}, x -> x IN ({', '.join(repr(w) for w in markers)})))"
        )
        for lang, markers in LANG_MARKERS.items()
    }
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        hits["en"].alias("en_hits"),
        hits["fr"].alias("fr_hits"),
        hits["es"].alias("es_hits"),
    )
    pred = (
        F.when(
            (F.col("en_hits") == 0) & (F.col("fr_hits") == 0) & (F.col("es_hits") == 0),
            "unknown",
        )
        .when(
            (F.col("en_hits") >= F.col("fr_hits")) & (F.col("en_hits") >= F.col("es_hits")),
            "en",
        )
        .when(F.col("fr_hits") >= F.col("es_hits"), "fr")
        .otherwise("es")
    )
    return scored.select("doc_id", "labeled_lang", pred.alias("predicted_lang"))


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix for the marker-word
    language ID against the corpus's labeled `lang` column: one row per
    (labeled, predicted) cell with count and row-share in basis points —
    the per-class precision/recall raw material every model-eval
    pipeline aggregates from predictions at scale.

    Plan: the per-doc prediction is map-side (lang_id's expression
    reused, not reimplemented); the matrix is one ≤|langs|²-group
    aggregation and the row totals ride a window over that tiny frame."""
    preds = lang_id(spark, sf_dir)
    cells = preds.groupBy("labeled_lang", "predicted_lang").agg(
        F.count("*").alias("n_docs")
    )
    return cells.select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        F.expr(
            "(n_docs * 10000) DIV sum(n_docs) OVER (PARTITION BY labeled_lang)"
        ).alias("row_share_bp"),
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k sketch fingerprint: the 4 lexicographically-smallest
    char-shingle hashes, joined — a compact, order-invariant content id
    (rolling-hash winnowing analog, portable to the oracle)."""
    from .dedup import CHAR_SHINGLES

    docs = load_table(spark, sf_dir, "documents")
    # NULL-text documents are malformed input and are EXCLUDED (the
    # media-kernel quarantine rule): emitting a row for them is
    # engine-dependent (Spark folds NULL chains to '' where DuckDB
    # yields NULL) - the dirty-input parity sweep locks the exclusion.
    return docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.expr(
            f"array_join(slice(array_sort(transform({CHAR_SHINGLES}, s -> md5(s))), 1, 4), '|')"
        ).alias("fingerprint"),
    )


def lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal per document — the language-model quality
    proxy (KenLM-style filtering with the corpus itself as the model):
    train unigram probabilities in one aggregation, score every doc by
    its mean token surprisal −ln(count/total). High scores flag docs full
    of corpus-rare tokens (boilerplate, noise, OCR soup).

    Exactness: ln() is computed once per TOKEN TYPE (not per occurrence)
    and immediately rounded to integer micro-nats, so per-doc sums are
    integer arithmetic — engine-exact regardless of summation order; the
    ln(ratio)→round(×1e6) step itself was probe-verified bit-identical
    across Spark/DuckDB over the full count range. Scale: one corpus
    tokenization feeding a (doc_id, tok) tf aggregation; the model and
    grand total fold from that reduced frame, and scoring joins token
    TYPES per doc (Σ tf·sur), never re-expanded occurrences. The
    type-level join stays a shuffle join (vocab-sized right side —
    broadcastable when the vocab fits, but 100 TB web corpora have open
    vocabularies)."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenize+explode: (doc_id, tok) term frequencies are the only
    # corpus-sized aggregation; the model (per-token corpus counts) and
    # the grand total both FOLD from this reduced frame instead of
    # re-expanding the corpus (the r4 shape scanned+exploded 3× and
    # shuffle-joined full occurrences; this joins token TYPES per doc).
    per_doc = (
        docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    model = per_doc.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    total = model.agg(F.sum("cnt").alias("total"))
    scored = model.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(-F.log(F.col("cnt") / F.col("total")) * 1e6)
        .cast("bigint")
        .alias("sur_int"),
    )
    return (
        per_doc.join(scored, "tok")
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(sum(tf) AS BIGINT)").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("sur_int")).alias("sum_sur"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("sum_sur") / F.col("n_tokens") / 1e6, 4).alias(
                "avg_surprisal"
            ),
        )
    )


def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal per document — the conditional upgrade of
    lm_surprisal: score each adjacent word pair by
    −ln((c(w1,w2)+1) / (c(w1·)+V)) (add-1 smoothing over vocab V, KenLM
    backoff's simplest cousin), mean per doc. Bigram repetition is a
    stronger boilerplate signal than unigram rarity: templated docs score
    LOW (their pairs are corpus-frequent), OCR soup scores HIGH.

    Exactness: same integer micro-nat discipline as lm_surprisal — ln once
    per bigram TYPE, rounded, integer per-doc sums. c(w1·) counts bigram
    occurrences with first word w1 (so conditionals normalize). Scale:
    bigram derivation is map-side from the token array (no per-token
    shuffle); the model is two hash aggregations + one vocab count (swap
    countDistinct for approx_count_distinct at open-vocab scale); scoring
    is a shuffle join on the bigram string. Docs with <2 words have no
    bigrams and drop out (identical on the oracle side)."""
    docs = load_table(spark, sf_dir, "documents")
    bgs = (
        docs.select("doc_id", F.expr(TOKENS).alias("ws"))
        .where(F.expr("size(ws) >= 2"))
        .select("doc_id", F.explode(F.expr(_BIGRAMS.format(ws="ws"))).alias("bg"))
    )
    c2 = bgs.groupBy("bg").agg(F.count("*").alias("c2"))
    # c(w1·) folds from the MODEL frame, not the corpus: Σ c2 over
    # bigrams starting with w1 is identical to counting occurrences, and
    # aggregating the vocabulary-sized c2 avoids re-expanding the corpus
    # bigram subtree into a second full scan
    c1 = (
        c2.select(F.split("bg", " ").getItem(0).alias("w1"), "c2")
        .groupBy("w1")
        .agg(F.sum("c2").alias("c1"))
    )
    vocab = (
        docs.select(F.explode(F.expr(TOKENS)).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    scored = (
        c2.withColumn("w1", F.split("bg", " ").getItem(0))
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            F.round(-F.log((F.col("c2") + 1) / (F.col("c1") + F.col("v"))) * 1e6)
            .cast("bigint")
            .alias("sur_int"),
        )
    )
    return (
        bgs.join(scored, "bg")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("sur_int").alias("sum_sur"))
        .select(
            "doc_id",
            "n_bigrams",
            F.round(F.col("sum_sur") / F.col("n_bigrams") / 1e6, 4).alias(
                "avg_surprisal"
            ),
        )
    )


#: inverted-index df band: terms rarer than MIN_DF are long-tail noise,
#: terms commoner than MAX_DF are stopword-scale — real engines shard or
#: special-case those posting lists; banding them out here keeps every
#: collected postings array bounded by MAX_DF at ANY corpus size (the
#: collect_list is the one operation whose state grows with df).
INDEX_MIN_DF = 5
INDEX_MAX_DF = 10_000


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index build: term -> (document frequency, total term
    frequency, sorted posting list of doc_ids) over the corpus — the
    retrieval-side companion of tfidf_top_terms (which keeps per-doc
    top terms; this keeps per-term doc lists).

    Two-level aggregation: (term, doc) partial counts combine map-side,
    then one term-key shuffle builds the postings. sort_array after
    collect_list makes the array deterministic regardless of partition
    arrival order. The df band (see INDEX_MIN_DF/MAX_DF) bounds postings
    state per term."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = (
        docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf_doc"))
    )
    idx = per_doc.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf_doc").alias("tf"),
        F.sort_array(F.collect_list("doc_id")).alias("postings"),
    )
    # postings_csv, not a raw ARRAY column: driver-side canonicalization
    # (pandas sort over every column) cannot order array cells, so the
    # public result carries the deterministic CSV form; consumers needing
    # the array can split(postings_csv, ",").
    return idx.where(F.col("df").between(INDEX_MIN_DF, INDEX_MAX_DF)).select(
        "term",
        "df",
        "tf",
        F.array_join("postings", ",").alias("postings_csv"),
    )


#: hashed bag-of-words dimensionality (the hashing-trick vector width).
HASH_BINS = 32

#: md5-derived bin of one token — engine-identical (Spark's builtin
#: hash() has no DuckDB twin, so the trick hashes with md5 like every
#: other deterministic coin in this repo).
_BIN_SPARK = "pmod(CAST(conv(substr(md5({t}), 1, 6), 16, 10) AS BIGINT), " + str(
    HASH_BINS
) + ")"
_BIN_DUCK = "(('0x' || substr(md5({t}), 1, 6))::BIGINT % " + str(HASH_BINS) + ")"


def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words: each document becomes a fixed
    HASH_BINS-wide count vector with tokens bucketed by md5 — the
    vocabulary-free featurizer (Weinberger et al. 2009) that needs no
    dictionary build, no vocabulary shuffle, and no OOV handling, which
    is why it is the default first featurizer at 100 TB.

    Plan: map-only — per doc the vector is one expression
    (transform over the bin range counting matching tokens); a single
    scan, ZERO exchanges.  Per-row cost is
    HASH_BINS passes over the token array; for very long docs flip to
    explode + groupBy(doc, bin) and pay the shuffle instead."""
    docs = load_table(spark, sf_dir, "documents")
    # NULL-text documents are malformed input and are EXCLUDED (the
    # media-kernel quarantine rule): emitting a row for them is
    # engine-dependent (Spark folds NULL chains to '' where DuckDB
    # yields NULL) - the dirty-input parity sweep locks the exclusion.
    docs = docs.where(F.col("text").isNotNull())
    bin_of = _BIN_SPARK.format(t="x")
    # feat_csv, not a raw ARRAY column: the driver canonicalizer cannot
    # sort array cells (see inverted_index) — the vector rides as its
    # deterministic CSV rendering; split(feat_csv, ',') recovers it.
    return docs.select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, {HASH_BINS - 1}),"
            f" b -> size(filter({TOKENS}, x -> {bin_of} = b)))"
        ).alias("feat"),
    ).select(
        "doc_id",
        F.expr("array_join(transform(feat, x -> cast(x AS string)), ',')").alias(
            "feat_csv"
        ),
        F.expr(
            "aggregate(feat, 0, (a, x) -> a + CASE WHEN x > 0 THEN 1 ELSE 0 END)"
        ).alias("nnz"),
        F.expr("aggregate(feat, 0, (a, x) -> a + x)").alias("n_tokens"),
    )


#: PMI support floor: pairs co-occurring in fewer docs are noise (and
#: the floor is what bounds the pair frame that reaches the joins).
PMI_MIN_COOC = 10
PMI_TOP_N = 30


def term_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information: for token pairs
    co-occurring in ≥ PMI_MIN_COOC documents, PMI = ln(N·c_ab/(c_a·c_b))
    over DOCUMENT-level co-occurrence (distinct tokens per doc) — the
    phrase-detection signal (word2vec's phrase pass, KeyBERT-ish) run
    corpus-wide.  ln once per surviving PAIR on an exactly-represented
    integer quotient, rounded to integer micro-nats (the lm_surprisal
    discipline), so ranking and hashes are bit-stable.

    Plan (r12): per-doc PAIRS expand MAP-SIDE from the sorted distinct
    token array — array_sort's binary string order is the same order
    `tok_a < tok_b` compared, so the expansion emits exactly the pairs
    the r≤11 doc_id self-join produced, without the self-join's
    doc_id-keyed exchange of the whole token stream (guide §2.4; the
    pair stream now hits its ONE exchange at the (tok_a, tok_b)
    aggregation, with map-side partial counts). Pair expansion stays
    |doc|² bounded by doc length, never corpus²; the support floor
    collapses it to the frequent-pair frame BEFORE the unigram joins,
    which broadcast (the unigram frame is vocabulary-sized, ≪ corpus);
    top-N compiles to TakeOrderedAndProject.  Integer headroom:
    c_ab·N ≤ N² — at N > 3·10^9 docs promote the product to
    DECIMAL(38,0)/HUGEINT before the ln."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.expr(f"array_distinct({TOKENS})")).alias("tok"),
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    uni = toks.groupBy("tok").agg(F.count("*").alias("c"))
    pair_expr = (
        f"flatten(transform(sequence(1, size(dt) - 1), "
        f"i -> transform(slice(dt, i + 1, size(dt) - i), "
        f"b -> struct(element_at(dt, i) AS tok_a, b AS tok_b))))"
    )
    pairs = (
        docs.select(F.expr(f"array_sort(array_distinct({TOKENS}))").alias("dt"))
        .where(F.size("dt") > 1)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.tok_a").alias("tok_a"), F.col("p.tok_b").alias("tok_b"))
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= PMI_MIN_COOC)
    )
    ca = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    cb = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    scored = (
        pairs.join(F.broadcast(ca), "tok_a")
        .join(F.broadcast(cb), "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            "c_a",
            "c_b",
            F.expr(
                "CAST(round(ln(CAST(c_ab * n_docs AS DOUBLE)"
                " / CAST(c_a * c_b AS DOUBLE)) * 1000000) AS BIGINT)"
            ).alias("pmi_micro"),
        )
    )
    return scored.orderBy(F.desc("pmi_micro"), "tok_a", "tok_b").limit(PMI_TOP_N)


QUERIES = {
    "token_count": token_count,
    "term_pmi_pairs": term_pmi_pairs,
    "feature_hashing": feature_hashing,
    "bpe_token_count": bpe_token_count,
    "text_quality": text_quality,
    "lang_id": lang_id,
    "lang_id_confusion": lang_id_confusion,
    "doc_fingerprint": doc_fingerprint,
    "lm_surprisal": lm_surprisal,
    "bigram_surprisal": bigram_surprisal,
    "inverted_index": inverted_index,
}

_HITS_DUCK = {
    lang: f"len(list_filter({TOKENS_DUCK}, x -> x IN ({', '.join(repr(w) for w in markers)})))"
    for lang, markers in LANG_MARKERS.items()
}

ORACLE = {
    "feature_hashing": f"""
        WITH base AS (
            SELECT doc_id, {TOKENS_DUCK} AS ws FROM documents
            WHERE text IS NOT NULL
        ),
        f AS (
            SELECT doc_id,
                   [len(list_filter(ws, x -> {_BIN_DUCK.format(t='x')} = b))
                    for b in range(0, {HASH_BINS})] AS feat
            FROM base
        )
        SELECT doc_id, array_to_string(feat, ',') AS feat_csv,
               CAST(list_sum(list_transform(feat,
                    x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)) AS INT) AS nnz,
               CAST(list_sum(feat) AS INT) AS n_tokens
        FROM f
    """,
    "term_pmi_pairs": f"""
        WITH toks AS (
            SELECT doc_id, unnest(list_distinct({TOKENS_DUCK})) AS tok
            FROM documents
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        uni AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
        pairs AS (
            SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS c_ab
            FROM toks a JOIN toks b
              ON a.doc_id = b.doc_id AND a.tok < b.tok
            GROUP BY 1, 2
            HAVING count(*) >= {PMI_MIN_COOC}
        )
        SELECT tok_a, tok_b, c_ab, ca.c AS c_a, cb.c AS c_b,
               CAST(round(ln(CAST(c_ab * n_docs AS DOUBLE)
                    / CAST(ca.c * cb.c AS DOUBLE)) * 1000000) AS BIGINT)
                   AS pmi_micro
        FROM pairs
        CROSS JOIN n
        JOIN uni ca ON ca.tok = pairs.tok_a
        JOIN uni cb ON cb.tok = pairs.tok_b
        ORDER BY pmi_micro DESC, tok_a, tok_b
        LIMIT {PMI_TOP_N}
    """,
    "token_count": f"""
        SELECT doc_id,
               len({TOKENS_DUCK}) AS n_tokens,
               len(text) AS n_chars_measured
        FROM documents
    """,
    # Same two-level merge learning + fold application as the Spark side:
    # list_reduce has no init-value form in DuckDB 1.0, so the initial
    # segmentation state is prepended to the merge list.
    "bpe_token_count": (
        lambda seg_w, seg_pc: rf"""
        WITH p AS (
            SELECT doc_id,
                   regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS pieces
            FROM documents WHERE text IS NOT NULL
        ),
        w AS (SELECT unnest(pieces) AS word FROM p WHERE len(pieces) > 0),
        pairs1 AS (
            SELECT unnest(list_transform(generate_series(1, length(word) - 1),
                     i -> substr(word, i, 1) || ',' || substr(word, i + 1, 1))) AS pr
            FROM w WHERE length(word) >= 2
        ),
        m1 AS (
            SELECT list(pr ORDER BY n DESC, pr ASC) AS ms
            FROM (SELECT pr, count(*) AS n FROM pairs1 GROUP BY 1
                  ORDER BY n DESC, pr ASC LIMIT {BPE_MERGES_PER_LEVEL})
        ),
        seg1 AS (SELECT {seg_w} AS seg FROM w, m1),
        toks AS (SELECT list_filter(string_split(seg, '|'), x -> x <> '') AS ts FROM seg1),
        pairs2 AS (
            SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
                     i -> ts[i] || ',' || ts[i + 1])) AS pr
            FROM toks WHERE len(ts) >= 2
        ),
        m2 AS (
            SELECT list(pr ORDER BY n DESC, pr ASC) AS ms
            FROM (SELECT pr, count(*) AS n FROM pairs2 GROUP BY 1
                  ORDER BY n DESC, pr ASC LIMIT {BPE_MERGES_PER_LEVEL})
        ),
        mall AS (SELECT m1.ms || m2.ms AS ms FROM m1, m2)
        SELECT doc_id,
               len(pieces) AS n_pieces,
               CAST(coalesce(list_sum(list_transform(pieces,
                    pc -> CAST(ceil(length(pc) / 4.0) AS BIGINT))), 0) AS BIGINT) AS est_bpe_tokens,
               CAST(coalesce(list_sum(list_transform(pieces,
                    pc -> length({seg_pc}) - length(replace({seg_pc}, '|', '')) - 1)), 0) AS BIGINT) AS bpe_tokens
        FROM p, mall
    """
    )(
        *(
            "list_reduce(list_prepend('|' || array_to_string(string_split({p}, ''), '|') || '|', {ms}), "
            "(a2, m) -> replace(a2, '|' || replace(m, ',', '|') || '|', "
            "'|' || replace(m, ',', '') || '|'))".format(ms=ms, p=p)
            for ms, p in (("m1.ms", "word"), ("ms", "pc"))
        )
    ),
    "text_quality": f"""
        WITH t AS (
            SELECT doc_id,
                   len({TOKENS_DUCK}) AS n_tokens,
                   len(list_filter({TOKENS_DUCK}, x -> x IN ({_STOP_SQL}))) AS n_stop,
                   len(text) AS n_chars_measured
            FROM documents
        )
        SELECT doc_id, n_tokens, n_chars_measured,
               round(n_stop / CAST(n_tokens AS DOUBLE), 4) AS stopword_ratio,
               round(least(CAST(1.0 AS DOUBLE), n_tokens / CAST(50.0 AS DOUBLE))
                     * (1 - n_stop / CAST(n_tokens AS DOUBLE)), 4) AS quality_score
        FROM t
    """,
    "lang_id": f"""
        WITH t AS (
            SELECT doc_id, lang AS labeled_lang,
                   {_HITS_DUCK['en']} AS en_hits,
                   {_HITS_DUCK['fr']} AS fr_hits,
                   {_HITS_DUCK['es']} AS es_hits
            FROM documents
        )
        SELECT doc_id, labeled_lang,
               CASE WHEN en_hits = 0 AND fr_hits = 0 AND es_hits = 0 THEN 'unknown'
                    WHEN en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
                    WHEN fr_hits >= es_hits THEN 'fr'
                    ELSE 'es' END AS predicted_lang
        FROM t
    """,
    "lang_id_confusion": f"""
        WITH t AS (
            SELECT lang AS labeled_lang,
                   {_HITS_DUCK['en']} AS en_hits,
                   {_HITS_DUCK['fr']} AS fr_hits,
                   {_HITS_DUCK['es']} AS es_hits
            FROM documents
        ),
        p AS (
            SELECT labeled_lang,
                   CASE WHEN en_hits = 0 AND fr_hits = 0 AND es_hits = 0 THEN 'unknown'
                        WHEN en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
                        WHEN fr_hits >= es_hits THEN 'fr'
                        ELSE 'es' END AS predicted_lang
            FROM t
        ),
        cells AS (
            SELECT labeled_lang, predicted_lang, count(*) AS n_docs
            FROM p GROUP BY 1, 2
        )
        SELECT labeled_lang, predicted_lang, n_docs,
               CAST((n_docs * 10000)
                    // sum(n_docs) OVER (PARTITION BY labeled_lang)
                    AS BIGINT) AS row_share_bp
        FROM cells
    """,
    "doc_fingerprint": f"""
        SELECT doc_id,
               array_to_string(
                   list_sort([md5(s) for s in {_CHAR_SHINGLES_DUCK}])[1:4], '|') AS fingerprint
        FROM documents WHERE text IS NOT NULL
    """,
    "lm_surprisal": f"""
        WITH tokens AS (
            SELECT doc_id, unnest({TOKENS_DUCK}) AS tok FROM documents
        ),
        model AS (SELECT tok, count(*) AS cnt FROM tokens GROUP BY 1),
        tot AS (SELECT count(*) AS total FROM tokens),
        scored AS (
            SELECT tok,
                   CAST(round(-ln(cnt / total) * 1e6) AS BIGINT) AS sur_int
            FROM model, tot
        )
        SELECT doc_id, count(*) AS n_tokens,
               round(CAST(sum(sur_int) AS BIGINT) / count(*) / 1e6, 4)
                   AS avg_surprisal
        FROM tokens JOIN scored USING (tok)
        GROUP BY 1
    """,
    # same micro-nat discipline, conditional model: −ln((c2+1)/(c1+V))
    # once per bigram TYPE; c1 counts bigram occurrences by first word
    "bigram_surprisal": f"""
        WITH base AS (
            SELECT doc_id, {TOKENS_DUCK} AS ws FROM documents
        ),
        bgs AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(ws)),
                          i -> ws[i] || ' ' || ws[i + 1])) AS bg
            FROM base WHERE len(ws) >= 2
        ),
        c2 AS (SELECT bg, count(*) AS c2 FROM bgs GROUP BY 1),
        c1 AS (
            SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
            FROM bgs GROUP BY 1
        ),
        vocab AS (
            SELECT count(DISTINCT tok) AS v
            FROM (SELECT unnest({TOKENS_DUCK}) AS tok FROM documents)
        ),
        scored AS (
            SELECT bg,
                   CAST(round(-ln((c2 + 1) / (c1 + v)) * 1e6) AS BIGINT)
                       AS sur_int
            FROM c2
            JOIN c1 ON split_part(bg, ' ', 1) = w1, vocab
        )
        SELECT doc_id, count(*) AS n_bigrams,
               round(CAST(sum(sur_int) AS BIGINT) / count(*) / 1e6, 4)
                   AS avg_surprisal
        FROM bgs JOIN scored USING (bg)
        GROUP BY 1
    """,
    "inverted_index": f"""
        WITH per_doc AS (
            SELECT term, doc_id, count(*) AS tf_doc
            FROM (
                SELECT doc_id, unnest({TOKENS_DUCK}) AS term FROM documents
            )
            GROUP BY term, doc_id
        ),
        idx AS (
            SELECT term, count(*) AS df,
                   CAST(sum(tf_doc) AS BIGINT) AS tf,
                   string_agg(doc_id, ',' ORDER BY doc_id) AS postings_csv
            FROM per_doc GROUP BY term
        )
        SELECT term, df, tf, postings_csv
        FROM idx WHERE df BETWEEN {INDEX_MIN_DF} AND {INDEX_MAX_DF}
    """,
}
