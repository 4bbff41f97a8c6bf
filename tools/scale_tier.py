#!/usr/bin/env python
"""Decade-tier strong-scaling sweep for the heaviest pipelines
(VERDICT r6 ask #5, widened r7 ask #8, second decade r8 ask #1,
min-of-3 100x probes + connected components + xxhash twin r9 asks
#2/#5/#6, opt-in third decade r9 ask #3). With --out the results land
in SCALE_r{N}.json so tests/test_scale_slopes.py can diff slopes
round-over-round — a one-off prose table rots; a committed artifact
regresses loudly.

The committed sf0.001→0.1 table (SCALING.md) never stresses these —
they run at fixed doc/embedding counts or at the sibling sf0.01 — so
this tool synthesizes a 10×-sf0.1 tier for JUST the three tables they
read (documents 50k, embeddings 20k, lineitem 6M) with the same
generative shape as the driver testdata (measured empirically from
sf0.1: 31-word vocabulary, uniform 10–100-word docs, 20 sources,
empirical language mix; label-centroid Gaussian embeddings; empirical
items-per-order distribution with parts scaled with orders so per-node
co-purchase degree stays constant), then measures each query at sf0.1
and at the tier (warmup + min-of-3) and prints one JSON line per query.

Deterministic: numpy PCG64 seed 42. The tier is cached under /tmp and
reused across runs; delete the dir to regenerate.

Usage: python tools/scale_tier.py [--tier-dir /tmp/tp3_scale_sf1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# The committed sweep methodology is a 64 GiB driver heap (SCALING.md
# r10; the session default of 16g OOMs kcore's localCheckpoint at the
# 100x tier). Set BEFORE any repo import: session.py now reads the env
# at get_spark() time, but pinning it here keeps the sweep honest even
# against an import-time reader. An explicit env var still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")

SF01 = "/root/testdata/sf0.1"

#: the sf0.1 document vocabulary (measured: 31 distinct words).
VOCAB = None  # filled from sf0.1 at generation time

QUERIES = (
    "semdedup_pairs",
    "kcore_products",
    "kmeans_embeddings",
    "ppjoin_jaccard_pairs",
    "shingle_containment_pairs",
    "item_similarity_topk",
    "basket_lift",
    "minhash_lsh_candidates",
    "edit_distance_pairs",
    # r10: the xxhash64 minhash deployment twin (VERDICT r9 ask #5)
    "minhash_lsh_candidates_fast",
)

#: VERDICT r8 ask #1 / r9 ask #6 — the SECOND measured decade
#: (100x-sf0.1: 500k docs / 200k embeddings / ~60M lineitem rows).
#: `jaccard_dup_pairs` is the deployment router (not a registry query —
#: the registry keeps the always-exact form for oracle completeness), so
#: the two-decade sweep measures the router: on this closed-vocab tier
#: it routes to LSH candidates + exact verify, the documented 100 TB
#: posture. Since r10 EVERY probe runs the 100x tier warm + min-of-3
#: (the r9 probes were warm + one pass and lived only in SCALING.md
#: prose — one noisy pass could mask a regression); the committed
#: artifact is what test_scale_slopes.py diffs round over round.
TIER100_QUERIES = (
    "semdedup_pairs",
    "jaccard_dup_pairs",
    "kcore_products",
    "kmeans_embeddings",
    "basket_lift",
    "item_similarity_topk",
    "minhash_lsh_candidates",
    "minhash_lsh_candidates_fast",
    "shingle_containment_pairs",
    "edit_distance_pairs",
    "edit_distance_pairs_capped",
)

#: THIRD measured decade (1000x-sf0.1: 5M docs, documents-only — the
#: r9 shingle methodology made reproducible): for operators whose cap
#: binds LATE on closed vocab, the 100x slope2 alone cannot distinguish
#: "transitional regime approaching the cap" from "compounding
#:  quadratic"; the third decade does. Opt-in (hours-scale walls);
#: only documents-reading queries are valid here. r11 adds the xxhash64
#: minhash deployment default (VERDICT r10 ask #6): its strict <10
#: slope2 deserves the same closed-vocab flattening proof edit-capped
#: got before a 5M-doc corpus surprises it.
TIER1000_QUERIES = (
    "edit_distance_pairs_capped",
    "minhash_lsh_candidates_fast",
)


def _gen_documents(rng: np.random.Generator, out: str, n: int) -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    con = duckdb.connect()
    vocab = [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT unnest(string_split(text,' ')) w FROM "
            f"read_parquet('{SF01}/documents.parquet') ORDER BY 1"
        ).fetchall()
    ]
    langs, lang_n = zip(
        *con.execute(
            f"SELECT lang, count(*) FROM read_parquet('{SF01}/documents.parquet')"
            " GROUP BY 1 ORDER BY 1"
        ).fetchall()
    )
    p_lang = np.array(lang_n, dtype=float)
    p_lang /= p_lang.sum()
    lengths = rng.integers(10, 101, size=n)
    texts = [
        " ".join(rng.choice(vocab, size=int(ln))) for ln in lengths
    ]
    # plant ~5% near-duplicates (copy an earlier doc, swap two words):
    # the LSH→verify pipelines' cost tracks DUP DENSITY, so a tier
    # with zero planted structure understates their work (the r7
    # leakage_safe_split 0.62x row); 5% at ~2 edits keeps the dup rate
    # in the testdata's ballpark while still exceeding the verify
    # threshold for most pairs.
    n_dups = n // 20
    for j in range(n_dups):
        i = n - n_dups + j
        src = int(rng.integers(0, n - n_dups))
        words = texts[src].split(" ")
        for _ in range(min(2, len(words))):
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
        texts[i] = " ".join(words)
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), type=pa.int64()),
            "text": texts,
            "lang": rng.choice(langs, size=n, p=p_lang),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(out, "documents.parquet"))


def _gen_embeddings(rng: np.random.Generator, out: str, n: int) -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    con = duckdb.connect()
    cent = con.execute(
        f"""SELECT label, list(m ORDER BY dim) FROM (
            SELECT label, dim, avg(e) m FROM (
                SELECT label,
                       generate_subscripts(embedding, 1) dim,
                       unnest(embedding) e
                FROM read_parquet('{SF01}/embeddings.parquet')
            ) GROUP BY 1, 2
        ) GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    std = con.execute(
        f"""SELECT stddev_samp(e) FROM (
            SELECT unnest(embedding) e
            FROM read_parquet('{SF01}/embeddings.parquet'))"""
    ).fetchone()[0]
    centroids = {lbl: np.array(m) for lbl, m in cent}
    labels = rng.integers(0, len(centroids), size=n)
    vecs = np.stack(
        [centroids[int(l)] for l in labels]
    ) + rng.normal(0, std * 0.6, size=(n, 64))
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), type=pa.int64()),
            "embedding": pa.array(
                [row.astype(np.float32) for row in vecs],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(labels.astype(np.int64)),
        }
    )
    pq.write_table(tbl, os.path.join(out, "embeddings.parquet"))


def _gen_lineitem(rng: np.random.Generator, out: str, n_orders: int, n_parts: int) -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    con = duckdb.connect()
    items, counts = zip(
        *con.execute(
            f"""SELECT items, count(*) FROM (
                SELECT l_orderkey, count(*) items
                FROM read_parquet('{SF01}/lineitem.parquet') GROUP BY 1
            ) GROUP BY 1 ORDER BY 1"""
        ).fetchall()
    )
    p = np.array(counts, dtype=float)
    p /= p.sum()
    per_order = rng.choice(np.array(items), size=n_orders, p=p)
    total = int(per_order.sum())
    orderkeys = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    partkeys = rng.integers(0, n_parts, size=total).astype(np.int64)
    # l_shipdate present because load_table normalizes it (ns→µs repair);
    # kcore never reads it, so a constant epoch-day spread is enough
    ship_ns = (
        np.int64(1_600_000_000_000_000_000)
        + (orderkeys % 365) * np.int64(86_400_000_000_000)
    )
    tbl = pa.table(
        {
            "l_orderkey": orderkeys,
            "l_partkey": partkeys,
            "l_shipdate": pa.array(ship_ns, type=pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(out, "lineitem.parquet"))


#: bump when any _gen_* changes shape: the /tmp cache otherwise outlives
#: the generator and silently measures a DIFFERENT corpus (an r8 sweep
#: reused a pre-dup-planting tier — leakage_safe_split read 0.63x, the
#: r7 "no planted dup structure" draft value, instead of ~1.3x).
TIER_VERSION = "2-planted-dups"


def _tier_cached(tier_dir: str, version: str) -> bool:
    import shutil

    marker = os.path.join(tier_dir, "_complete")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == version:
                return True
        print(
            f"stale tier cache (generator {version} vs cached) — regenerating",
            file=sys.stderr,
        )
        shutil.rmtree(tier_dir, ignore_errors=True)
    return False


def ensure_tier(tier_dir: str) -> None:
    if _tier_cached(tier_dir, TIER_VERSION):
        return
    os.makedirs(tier_dir, exist_ok=True)
    rng = np.random.default_rng(42)
    print(f"generating 10x tier under {tier_dir} ...", file=sys.stderr)
    _gen_documents(rng, tier_dir, 50_000)
    _gen_embeddings(rng, tier_dir, 20_000)
    _gen_lineitem(rng, tier_dir, 1_500_000, 200_000)
    with open(os.path.join(tier_dir, "_complete"), "w") as fh:
        fh.write(TIER_VERSION)


#: second-decade generator version (independent of TIER_VERSION so the
#: 10x cache — whose rng call sequence the vectorized path does not
#: reproduce — stays byte-identical to the r8 artifact's corpus).
TIER100_VERSION = "1-planted-dups-vectorized"


def _gen_documents_vectorized(rng: np.random.Generator, out: str, n: int) -> None:
    """Same generative shape as ``_gen_documents`` (iid uniform vocab
    words, uniform 10-100-word docs, 5% planted ~2-edit near-dups,
    empirical language mix, 20 sources) but one flattened word draw
    instead of one ``rng.choice`` per doc — at 500k docs the per-doc
    path spends minutes in Python dispatch for an identical iid
    distribution."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    con = duckdb.connect()
    vocab = np.array(
        [
            r[0]
            for r in con.execute(
                f"SELECT DISTINCT unnest(string_split(text,' ')) w FROM "
                f"read_parquet('{SF01}/documents.parquet') ORDER BY 1"
            ).fetchall()
        ]
    )
    langs, lang_n = zip(
        *con.execute(
            f"SELECT lang, count(*) FROM read_parquet('{SF01}/documents.parquet')"
            " GROUP BY 1 ORDER BY 1"
        ).fetchall()
    )
    p_lang = np.array(lang_n, dtype=float)
    p_lang /= p_lang.sum()
    lengths = rng.integers(10, 101, size=n)
    flat = vocab[rng.integers(0, len(vocab), size=int(lengths.sum()))]
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    texts = [" ".join(flat[bounds[i] : bounds[i + 1]]) for i in range(n)]
    n_dups = n // 20
    for j in range(n_dups):
        i = n - n_dups + j
        src = int(rng.integers(0, n - n_dups))
        words = texts[src].split(" ")
        for _ in range(min(2, len(words))):
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
        texts[i] = " ".join(words)
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), type=pa.int64()),
            "text": texts,
            "lang": rng.choice(langs, size=n, p=p_lang),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(out, "documents.parquet"))


def ensure_tier100(tier_dir: str) -> None:
    if _tier_cached(tier_dir, TIER100_VERSION):
        return
    os.makedirs(tier_dir, exist_ok=True)
    rng = np.random.default_rng(4242)
    print(f"generating 100x tier under {tier_dir} ...", file=sys.stderr)
    _gen_documents_vectorized(rng, tier_dir, 500_000)
    _gen_embeddings(rng, tier_dir, 200_000)
    _gen_lineitem(rng, tier_dir, 15_000_000, 2_000_000)
    with open(os.path.join(tier_dir, "_complete"), "w") as fh:
        fh.write(TIER100_VERSION)


#: third-decade generator version. Documents ONLY (the r9 shingle
#: third decade's ad-hoc corpus, made a reproducible cached tier):
#: 5M docs is ~1.7 GB of text; embeddings/lineitem at 1000x would be
#: pointless cost for the cap-flattening question this tier answers.
TIER1000_VERSION = "1-docs-only-planted-dups"


def ensure_tier1000(tier_dir: str) -> None:
    if _tier_cached(tier_dir, TIER1000_VERSION):
        return
    os.makedirs(tier_dir, exist_ok=True)
    rng = np.random.default_rng(424242)
    print(f"generating 1000x documents-only tier under {tier_dir} ...", file=sys.stderr)
    _gen_documents_vectorized(rng, tier_dir, 5_000_000)
    with open(os.path.join(tier_dir, "_complete"), "w") as fh:
        fh.write(TIER1000_VERSION)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tier-dir", default="/tmp/tp3_scale_sf1")
    ap.add_argument("--tier100-dir", default="/tmp/tp3_scale_sf10")
    ap.add_argument("--queries", default=",".join(QUERIES))
    ap.add_argument(
        "--tier100-queries",
        default=",".join(TIER100_QUERIES),
        help="subset also measured at the 100x tier (second decade); "
        "empty string skips the 100x sweep entirely",
    )
    ap.add_argument("--tier1000-dir", default="/tmp/tp3_scale_sf100")
    ap.add_argument(
        "--tier1000-queries",
        default="",
        help="documents-only queries also measured at the 1000x tier "
        "(third decade, hours-scale; default OFF — pass e.g. "
        f"{','.join(TIER1000_QUERIES)}). Measured warm + min-of-N "
        "(--tier1000-passes) since r12; the r9-r11 rows were warm + "
        "one pass",
    )
    ap.add_argument(
        "--tier1000-passes",
        type=int,
        default=2,
        help="measured passes after the 1000x warmup (min is reported); "
        "smaller default than --passes because these walls are "
        "minutes-scale and the question is the DECADE slope",
    )
    ap.add_argument(
        "--out",
        default=None,
        help="also write the results as a JSON artifact (e.g. SCALE_r09.json)",
    )
    ap.add_argument(
        "--passes",
        type=int,
        default=3,
        help="measured passes after the warmup (min is reported)",
    )
    args = ap.parse_args()
    tier100_names = [q for q in args.tier100_queries.split(",") if q]
    tier1000_names = [q for q in args.tier1000_queries.split(",") if q]
    ensure_tier(args.tier_dir)
    if tier100_names:
        ensure_tier100(args.tier100_dir)
    if tier1000_names:
        ensure_tier1000(args.tier1000_dir)

    from construction_data_lake_et_data_warehouse_tp3_spark.operators import (
        all_queries,
    )
    from construction_data_lake_et_data_warehouse_tp3_spark.operators.dedup import (
        edit_distance_pairs_capped,
        jaccard_dup_pairs,
        minhash_lsh_candidates_fast,
    )
    from construction_data_lake_et_data_warehouse_tp3_spark.session import get_spark

    spark = get_spark("scale-tier")
    spark.sparkContext.setLogLevel("ERROR")
    queries = dict(all_queries())
    # deployment forms: same (spark, sf_dir) shape, live outside the
    # capped registry (their exact/md5 twins keep the oracle slots)
    queries.setdefault("jaccard_dup_pairs", jaccard_dup_pairs)
    queries.setdefault("edit_distance_pairs_capped", edit_distance_pairs_capped)
    queries.setdefault("minhash_lsh_candidates_fast", minhash_lsh_candidates_fast)

    def reset_session_state() -> None:
        """Query isolation (r11): drop every persisted block before a
        measurement. The heavy pipelines free their localCheckpoint /
        persist blocks through Python GC + Spark's ASYNC ContextCleaner,
        which is correct for a long-lived engine session but races a
        back-to-back sweep: across 17 queries the pinned blocks
        accumulated faster than the cleaner dropped them and kcore's
        100x edge checkpoint died with UNABLE_TO_ACQUIRE_MEMORY (got 0)
        in the first r11 sweep — r10's shorter sweep merely squeaked by,
        which also means its later queries were measured under earlier
        queries' resident blocks. Explicitly sweeping persisted state
        between (query, tier) measurements makes each min-of-3 an
        isolated steady-state number; within-query passes still share
        warm state by design."""
        import gc

        gc.collect()  # drop py4j refs so the JVM side is collectable
        spark.catalog.clearCache()
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(True)
        spark.sparkContext._jvm.System.gc()

    def measure(name: str, sf_dir: str, passes: int | None = None) -> float:
        reset_session_state()
        times = []
        for i in range((passes or args.passes) + 1):  # 1 warmup + N measured
            t0 = time.monotonic()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            if i:
                times.append(dt)
        return min(times)

    results = {}
    for name in [q for q in args.queries.split(",") if q]:
        base = measure(name, SF01)
        big = measure(name, args.tier_dir)
        results[name] = {
            "sf0.1_sec": round(base, 3),
            "tier10x_sec": round(big, 3),
            "slope": round(big / base, 2),
        }
        print(json.dumps({"query": name, **results[name]}), flush=True)
    for name in tier100_names:
        if name not in results:
            base = measure(name, SF01)
            big = measure(name, args.tier_dir)
            results[name] = {
                "sf0.1_sec": round(base, 3),
                "tier10x_sec": round(big, 3),
                "slope": round(big / base, 2),
            }
        huge = measure(name, args.tier100_dir)
        results[name]["tier100x_sec"] = round(huge, 3)
        # second-decade slope: 10x tier -> 100x tier. Flattening
        # (slope2 <= slope) is the linearity evidence one decade can't
        # give — a hidden quadratic COMPOUNDS decade over decade.
        results[name]["slope2"] = round(huge / results[name]["tier10x_sec"], 2)
        print(json.dumps({"query": name, **results[name]}), flush=True)
    for name in tier1000_names:
        if name not in results or "tier100x_sec" not in results[name]:
            print(f"skipping 1000x for {name}: needs its 100x row first", file=sys.stderr)
            continue
        # warmup + min-of-N like every other tier (ADVICE r11: the
        # single-pass r9 methodology made the slope3 rows feeding gate
        # decisions the noisiest numbers in the artifact); N is its own
        # knob because these walls are minutes-scale
        vast = measure(name, args.tier1000_dir, passes=args.tier1000_passes)
        results[name]["tier1000x_sec"] = round(vast, 3)
        results[name]["slope3"] = round(vast / results[name]["tier100x_sec"], 2)
        print(json.dumps({"query": name, **results[name]}), flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
