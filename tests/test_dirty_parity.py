"""FULL oracle parity over the DIRTY corpus (r8) — the upgrade of the
no-crash dirty-input sweep (test_empty_text_input.py) to asserted
cross-engine VALUES. ADVICE r7 found one silent divergence the no-crash
sweep admitted (a NULL user_id skewing the bottom-k KMV on one engine
only); running the whole registry's driver-gate comparison over the
dirty fixture found 32 more in four classes, now fixed and locked here:

- wrong-dimensionality / NULL embeddings (Spark zip_with NULL-pads where
  DuckDB raises) -> excluded at the shared vector loaders,
- NULL/whitespace-only documents (engine-dependent NULL chains) ->
  excluded by the per-document text operators,
- NULL measures in rank statistics (Spark sorts NULL keys FIRST, DuckDB
  LAST -> every prefix rank shifts on one engine) -> excluded,
- NULL user/timestamp in sessionization and sequence windows -> excluded.

A second r8 wave extended the corpus with unicode text (emoji/CJK,
unicode SPACES — Python \\s matches NBSP/em-space where SQL \\s is
ASCII-only — combining marks, zero-width chars, a 5000-char doc) and
extreme-but-in-domain magnitudes ($50M, sub-cent, negative values),
catching two more: the profiler's raw double->string cast goes
scientific above 1e7 on the JVM only (now rendered through
DECIMAL(38,6) on both engines), and the pandas normalize kernel's
unicode-aware \\s/strip diverged from its ASCII SQL twin (now mirrors
the SQL ops exactly).

Every exclusion is applied identically to the Spark query AND its DuckDB
oracle, so the clean-corpus hashes are unchanged (the driver corpus has
none of these rows) while dirty corpora now produce the SAME answer on
both engines instead of merely not crashing."""

from __future__ import annotations

import datetime
import math
import os
import threading
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest

import __spark_entry__ as entry_mod

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_LOCAL = threading.local()


def _con(dirty_dir):
    con = getattr(_LOCAL, "con", None)
    if con is None:
        con = duckdb.connect()
        for t in TABLES:
            p = f"{dirty_dir}/{t}.parquet"
            glob = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')"
            )
        _LOCAL.con = con
    return con


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    import decimal

    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    return v


def _rows(rows, idx):
    return sorted(
        (tuple(_norm(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


@pytest.fixture(scope="module")
def dirty_dir(spark, tmp_path_factory):
    """The test_empty_text_input fixture shape: empty/whitespace/NULL
    docs, odd source names, negative/NULL prices, all-NULL and
    NULL-field events, NULL and wrong-length embeddings."""
    import shutil

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path_factory.mktemp("sf_dirty_parity"))
    for t in "region nation customer supplier part lineitem".split():
        s = f"{src}/{t}.parquet"
        (shutil.copytree if os.path.isdir(s) else shutil.copy)(
            s, f"{dst}/{t}.parquet"
        )
    docs = spark.read.parquet(f"{src}/documents.parquet")
    # 90005-90008 (r8): unicode classes — accents/CJK/emoji, unicode
    # SPACES (NBSP, em/thin space, line separator: Python \s matches
    # them, SQL \s does not — the pandas kernel divergence class),
    # a 5000-char doc, combining marks + zero-width chars
    extra = spark.createDataFrame(
        [
            (90001, "", "en", "srcX", 0),
            (90002, "   ", "en", "srcX", 3),
            (90003, "\t\n ", "fr", "srcY", 3),
            (90004, None, "en", "src0", 0),
            (90005, "caf\u00e9 na\u00efve r\u00e9sum\u00e9 \u4e2d\u6587\u6587\u672c \U0001f600\U0001f680 stra\u00dfe", "fr", "src1", 40),
            (90006, "word\u00a0joined\u2003by\u2009unicode\u2028spaces", "en", "src2", 35),
            (90007, "a" * 5000 + " the quick brown fox", "en", "src3", 5020),
            (90008, "\u0301\u0301 combining \u200b zero\u200bwidth", "es", "src4", 30),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.select("doc_id", "text", "lang", "source", "n_chars").unionByName(
        extra
    ).coalesce(1).write.parquet(f"{dst}/documents.parquet")
    orders = spark.read.parquet(f"{src}/orders.parquet")
    first = orders.limit(1).collect()[0]
    # 900003-900005 (r8): extreme magnitudes INSIDE the documented money
    # domain (functions/scalar.py: Σ|x| < 4.5e11) — $50M renders
    # scientific via a raw JVM double→string cast (the profiler class),
    # 0.004 rounds to 0 cents, 0.01 is the 1-cent floor
    dirty = spark.createDataFrame(
        [
            (900001, first.o_custkey, "F", -125.5, first.o_orderdate, "3-MEDIUM"),
            (900002, first.o_custkey, "F", None, first.o_orderdate, "3-MEDIUM"),
            (900003, first.o_custkey, "F", 50000000.0, first.o_orderdate, "1-URGENT"),
            (900004, first.o_custkey, "F", 0.004, first.o_orderdate, "5-LOW"),
            (900005, first.o_custkey, "F", 0.01, first.o_orderdate, "2-HIGH"),
        ],
        orders.schema,
    )
    orders.unionByName(dirty).coalesce(1).write.parquet(f"{dst}/orders.parquet")
    ev = spark.read.parquet(f"{src}/events.parquet")
    first_ev = ev.limit(1).collect()[0]
    # 990003-990004 (r8): negative and large (in-domain) event values;
    # 990005 (r8 wave 4): a NaN value — before the money helpers mapped
    # NaN to NULL, CAST(round(NaN*100) AS BIGINT) ABORTED 16 queries'
    # jobs under ANSI (and DuckDB's cast raised the same way);
    # 990006-990007: epoch-adjacent and far-future timestamps;
    # 990008-990009: a fresh user's two events 1800.5 s apart — a new
    # session under the 30-minute gap only if the fraction is kept
    import datetime as _dt

    gap_t0 = _dt.datetime(2024, 3, 1, 12, 0, 0)

    dirty_ev = spark.createDataFrame(
        [
            (990001, None, None, None, None, None),
            (990002, first_ev.ts, None, "view", 1.0, "{}"),
            (990003, first_ev.ts, first_ev.user_id, "view", -50.25, "{}"),
            (990004, first_ev.ts, first_ev.user_id, "purchase", 250000.0, "{}"),
            (990005, first_ev.ts, first_ev.user_id, "view", float("nan"), "{}"),
            (990006, _dt.datetime(1970, 1, 1, 0, 0, 1), first_ev.user_id, "view", 2.0, "{}"),
            (990007, _dt.datetime(2200, 12, 31, 23, 59, 59), first_ev.user_id, "purchase", 3.0, "{}"),
            (990008, gap_t0, 990001, "view", 1.0, "{}"),
            (990009, gap_t0 + _dt.timedelta(seconds=1800.5), 990001, "click", 1.0, "{}"),
        ],
        ev.schema,
    )
    ev.unionByName(dirty_ev).coalesce(1).write.parquet(f"{dst}/events.parquet")
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    bad = spark.createDataFrame(
        [(100001, None, 0), (100002, [0.5] * 63, 1), (100003, [0.25] * 70, 2)],
        "vec_id long, embedding array<float>, label int",
    )
    emb.select("vec_id", "embedding", "label").unionByName(bad).coalesce(
        1
    ).write.parquet(f"{dst}/embeddings.parquet")
    return dst


def test_all_queries_match_oracle_on_dirty_corpus(spark, dirty_dir):
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failures = []

    def run(name):
        try:
            df = queries[name](spark, dirty_dir)
            srows = [tuple(r) for r in df.collect()]
            scols = df.columns
            if name not in oracles:
                return  # rows-only approximation (HLL twins)
            res = _con(dirty_dir).execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            assert sorted(scols) == sorted(dcols), (
                f"cols spark={scols} duck={dcols}"
            )
            s = _rows(srows, [scols.index(c) for c in sorted(scols)])
            d = _rows(drows, [dcols.index(c) for c in sorted(dcols)])
            assert len(s) == len(d), f"rows spark={len(s)} duck={len(d)}"
            diff = [(a, b) for a, b in zip(s, d) if a != b]
            assert not diff, f"{len(diff)} differing rows; first: {diff[:2]}"
        except Exception as exc:  # noqa: BLE001 - aggregate, then fail
            failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:250]}")

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(run, sorted(queries)))
    assert not failures, (
        f"{len(failures)} queries diverge between engines on the dirty "
        "corpus (the silent-divergence class the no-crash sweep admits):\n"
        + "\n".join(sorted(failures))
    )
