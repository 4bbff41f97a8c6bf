"""Dirty-input robustness: every registry query must execute cleanly
when the corpus contains empty, whitespace-only, and NULL documents,
sources that do not follow the srcN naming convention, orders with
negative or NULL prices, events with NULL user/type/value/timestamp,
and embeddings that are NULL or wrong-length. Before the r7 guards this
input crashed
training_manifest (symbol_ratio divides by n_chars = 0 under ANSI) and
mixture_resample (CAST of a non-numeric source suffix). Engine semantics,
mirrored in the oracles: undefined quality ratios are NULL (failing the
keep gate) and non-srcN sources take the default mix weight via
try_cast. The applyInPandas
group-stats kernel keeps SQL aggregate NULL semantics (count(*) counts
every row, sum/min/max ignore NULLs) instead of letting a NaN reach an
int64 cast."""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import pytest

import __spark_entry__ as entry_mod

SRC = "/root/testdata/sf0.001"
OTHER_TABLES = (
    "region nation customer supplier part lineitem"
).split()


@pytest.fixture(scope="module")
def empty_text_dir(spark, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("sf_empty_text"))
    for t in OTHER_TABLES:
        src = f"{SRC}/{t}.parquet"
        (shutil.copytree if os.path.isdir(src) else shutil.copy)(
            src, f"{dst}/{t}.parquet"
        )
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    extra = spark.createDataFrame(
        [
            (90001, "", "en", "srcX", 0),
            (90002, "   ", "en", "srcX", 3),
            (90003, "\t\n ", "fr", "srcY", 3),
            (90004, None, "en", "src0", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.select("doc_id", "text", "lang", "source", "n_chars").unionByName(
        extra
    ).coalesce(1).write.parquet(f"{dst}/documents.parquet")
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    first = orders.limit(1).collect()[0]
    dirty = spark.createDataFrame(
        [
            (900001, first.o_custkey, "F", -125.5, first.o_orderdate, "3-MEDIUM"),
            (900002, first.o_custkey, "F", None, first.o_orderdate, "3-MEDIUM"),
        ],
        orders.schema,
    )
    orders.unionByName(dirty).coalesce(1).write.parquet(f"{dst}/orders.parquet")
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    first_ev = ev.limit(1).collect()[0]
    dirty_ev = spark.createDataFrame(
        [
            (990001, None, None, None, None, None),
            (990002, first_ev.ts, None, "view", 1.0, "{}"),
        ],
        ev.schema,
    )
    ev.unionByName(dirty_ev).coalesce(1).write.parquet(f"{dst}/events.parquet")
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    bad_emb = spark.createDataFrame(
        [(100001, None, 0), (100002, [0.5] * 63, 1), (100003, [0.25] * 70, 2)],
        "vec_id long, embedding array<float>, label int",
    )
    emb.select("vec_id", "embedding", "label").unionByName(bad_emb).coalesce(
        1
    ).write.parquet(f"{dst}/embeddings.parquet")
    return dst


def test_every_query_survives_empty_text(spark, empty_text_dir):
    failures = []

    def run(item):
        name, fn = item
        try:
            fn(spark, empty_text_dir).count()
        except Exception as exc:  # noqa: BLE001 - aggregate, then fail
            failures.append(f"{name}: {type(exc).__name__}: {exc}")

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(run, sorted(entry_mod.queries().items())))
    assert not failures, (
        f"{len(failures)} queries crash on empty/odd-source documents:\n"
        + "\n".join(sorted(failures))
    )


def test_kmv_distinct_check_null_user_parity(spark, empty_text_dir):
    """NULL user_id must not skew the bottom-k sketch: Spark sorts NULLs
    FIRST and DuckDB LAST, so an unfiltered NULL hash occupies a bottom-B
    slot on one engine only (ADVICE r7). Both engines now drop it; this
    locks value parity on the dirty corpus, where the no-crash sweep
    alone let the divergence pass silently."""
    import duckdb

    from construction_data_lake_et_data_warehouse_tp3_spark.operators.sketches import (
        ORACLE,
        kmv_distinct_check,
    )

    srow = kmv_distinct_check(spark, empty_text_dir).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{empty_text_dir}/events.parquet/*.parquet')"
    )
    orow = con.execute(ORACLE["kmv_distinct_check"]).fetchone()
    assert (srow.n_exact, srow.est_distinct, srow.err_bp) == orow


def test_empty_text_fails_the_keep_gate(spark, empty_text_dir):
    """The undefined-ratio documents must be EXCLUDED by the quality
    gate (NULL keep), not admitted with null signals."""
    from construction_data_lake_et_data_warehouse_tp3_spark.operators.quality import (
        training_manifest,
    )

    kept = {r.doc_id for r in training_manifest(spark, empty_text_dir).collect()}
    assert kept and not kept & {90001, 90002, 90003}
