"""Zero-norm-vector robustness: every embedding-consuming query must
execute cleanly when the corpus contains an all-zero vector — cosine
against it is undefined, and before the r7 guards the cosine operators
(cosine_topk, embedding_dup_pairs{,_bucketed}) raised ANSI DIVIDE_BY_ZERO
on exactly this input. The engine-wide semantics, mirrored in every
oracle: zero-norm vectors may bucket but are EXCLUDED from any cosine
expansion."""

from __future__ import annotations

import os
import shutil

import pytest

import __spark_entry__ as entry_mod

SRC = "/root/testdata/sf0.001"
OTHER_TABLES = (
    "region nation customer supplier part orders lineitem events documents"
).split()

#: the embedding-consuming registry queries (name-pattern selection keeps
#: the sweep self-extending as the family grows)
PATTERNS = ("cosine", "ivf", "ann_", "embedding", "lsh_buckets")


@pytest.fixture(scope="module")
def zero_vec_dir(spark, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("sf_zero_vec"))
    for t in OTHER_TABLES:
        src = f"{SRC}/{t}.parquet"
        (shutil.copytree if os.path.isdir(src) else shutil.copy)(
            src, f"{dst}/{t}.parquet"
        )
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    zero = spark.createDataFrame(
        [(100000, [0.0] * 64, 0)], "vec_id long, embedding array<float>, label int"
    )
    emb.select("vec_id", "embedding", "label").unionByName(zero).coalesce(
        1
    ).write.parquet(f"{dst}/embeddings.parquet")
    return dst


def test_embedding_queries_survive_zero_vector(spark, zero_vec_dir):
    targets = [
        n for n in entry_mod.queries() if any(p in n for p in PATTERNS)
    ]
    assert {
        "ann_ivf_topk", "cosine_topk", "embedding_dup_pairs",
        "embedding_dup_pairs_bucketed", "lsh_buckets",
    } <= set(targets)
    failures = []
    for name in targets:
        try:
            entry_mod.queries()[name](spark, zero_vec_dir).count()
        except Exception as exc:  # noqa: BLE001 - aggregate, then fail
            failures.append(f"{name}: {type(exc).__name__}: {exc}")
    assert not failures, (
        f"{len(failures)} embedding queries crash on a zero vector:\n"
        + "\n".join(sorted(failures))
    )


def test_zero_vector_is_excluded_not_matched(spark, zero_vec_dir):
    """The zero vector must be absent from cosine results (excluded), not
    paired with cosine NULL/NaN rows."""
    from construction_data_lake_et_data_warehouse_tp3_spark.operators.similarity import (
        cosine_topk,
    )

    rows = cosine_topk(spark, zero_vec_dir).collect()
    assert rows and all(
        r.cand_id != 100000 and r.cosine is not None for r in rows
    )
