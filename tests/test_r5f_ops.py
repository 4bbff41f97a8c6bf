"""Planted-semantics locks for the r5f batch: LOO target encoding,
hashing-trick features, k-anonymity audit, embedding drift."""

from __future__ import annotations

import datetime
import hashlib

import pytest


class TestTargetEncodingLoo:
    def test_loo_excludes_own_row_and_singletons_are_null(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.statistics import (
            target_encoding_loo,
        )

        rows = [
            (1, 1, 1.00, datetime.datetime(2024, 1, 1), "A"),
            (2, 1, 2.00, datetime.datetime(2024, 1, 2), "A"),
            (3, 1, 3.00, datetime.datetime(2024, 1, 3), "A"),
            (4, 1, 9.99, datetime.datetime(2024, 1, 4), "B"),
        ]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_totalprice double,"
            " o_orderdate timestamp, o_orderpriority string",
        ).coalesce(1).write.parquet(f"{out}/orders.parquet")
        got = {r.o_orderkey: r for r in target_encoding_loo(spark, out).collect()}
        assert got[1].loo_enc_cents == (200 + 300) // 2
        assert got[2].loo_enc_cents == (100 + 300) // 2
        assert got[3].loo_enc_cents == (100 + 200) // 2
        assert got[4].loo_enc_cents is None  # singleton group: no peers


class TestFeatureHashing:
    @staticmethod
    def _bin(tok: str) -> int:
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.text import (
            HASH_BINS,
        )

        return int(hashlib.md5(tok.encode()).hexdigest()[:6], 16) % HASH_BINS

    def test_counts_land_in_md5_bins(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.text import (
            HASH_BINS,
            feature_hashing,
        )

        out = str(tmp_path / "sf")
        spark.createDataFrame(
            [(0, "alpha alpha beta", "en", "s", 16)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(f"{out}/documents.parquet")
        r = feature_hashing(spark, out).collect()[0]
        feat = [int(x) for x in r.feat_csv.split(",")]
        assert len(feat) == HASH_BINS and r.n_tokens == 3
        expected = [0] * HASH_BINS
        expected[self._bin("alpha")] += 2
        expected[self._bin("beta")] += 1
        assert feat == expected
        assert r.nnz == sum(1 for x in expected if x > 0)


class TestKAnonymityAudit:
    def test_small_classes_flagged_and_share_exact(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.quality import (
            k_anonymity_audit,
        )

        rows = [(i, "safe text", "en", "s1", 9) for i in range(6)] + [
            (10, "risky", "fr", "s2", 5),
            (11, "risky", "fr", "s2", 5),
        ]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.parquet(f"{out}/documents.parquet")
        got = {(r.lang, r.source): r for r in k_anonymity_audit(spark, out).collect()}
        assert not got[("en", "s1")].at_risk
        assert got[("fr", "s2")].at_risk
        # 2 of 8 docs sit in sub-k classes -> 2500 bp, same on every row
        assert {r.risk_share_bp for r in got.values()} == {2500}


class TestTokenLorenz:
    def test_cumulative_shares_exact(self, spark, tmp_path):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.quality import (
            token_lorenz_by_source,
        )

        rows = [
            (0, "a b c d e f", "en", "big", 11),     # 6 tokens
            (1, "a b c", "en", "mid", 5),            # 3 tokens
            (2, "a", "en", "tiny", 1),               # 1 token
        ]
        out = str(tmp_path / "sf")
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.parquet(f"{out}/documents.parquet")
        got = {r.source: r for r in token_lorenz_by_source(spark, out).collect()}
        assert [got[s].rank for s in ("big", "mid", "tiny")] == [1, 2, 3]
        assert got["big"].cum_share_bp == 6 * 10000 // 10
        assert got["mid"].cum_share_bp == 9 * 10000 // 10
        assert got["tiny"].cum_share_bp == 10000
