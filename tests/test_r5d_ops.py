"""Planted-corpus locks for the r5d quality/behavioral operators —
properties the registry parity check can't isolate on synthetic data:

- ngram_novelty: fully-unique doc → 10000 bp, verbatim copies → 0 bp.
- source_lang_entropy: monolingual source → exactly 0 micro-nats; a
  uniform 2-language source → exactly round(ln 2 · 1e6) (integer math,
  no tolerance).
- time_to_conversion: the first purchase AT OR AFTER the first signup
  is picked (earlier purchases ignored); users without both ends drop.
"""

from __future__ import annotations

import math

import pytest

from construction_data_lake_et_data_warehouse_tp3_spark.operators.analytics import (
    time_to_conversion,
)
from construction_data_lake_et_data_warehouse_tp3_spark.operators.quality import (
    ngram_novelty,
    source_lang_entropy,
)


class TestNgramNovelty:
    @pytest.fixture(scope="class")
    def corpus(self, spark, tmp_path_factory):
        unique = " ".join(f"u{i}" for i in range(12))
        copied = " ".join(f"c{i}" for i in range(12))
        rows = [
            (0, unique, "en", "s0", len(unique)),
            (1, copied, "en", "s0", len(copied)),
            (2, copied, "en", "s1", len(copied)),
            (3, "too short", "en", "s1", 9),
        ]
        out = str(tmp_path_factory.mktemp("novelty"))
        spark.createDataFrame(
            rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
        ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
        return out

    def test_unique_full_copies_zero_short_absent(self, spark, corpus):
        got = {r.doc_id: r for r in ngram_novelty(spark, corpus).collect()}
        assert got[0].novelty_bp == 10_000
        assert got[1].novelty_bp == 0 and got[2].novelty_bp == 0
        assert 3 not in got  # < 4 words ⇒ no shingles ⇒ undefined, not 0


class TestSourceLangEntropy:
    @pytest.fixture(scope="class")
    def corpus(self, spark, tmp_path_factory):
        rows = []
        did = 0
        for _ in range(6):  # monolingual source
            rows.append((did, "a b c d e", "en", "mono", 9)); did += 1
        for lang in ("en", "fr") * 4:  # uniform bilingual source
            rows.append((did, "a b c d e", lang, "bi", 9)); did += 1
        out = str(tmp_path_factory.mktemp("entropy"))
        spark.createDataFrame(
            rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
        ).write.mode("overwrite").parquet(f"{out}/documents.parquet")
        return out

    def test_exact_entropy_values(self, spark, corpus):
        got = {r.source: r for r in source_lang_entropy(spark, corpus).collect()}
        assert got["mono"].entropy_micro_nats == 0
        assert got["mono"].n_langs == 1
        # 8 docs, 4 per lang: H = Σ 4·round(ln2·1e6) // 8 = round(ln2·1e6)
        assert got["bi"].entropy_micro_nats == round(math.log(2) * 1e6)
        assert got["bi"].n_langs == 2


class TestTimeToConversion:
    @pytest.fixture(scope="class")
    def corpus(self, spark, tmp_path_factory):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
        h = dt.timedelta(hours=1)
        rows = [
            # user 1: purchase BEFORE signup is ignored; +25h counts
            (1, t0 - 5 * h, 1, "purchase", 0.0, "{}"),
            (2, t0, 1, "signup", 0.0, "{}"),
            (3, t0 + 25 * h, 1, "purchase", 0.0, "{}"),
            # user 2: same-timestamp purchase counts (>= semantics), day 0
            (4, t0, 2, "signup", 0.0, "{}"),
            (5, t0, 2, "purchase", 0.0, "{}"),
            # user 3: signup only → excluded
            (6, t0, 3, "signup", 0.0, "{}"),
            # user 4: purchase only → excluded
            (7, t0, 4, "purchase", 0.0, "{}"),
        ]
        out = str(tmp_path_factory.mktemp("conv"))
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, event_type string,"
            " value double, props string",
        ).write.mode("overwrite").parquet(f"{out}/events.parquet")
        return out

    def test_first_purchase_at_or_after_signup(self, spark, corpus):
        got = {r.delay_days: r for r in time_to_conversion(spark, corpus).collect()}
        assert set(got) == {0, 1}
        assert got[1].n_users == 1 and got[1].min_hours == 25
        assert got[0].n_users == 1 and got[0].min_hours == 0


SF_DIR = "/root/testdata/sf0.001"


class TestR5dPlans:
    """Physical-plan locks: the shapes that make the r5d operators viable
    at 100 TB must not silently regress."""

    @staticmethod
    def _plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    def test_novelty_entropy_conversion_shuffle_budget(self, spark):
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.analytics import (
            time_to_conversion,
        )
        from construction_data_lake_et_data_warehouse_tp3_spark.operators.quality import (
            ngram_novelty,
            source_lang_entropy,
        )

        for fn, max_exch in (
            (ngram_novelty, 2),  # ng window + doc_id re-agg
            (source_lang_entropy, 2),  # (source,lang) agg + source window
            (time_to_conversion, 2),  # user_id agg + delay_days agg
        ):
            plan = self._plan(fn(spark, SF_DIR))
            n = plan.count("Exchange hashpartitioning")
            assert n <= max_exch, f"{fn.__name__}: {n} exchanges"
            assert plan.count("Scan parquet") == 1, fn.__name__
