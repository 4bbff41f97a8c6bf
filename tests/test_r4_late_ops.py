"""Planted-case semantics tests for the late-r4 operators: edit-distance
boundary recall, substring-dedup verbatim inclusion + boilerplate cap,
triangle counting on a known graph, and LM-surprisal ordering.

These complement the oracle-parity suite: parity proves Spark == DuckDB
on the generated corpus; these prove the operators find what they CLAIM
to find on corpora constructed to contain exactly that."""

from __future__ import annotations

import os

import pytest

from construction_data_lake_et_data_warehouse_tp3_spark.operators import dedup, graph, text

SF_DIR_01 = "/root/testdata/sf0.01"


def _write_documents(spark, tmp_path, rows):
    """Write a crafted documents.parquet into a tmp sf_dir."""
    sf_dir = str(tmp_path)
    df = spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    return sf_dir


def _write_lineitem(spark, tmp_path, order_parts):
    """Write a crafted lineitem.parquet carrying only the columns the
    graph builder reads (orderkey, partkey) plus schema-required ones."""
    sf_dir = str(tmp_path)
    import datetime

    rows = []
    for okey, parts in order_parts.items():
        for i, p in enumerate(parts):
            rows.append((okey, p, 7, i + 1, 1.0, 10.0, 0.0, 0.0, "N", "O",
                         datetime.datetime(1996, 1, 1)))
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "lineitem.parquet")
    )
    return sf_dir


class TestEditDistancePairs:
    def test_boundary_straddling_pair_found_once(self, spark, tmp_path):
        """Two near-identical docs in ADJACENT length buckets (49 vs 51
        chars) must pair exactly once — the up-probe closes the banding
        boundary without double-counting."""
        t1 = "x" * 49                  # bucket 0
        t2 = "x" * 48 + "yzq"          # 51 chars → bucket 1, dist 3 on prefix
        same_a = "hello world " + "p" * 30   # same bucket pair
        same_b = "hello world q" + "p" * 29   # 1 edit within the prefix
        rows = [
            (1, t1, "en", "s"),
            (2, t2, "en", "s"),
            (3, same_a, "en", "s"),
            (4, same_b, "en", "s"),
        ]
        sf = _write_documents(spark, tmp_path, rows)
        pairs = {(r["doc_a"], r["doc_b"]): r["edit_dist"]
                 for r in dedup.edit_distance_pairs(spark, sf).collect()}
        assert (1, 2) in pairs, pairs
        assert len([k for k in pairs if k == (1, 2)]) == 1
        assert (3, 4) in pairs  # same-bucket path still works
        # different language must never pair
        rows.append((5, t1, "fr", "s"))
        sf2 = _write_documents(spark, tmp_path / "b", rows)
        pairs2 = {(r["doc_a"], r["doc_b"])
                  for r in dedup.edit_distance_pairs(spark, sf2).collect()}
        assert (1, 5) not in pairs2


class TestSubstringDupPairs:
    def test_verbatim_inclusion_found(self, spark, tmp_path):
        """Doc B quoting a 100-char run of doc A must pair, even though
        the docs differ everywhere else."""
        quoted = "the quick brown fox jumps over the lazy dog " * 3  # 132 chars
        rows = [
            (1, quoted + " unique tail one " + "a" * 200, "en", "s"),
            (2, "different head " + "b" * 200 + " " + quoted, "en", "s"),
            (3, "unrelated " + "c" * 300, "en", "s"),
        ]
        sf = _write_documents(spark, tmp_path, rows)
        pairs = {(r["doc_a"], r["doc_b"])
                 for r in dedup.substring_dup_pairs(spark, sf).collect()}
        assert (1, 2) in pairs
        assert all(3 not in p for p in pairs)

    def test_boilerplate_cap_suppresses(self, spark, tmp_path):
        """A span shared by more docs than SPAN_FREQ_CAP is boilerplate:
        it must not generate pairs on its own."""
        boiler = "all rights reserved standard footer text here okay " * 2
        rows = [
            (i, f"body {i} " + "z" * (i % 7) + " " + boiler, "en", "s")
            for i in range(dedup.SPAN_FREQ_CAP + 5)
        ]
        sf = _write_documents(spark, tmp_path, rows)
        out = dedup.substring_dup_pairs(spark, sf).collect()
        assert out == [], out[:5]


class TestTriangleParticipation:
    def test_known_graph(self, spark, tmp_path):
        """Orders {a,b,c} and {b,c,d} build two triangles sharing edge
        b-c: abc and bcd. a,d score 1; b,c score 2."""
        sf = _write_lineitem(spark, tmp_path, {100: [1, 2, 3], 200: [2, 3, 4]})
        out = {r["part_id"]: r["n_triangles"]
               for r in graph.triangle_participation(spark, sf).collect()}
        assert out == {1: 1, 2: 2, 3: 2, 4: 1}


class TestEditDistanceRecall:
    @staticmethod
    def _lev(a, b):
        d = list(range(len(b) + 1))
        for i in range(1, len(a) + 1):
            prev, d[0] = d[0], i
            for j in range(1, len(b) + 1):
                cur = d[j]
                d[j] = min(d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
                prev = cur
        return d[len(b)]

    def test_random_edit_variants_all_found(self, spark, tmp_path):
        """Seeded property check of the PassJoin pigeonhole: for 20 random
        base strings, a variant made by 1-5 random substitutions/
        insertions/deletions must pair with its base WHENEVER the 40-char
        prefix distance is within the gate (edits on the full string can
        legitimately push the prefix distance past it — a deletion pulls
        new chars into the window — so truth is computed per pair here).
        Candidate generation may never lose a true pair, whatever the
        edit positions do to segment boundaries or length buckets."""
        import random
        import string as _s

        rng = random.Random(42)
        alphabet = _s.ascii_lowercase + " "
        rows = []
        truth = set()
        for i in range(20):
            base = "".join(rng.choice(alphabet) for _ in range(rng.randint(45, 60)))
            chars = list(base)
            for _ in range(rng.randint(1, dedup.EDIT_MAX_DIST)):
                op = rng.choice("sid")
                pos = rng.randrange(len(chars))
                if op == "s":
                    chars[pos] = rng.choice(alphabet)
                elif op == "i":
                    chars.insert(pos, rng.choice(alphabet))
                elif len(chars) > 41:
                    del chars[pos]
            variant = "".join(chars)
            rows.append((i, base, "en", "s"))
            rows.append((1000 + i, variant, "en", "s"))
            pfx_d = self._lev(base[: dedup.EDIT_PREFIX], variant[: dedup.EDIT_PREFIX])
            if pfx_d <= dedup.EDIT_MAX_DIST:
                truth.add((i, 1000 + i, pfx_d))
        assert len(truth) >= 10  # the seed must exercise the property
        sf = _write_documents(spark, tmp_path, rows)
        found = {(r["doc_a"], r["doc_b"], r["edit_dist"])
                 for r in dedup.edit_distance_pairs(spark, sf).collect()}
        missed = truth - found
        assert not missed, f"pigeonhole lost true pairs: {sorted(missed)}"
        # the CAPPED deployment form (r9): on open-vocab text the
        # saturation cap never binds, so it equals the exact form pair
        # for pair
        capped = {(r["doc_a"], r["doc_b"], r["edit_dist"])
                  for r in dedup.edit_distance_pairs_capped(spark, sf).collect()}
        assert capped == found


class TestEditDistanceCap:
    def test_cap_binds_on_saturated_segments_but_keeps_rare_dups(
        self, spark, tmp_path
    ):
        """r9: on a closed-vocab corpus the PassJoin segment pieces
        saturate exactly like PPJoin prefixes (measured 443 s vs the
        7.8 s 10x point at the 100x tier — slope2 ≈ 57, a compounding
        quadratic). The capped form must (a) drop the saturated
        candidate keys (subset of exact, far fewer candidate pairs
        admitted through a shared template), while (b) still pairing a
        near-dup that shares at least one RARE segment."""
        # 300 docs sharing ONE 40-char template prefix (every segment
        # saturated at population 300 > cap=100), differing after it
        template = "the quick brown fox jumps over the lazy dog "
        rows = [(i, template + f"tail number {i}", "en", "s") for i in range(300)]
        # one pair with a UNIQUE prefix and 1 edit: must survive the cap
        rare_a = "zebra quokka axolotl wombat capybara lynx puma"
        rare_b = "zebra quokka axolotl wombat capybara lynx pumq"
        rows += [(9001, rare_a, "en", "s"), (9002, rare_b, "en", "s")]
        sf = _write_documents(spark, tmp_path, rows)
        exact = {(r["doc_a"], r["doc_b"]) for r in
                 dedup.edit_distance_pairs(spark, sf).collect()}
        capped = {(r["doc_a"], r["doc_b"]) for r in
                  dedup.edit_distance_pairs_capped(spark, sf).collect()}
        assert capped <= exact                    # precision stays exact
        assert (9001, 9002) in capped             # rare segments survive
        # the template block's pairwise expansion is what the cap drops:
        # every template pair is identical in the prefix (distance 0),
        # so exact admits all C(300,2); capped must drop them
        assert (0, 1) in exact and (0, 1) not in capped


class TestNewOpPlans:
    def test_lm_surprisal_filters_and_shuffles(self, spark):
        """The model side must broadcast the 1-row total; the scoring
        join shuffles on the token — no crossJoin of the corpus."""
        from construction_data_lake_et_data_warehouse_tp3_spark.plans import (
            explain_str,
            shuffle_exchange_count,
        )

        df = text.lm_surprisal(spark, SF_DIR_01)
        plan = explain_str(df, "simple")
        assert "BroadcastExchange" in plan
        # r6 restructure: the (doc_id, tok) tf subtree appears 3x in the
        # STATIC plan (AQE stage reuse dedups at runtime) — 10 exchanges
        # pre-reuse; see test_r5_plans.TestR6LmSurprisalPlan for the
        # type-level-join lock
        assert shuffle_exchange_count(df) <= 10

    def test_substring_pairs_select_before_shuffle(self, spark):
        """The 1/4 content-selection must run in the scan stage (before
        the gram-hash shuffle), so 3/4 of the grams never shuffle."""
        from construction_data_lake_et_data_warehouse_tp3_spark.plans import (
            explain_str,
        )

        df = dedup.substring_dup_pairs(spark, SF_DIR_01)
        plan = explain_str(df, "formatted")
        # formatted plans print root-first, so scan-stage operators sit
        # DEEPER (later) in the text than the exchanges above them: the
        # pmod selection must appear, and after the first Exchange in
        # text order — i.e. below it in the tree, before it in dataflow
        filt = plan.find("pmod")
        exch = plan.find("Exchange")
        assert filt != -1 and exch != -1 and filt > exch, (filt, exch)


class TestLmSurprisal:
    def test_rare_tokens_score_higher(self, spark, tmp_path):
        """A doc of corpus-rare tokens must out-score a doc of corpus-
        common tokens; scores are positive."""
        common = " ".join(["the"] * 50)
        rows = [(i, common, "en", "s") for i in range(9)]
        rows.append((9, " ".join(f"rareword{j}" for j in range(50)), "en", "s"))
        sf = _write_documents(spark, tmp_path, rows)
        out = {r["doc_id"]: r["avg_surprisal"]
               for r in text.lm_surprisal(spark, sf).collect()}
        assert out[9] > out[0] > 0
