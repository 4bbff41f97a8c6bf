"""CLI regression tests (main() invoked in-process; the CLI mirrors the
reference's script entry points — manage_feeds / export / retention /
permissions)."""

from __future__ import annotations

from construction_data_lake_et_data_warehouse_tp3_spark.__main__ import main


class TestCli:
    def test_feeds_lifecycle(self, tmp_path, capsys):
        root = str(tmp_path / "lake")
        assert main(["--lake-root", root, "feeds", "add", "s1", "--type", "stream"]) == 0
        assert main(["--lake-root", root, "feeds", "add", "t1", "--type", "table"]) == 0
        assert main(["--lake-root", root, "feeds", "list"]) == 0
        out = capsys.readouterr().out
        assert "s1" in out and "t1" in out
        assert main(["--lake-root", root, "feeds", "archive", "s1"]) == 0
        assert main(["--lake-root", root, "feeds", "restore", "s1"]) == 0
        assert main(["--lake-root", root, "feeds", "delete", "t1", "--confirm"]) == 0

    def test_missing_name_is_clean_error(self, tmp_path):
        assert main(["--lake-root", str(tmp_path), "feeds", "add"]) == 2

    def test_retention_dry_run(self, tmp_path, capsys):
        root = str(tmp_path / "lake")
        main(["--lake-root", root, "feeds", "add", "s1", "--type", "stream"])
        assert main(["--lake-root", root, "retention", "streams", "--dry-run"]) == 0
        assert "would delete" in capsys.readouterr().out

    def test_retention_refuses_file_sink_feed_and_goes_on(self, tmp_path, capsys):
        import os

        from construction_data_lake_et_data_warehouse_tp3_spark.lake import FeedCatalog

        root = str(tmp_path / "lake")
        for name in ("sink", "plain"):
            main(["--lake-root", root, "feeds", "add", name, "--type", "stream"])
        catalog = FeedCatalog(root)
        sink_path = catalog.feed_data_path(catalog.get("sink"))
        os.makedirs(os.path.join(sink_path, "_spark_metadata"))
        assert main(["--lake-root", root, "retention", "streams", "--dry-run"]) == 0
        out = capsys.readouterr().out
        assert "sink: refused" in out and "_spark_metadata" in out
        assert "plain: would delete 0 partitions" in out

    def test_zorder_verb(self, tmp_path, capsys):
        out_dir = str(tmp_path / "z")
        assert main([
            "zorder",
            "--input", "/root/testdata/sf0.001/orders.parquet",
            "--output", out_dir,
            "--columns", "o_custkey,o_totalprice",
            "--files", "4",
        ]) == 0
        assert "z-ordered" in capsys.readouterr().out

    def test_analyze_verb(self, capsys):
        import json as _json

        assert main(["analyze", "--sf-dir", "/root/testdata/sf0.001", "--tables", "nation"]) == 0
        stats = _json.loads(capsys.readouterr().out)
        assert stats["nation"] == 25

    def test_atomic_sync_and_vacuum_verbs(self, tmp_path, capsys):
        import json as _json

        root = str(tmp_path / "lh")
        assert main(["sync-warehouse", "--warehouse-root", root, "--atomic"]) == 0
        out = _json.loads(capsys.readouterr().out)
        assert out["snapshot"] == 1 and out["dim_users"] > 0
        assert main(["vacuum", "--root", root, "--keep", "1"]) == 0
        removed = _json.loads(capsys.readouterr().out)["removed"]
        # the dim_users double-merge leaves exactly one superseded stage
        assert len(removed) == 1 and "dim_users" in removed[0]


class TestCliProfileAndCheck:
    def test_profile_verb_prints_one_json_per_column(self, capsys):
        import json

        assert main([
            "profile",
            "--input", "/root/testdata/sf0.001/orders.parquet",
            "--columns", "o_orderkey,o_orderstatus",
        ]) == 0
        lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
        assert {l["col_name"] for l in lines} == {"o_orderkey", "o_orderstatus"}
        assert all(l["n_nulls"] == 0 for l in lines)

    def test_check_verb_fail_and_count_modes(self, tmp_path, capsys):
        import json

        ok_out = str(tmp_path / "ok")
        assert main([
            "check",
            "--input", "/root/testdata/sf0.001/orders.parquet",
            "--output", ok_out,
            "--expect", "price_positive=o_totalprice > 0",
        ]) == 0
        m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert m["price_positive"] == 0 and m["n_rows"] > 0

        bad_out = str(tmp_path / "bad")
        assert main([
            "check",
            "--input", "/root/testdata/sf0.001/orders.parquet",
            "--output", bad_out,
            "--expect", "cheap=o_totalprice < 1000",
        ]) == 1  # violations in fail mode exit 1, data still landed
        m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert m["cheap"] > 0

        assert main([
            "check",
            "--input", "/root/testdata/sf0.001/orders.parquet",
            "--output", str(tmp_path / "counted"),
            "--expect", "cheap=o_totalprice < 1000",
            "--on-violation", "count",
        ]) == 0


class TestCurateVerb:
    def test_curate_folds_and_resumes(self, spark, tmp_path, capsys):
        import json as _json

        from construction_data_lake_et_data_warehouse_tp3_spark.__main__ import main

        docs = str(tmp_path / "docs")
        good_a = "the quick brown fox jumps over the lazy dog and runs far away home"
        good_b = "a market of traders and the sellers of goods in a town square meet"
        spark.createDataFrame(
            [(1, good_a, "web"), (2, good_b, "books"), (3, good_a, "web")],
            "doc_id long, text string, source string",
        ).coalesce(1).write.parquet(docs)
        store = str(tmp_path / "store")
        assert main(["curate", "--input", docs, "--store", store]) == 0
        rows = [
            _json.loads(line)
            for line in capsys.readouterr().out.strip().splitlines()
        ]
        got = {r["doc_id"]: r for r in rows}
        assert set(got) == {1, 2}  # exact dup 3 dropped
        assert got[1]["weight"] == 0.75  # min(1, (1/2)/(2/3)) for the 2:1 mix
        assert got[2]["weight"] == 1.0
        # resume with one NEW file: only it folds; manifest re-derives
        spark.createDataFrame(
            [(4, good_b + " again and again today", "books")],
            "doc_id long, text string, source string",
        ).coalesce(1).write.mode("append").parquet(docs)
        assert main(["curate", "--input", docs, "--store", store]) == 0
        rows2 = [
            _json.loads(line)
            for line in capsys.readouterr().out.strip().splitlines()
        ]
        assert {r["doc_id"] for r in rows2} == {1, 2, 4}

    def test_curate_freezes_eval_shingles_on_first_run(
        self, spark, tmp_path, capsys
    ):
        """The eval-shingle set is FROZEN at first construction: a resumed
        run with a NEW eval doc (doc_id % 97 == 0) must keep the stored
        set (else earlier admissions were never screened against the new
        shingles and manifest != batch capstone), and a conflicting
        explicit --eval-shingles must error, not silently swap."""
        import json as _json
        import os as _os

        from construction_data_lake_et_data_warehouse_tp3_spark.__main__ import main

        docs = str(tmp_path / "docs")
        good_a = "the quick brown fox jumps over the lazy dog and runs far away home"
        spark.createDataFrame(
            [(1, good_a, "web")], "doc_id long, text string, source string"
        ).coalesce(1).write.parquet(docs)
        store = str(tmp_path / "store")
        assert main(["curate", "--input", docs, "--store", store]) == 0
        capsys.readouterr()
        frozen_path = _os.path.join(store, "eval_shingles.json")
        frozen = _json.load(open(frozen_path))
        assert frozen == []  # no doc_id % 97 == 0 in the first batch

        # resume with an eval doc present: stored set must NOT change
        spark.createDataFrame(
            [(97, "brand new eval text with many fresh unseen tokens inside it", "web")],
            "doc_id long, text string, source string",
        ).coalesce(1).write.mode("append").parquet(docs)
        assert main(["curate", "--input", docs, "--store", store]) == 0
        capsys.readouterr()
        assert _json.load(open(frozen_path)) == frozen

        # conflicting explicit set on resume -> error exit, set unchanged
        conflict = tmp_path / "ev.txt"
        conflict.write_text("brand new eval\n")
        assert (
            main([
                "curate", "--input", docs, "--store", store,
                "--eval-shingles", str(conflict),
            ])
            == 1
        )
        err = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert "frozen" in err["error"]
        assert _json.load(open(frozen_path)) == frozen
