"""End-to-end CLI drive (reference REPL lifecycle, main.go:23-98):
collect before → Enter → collect after → diff → report → swap → quit."""

import io

from dbdiff_spark import cli


def test_cli_fixture_mode_incremental_roundtrip(spark, tmp_path, monkeypatch, capsys):
    # fixture "database" with two tiny tables
    src = tmp_path / "db"
    src.mkdir()
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string").write.parquet(
        str(src / "t1.parquet")
    )
    spark.createDataFrame([(7, 1.5)], "k int, v double").write.parquet(
        str(src / "t2.parquet")
    )
    out = str(tmp_path / "diff_out.xlsx")
    monkeypatch.setattr("sys.stdin", io.StringIO("\nq\n"))
    rc = cli.main(
        [
            "--parquet-dir", str(src),
            "--snapshot-dir", str(tmp_path / "snaps"),
            "--mode", "typed",
            "--incremental",
            "-o", out,
        ]
    )
    assert rc == 0
    text = capsys.readouterr().out
    # identical before/after -> diff prints no change rows, xlsx written
    assert "total record count: 3" in text
    assert f"See {out}" in text
    import os

    assert os.path.exists(out)


import pytest


@pytest.mark.parametrize("mode", ["typed", "string"])
def test_cli_apply_dir_reconstructs_after_state(spark, tmp_path, monkeypatch, capsys, mode):
    """--apply-dir materializes before+diff via apply_diff and verifies
    it equals the after snapshot (CDC-apply consumer path).  The fixture
    DB mutates between snapshots by rewriting the parquet dir."""
    src = tmp_path / "db"
    src.mkdir()
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, s string"
    ).write.parquet(str(src / "t1.parquet"))

    real_stdin = io.StringIO("\nq\n")

    def fake_readline():
        # mutate the live "database" right before the second collect
        spark.createDataFrame(
            [(1, "a"), (2, "B"), (4, "d")], "id int, s string"
        ).write.mode("overwrite").parquet(str(src / "t1.parquet"))
        return real_stdin.readline()

    monkeypatch.setattr("sys.stdin", io.StringIO())
    monkeypatch.setattr("sys.stdin.readline", fake_readline)
    apply_dir = tmp_path / "applied"
    rc = cli.main(
        [
            "--parquet-dir", str(src),
            "--snapshot-dir", str(tmp_path / "snaps"),
            "--mode", mode,
            "--apply-dir", str(apply_dir),
            "-o", str(tmp_path / "out.xlsx"),
        ]
    )
    assert rc == 0
    text = capsys.readouterr().out
    assert "[Apply] t1" in text and "[OK]" in text and "MISMATCH" not in text
    rebuilt = {
        (str(r.id), r.s)
        for r in spark.read.parquet(str(apply_dir / "gen1" / "t1")).collect()
    }
    assert rebuilt == {("1", "a"), ("2", "B"), ("4", "d")}


def test_cli_apply_dir_reports_planted_mismatch(spark, tmp_path, monkeypatch, capsys):
    """The verify step counts every row the rebuilt table and the after
    snapshot do not share, with multiplicity: one altered row (missing
    on one side, extra on the other) plus one duplicated row is
    MISMATCH(3)."""
    import dbdiff_spark.diff as diff_mod

    src = tmp_path / "db"
    src.mkdir()
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id int, s string"
    ).write.parquet(str(src / "t1.parquet"))
    real_stdin = io.StringIO("\nq\n")

    def fake_readline():
        spark.createDataFrame(
            [(1, "a"), (2, "B"), (4, "d")], "id int, s string"
        ).write.mode("overwrite").parquet(str(src / "t1.parquet"))
        return real_stdin.readline()

    real_apply = diff_mod.apply_diff

    def planted_apply(*args, **kwargs):
        out = real_apply(*args, **kwargs)
        altered = out.selectExpr("id", "IF(id = 1, 'planted', s) AS s")
        return altered.unionByName(altered.filter("id = 4"))

    monkeypatch.setattr(diff_mod, "apply_diff", planted_apply)
    monkeypatch.setattr("sys.stdin", io.StringIO())
    monkeypatch.setattr("sys.stdin.readline", fake_readline)
    rc = cli.main(
        [
            "--parquet-dir", str(src),
            "--snapshot-dir", str(tmp_path / "snaps"),
            "--mode", "typed",
            "--apply-dir", str(tmp_path / "applied"),
            "-o", str(tmp_path / "out.xlsx"),
        ]
    )
    assert rc == 0
    text = capsys.readouterr().out
    assert "[Apply] t1" in text and "[MISMATCH(3)]" in text, text


def test_cli_apply_dir_survives_schema_drift(spark, tmp_path, monkeypatch, capsys):
    """--apply-dir across a schema migration: the mutated 'database'
    drops one column and adds another between snapshots; the apply must
    reconstruct in the AFTER schema (target_cols) and self-verify [OK]
    — reconstructing in the base schema was a guaranteed MISMATCH."""
    src = tmp_path / "db"
    src.mkdir()
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id int, s string, old int"
    ).write.parquet(str(src / "t1.parquet"))

    real_stdin = io.StringIO("\nq\n")

    def fake_readline():
        # migration + row churn: drop `old`, add `flag`, update id=2
        spark.createDataFrame(
            [(1, "a", True), (2, "B", False)], "id int, s string, flag boolean"
        ).write.mode("overwrite").parquet(str(src / "t1.parquet"))
        return real_stdin.readline()

    monkeypatch.setattr("sys.stdin", io.StringIO())
    monkeypatch.setattr("sys.stdin.readline", fake_readline)
    apply_dir = tmp_path / "applied"
    rc = cli.main(
        [
            "--parquet-dir", str(src),
            "--snapshot-dir", str(tmp_path / "snaps"),
            "--mode", "typed",
            "--key", "t1=id",
            "--apply-dir", str(apply_dir),
            "-o", str(tmp_path / "out.xlsx"),
        ]
    )
    assert rc == 0
    text = capsys.readouterr().out
    assert "[Apply] t1" in text and "[OK]" in text and "MISMATCH" not in text
    rebuilt = spark.read.parquet(str(apply_dir / "gen1" / "t1"))
    assert set(rebuilt.columns) == {"id", "s", "flag"}
    assert {(r.id, r.s, r.flag) for r in rebuilt.collect()} == {
        (1, "a", True),
        (2, "B", False),
    }


def test_cli_profile_only_and_vacuum(spark, tmp_path, capsys):
    from dbdiff_spark import cli
    from dbdiff_spark.catalog import TESTDATA_KEYS, FileCatalog
    from dbdiff_spark.snapshot import SnapshotStore, list_generations

    src = tmp_path / "db"
    src.mkdir()
    spark.createDataFrame(
        [(1, "a"), (2, None)], "id int, s string"
    ).write.mode("overwrite").parquet(str(src / "t1.parquet"))

    rc = cli.main(["--parquet-dir", str(src), "--profile-only"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "[Profile] t1" in out and "n_distinct" in out

    base = tmp_path / "gens"
    store = SnapshotStore(spark)
    cat = FileCatalog(spark, str(src), {})
    for i in range(3):
        s = store.collect(
            {"t1": cat.load("t1")}, {"t1": ["id"]}, str(base / f"gen-{i:03d}")
        )
        s.save_manifest()
    rc = cli.main(["--vacuum", str(base), "--keep-last", "1"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "2 generation(s) removed" in out
    assert len(list_generations(spark, str(base))) == 1


def test_cli_explain_prints_plan_and_suggests_on_typo(spark, capsys):
    from dbdiff_spark import cli

    rc = cli.main(["--explain", "q1_pricing_summary"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Scan parquet" in out

    rc = cli.main(["--explain", "q1_pricing_sumary"])
    assert rc == 2
    assert "q1_pricing_summary" in capsys.readouterr().out


def test_cli_incremental_prints_change_estimate(spark, tmp_path, monkeypatch, capsys):
    import io

    from dbdiff_spark import cli

    src = tmp_path / "db"
    src.mkdir()
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string").write.parquet(
        str(src / "t1.parquet")
    )
    real_stdin = io.StringIO("\nq\n")

    def fake_readline():
        # mutate between snapshots so the estimate has something to say
        spark.createDataFrame(
            [(1, "a"), (2, "CHANGED")], "id int, s string"
        ).write.mode("overwrite").parquet(str(src / "t1.parquet"))
        return real_stdin.readline()

    monkeypatch.setattr("sys.stdin", io.StringIO())
    monkeypatch.setattr("sys.stdin.readline", fake_readline)
    rc = cli.main(
        [
            "--parquet-dir", str(src),
            "--snapshot-dir", str(tmp_path / "snaps"),
            "--mode", "typed",
            "--incremental",
            "-o", str(tmp_path / "o.xlsx"),
        ]
    )
    assert rc == 0
    text = capsys.readouterr().out
    assert "[Estimate] t1: CHANGED" in text and "rows," in text and "groups)" in text


def test_cli_where_scopes_the_diff(spark, tmp_path, monkeypatch, capsys):
    """--where TABLE=PREDICATE restricts that table's diff: a mutation
    outside the scope is not reported, one inside is."""
    src = tmp_path / "db"
    src.mkdir()
    spark.createDataFrame(
        [(1, "x", "a"), (2, "x", "b"), (3, "y", "c")], "id int, grp string, s string"
    ).write.parquet(str(src / "t1.parquet"))

    real_stdin = io.StringIO("\nq\n")

    def mutate_then_readline():
        spark.createDataFrame(
            [(1, "x", "X"), (2, "x", "b"), (3, "y", "Y")],
            "id int, grp string, s string",
        ).write.mode("overwrite").parquet(str(src / "t1.parquet"))
        return real_stdin.readline()

    monkeypatch.setattr("sys.stdin", io.StringIO())
    monkeypatch.setattr("sys.stdin.readline", mutate_then_readline)
    rc = cli.main(
        [
            "--parquet-dir", str(src),
            "--snapshot-dir", str(tmp_path / "snaps"),
            "--mode", "typed",
            "--where", "t1=grp = 'x'",
            "-o", str(tmp_path / "out.xlsx"),
        ]
    )
    assert rc == 0
    text = capsys.readouterr().out
    # id 1 (grp=x) reported; id 3's change (grp=y) is out of scope
    assert "[s:X]" in text
    assert "[s:Y]" not in text


def test_cli_malformed_tolerance_eps_is_clean_error(spark, tmp_path, capsys):
    """A non-numeric EPS in --tolerance must take the '[Error] ... rc 2'
    path, not an uncaught ValueError traceback (ADVICE r3)."""
    from dbdiff_spark import cli

    src = tmp_path / "db"
    src.mkdir()
    spark.createDataFrame([(1, 1.0)], "id int, v double").write.mode(
        "overwrite"
    ).parquet(str(src / "t1.parquet"))
    rc = cli.main(
        [
            "--parquet-dir", str(src),
            "--snapshot-dir", str(tmp_path / "snaps"),
            "--mode", "typed",
            "--tolerance", "t1.v=abc",
        ]
    )
    assert rc == 2
    assert "[Error]" in capsys.readouterr().out


def test_cli_ignore_column_masks_churn(spark, tmp_path, monkeypatch, capsys):
    """--ignore TABLE.COLUMN: a change confined to the ignored column
    is not reported; a change elsewhere still is (and never lists the
    ignored column)."""
    import io as _io

    from dbdiff_spark import cli

    src = tmp_path / "db"
    src.mkdir()
    spark.createDataFrame(
        [(1, "a", "t0"), (2, "b", "t0")], "id int, v string, upd string"
    ).write.mode("overwrite").parquet(str(src / "t1.parquet"))

    real_stdin = _io.StringIO("\nq\n")

    def mutate_then_readline():
        spark.createDataFrame(
            [(1, "a", "t9"), (2, "B", "t9")], "id int, v string, upd string"
        ).write.mode("overwrite").parquet(str(src / "t1.parquet"))
        return real_stdin.readline()

    monkeypatch.setattr("sys.stdin", _io.StringIO())
    monkeypatch.setattr("sys.stdin.readline", mutate_then_readline)
    rc = cli.main(
        [
            "--parquet-dir", str(src),
            "--snapshot-dir", str(tmp_path / "snaps"),
            "--mode", "typed",
            "--ignore", "t1.upd",
            "-o", str(tmp_path / "out.xlsx"),
        ]
    )
    assert rc == 0
    text = capsys.readouterr().out
    # id=2's v change reported; id=1 (upd-only churn) absent.  With no
    # declared PK the derived key (all columns minus ignored) includes
    # v, so the change reads as identity change: DELETED + INSERTED.
    assert "[v:B]" in text
    assert "DELETED" in text and "INSERTED" in text
    assert "[id:1]" not in text

    rc = cli.main(
        ["--parquet-dir", str(src), "--snapshot-dir", str(tmp_path / "s2"),
         "--ignore", "badspec"]
    )
    assert rc == 2
    assert "[Error]" in capsys.readouterr().out


def test_cli_unknown_table_key_warns(spark, tmp_path, monkeypatch, capsys):
    """A typo'd table name in --ignore/--where/--tolerance matches no
    table and silently does nothing — the CLI must warn before the
    first snapshot so the user sees the spec had no effect."""
    import io as _io

    from dbdiff_spark import cli

    src = tmp_path / "db"
    src.mkdir()
    spark.createDataFrame(
        [(1, "a")], "id int, v string"
    ).write.mode("overwrite").parquet(str(src / "t1.parquet"))

    monkeypatch.setattr("sys.stdin", _io.StringIO("q\n"))
    rc = cli.main(
        [
            "--parquet-dir", str(src),
            "--snapshot-dir", str(tmp_path / "snaps"),
            "--mode", "typed",
            "--ignore", "cusomer.updated_at",   # the ADVICE typo verbatim
            "--where", "t1=id > 0",             # valid key: no warning
            "--tolerance", "tl.v=0.5",
            "-o", str(tmp_path / "out.xlsx"),
        ]
    )
    assert rc == 0
    text = capsys.readouterr().out
    assert "[Warn] --ignore cusomer: no such table" in text
    assert "[Warn] --tolerance tl: no such table" in text
    assert "[Warn] --where" not in text


def test_cli_key_spec_validated_against_schema(spark, tmp_path, monkeypatch, capsys):
    """--key is covered by the unknown-table warning loop, and a
    declared key COLUMN missing from the table schema fails fast with a
    clear error instead of an opaque analysis error mid-snapshot."""
    import io as _io

    from dbdiff_spark import cli

    src = tmp_path / "db"
    src.mkdir()
    spark.createDataFrame(
        [(1, "a")], "id int, v string"
    ).write.mode("overwrite").parquet(str(src / "t1.parquet"))

    # typo'd table → warning, run proceeds
    monkeypatch.setattr("sys.stdin", _io.StringIO("q\n"))
    rc = cli.main(
        [
            "--parquet-dir", str(src),
            "--snapshot-dir", str(tmp_path / "snaps"),
            "--key", "t2=id",
            "-o", str(tmp_path / "out.xlsx"),
        ]
    )
    assert rc == 0
    assert "[Warn] --key t2: no such table" in capsys.readouterr().out

    # typo'd column on a real table → hard error before any snapshot
    monkeypatch.setattr("sys.stdin", _io.StringIO("q\n"))
    rc = cli.main(
        [
            "--parquet-dir", str(src),
            "--snapshot-dir", str(tmp_path / "snaps2"),
            "--key", "t1=id,idd",
            "-o", str(tmp_path / "out.xlsx"),
        ]
    )
    assert rc == 2
    text = capsys.readouterr().out
    assert "[Error] --key t1: no such column(s) idd" in text
    assert "[Collect]" not in text
