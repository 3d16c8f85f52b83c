"""Sink tests: console label fidelity (cmd/dbdiff/main.go:201-250), xlsx
block layout + modified-cell styling (main.go:100-270), parquet packed
sink partitioning."""

import zipfile
import xml.etree.ElementTree as ET
from pathlib import Path

from dbdiff_spark.diff import DiffMode, diff_tables
from dbdiff_spark.sinks.console import render_table_diff
from dbdiff_spark.sinks.files import write_packed_diff
from dbdiff_spark.sinks.xlsx import default_output_name, write_diff_xlsx

NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _mini_diff(spark):
    before = spark.createDataFrame(
        [(1, "a", None), (2, "b", "x"), (3, "c", "y")], "id int, s string, t string"
    )
    after = spark.createDataFrame(
        [(1, "a2", None), (3, "c", "y"), (4, "d", "z")], "id int, s string, t string"
    )
    return diff_tables(before, after, ["id"], mode=DiffMode.TYPED)


def test_console_labels_and_null_sentinel(spark):
    text = render_table_diff("mytable", _mini_diff(spark))
    lines = text.splitlines()
    assert lines[0] == "===mytable==="
    assert lines[1] == "UPDATED[Before] : ([id:1][s:a][t:<NULL>])"
    assert lines[2] == "UPDATED[After ] : ([id:1][s:a2][t:<NULL>])"
    assert lines[3] == "DELETED         : ([id:2][s:b][t:x])"
    assert lines[4] == "INSERTED        : ([id:4][s:d][t:z])"


def test_xlsx_block_layout_and_styles(spark, tmp_path):
    out = tmp_path / "diff.xlsx"
    write_diff_xlsx({"mytable": _mini_diff(spark)}, out)
    with zipfile.ZipFile(out) as z:
        names = set(z.namelist())
        assert "xl/worksheets/sheet1.xml" in names and "xl/styles.xml" in names
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    cells = {}
    for row in sheet.iter(f"{NS}row"):
        for c in row.iter(f"{NS}c"):
            t = c.find(f"{NS}is/{NS}t")
            cells[c.get("r")] = (t.text if t is not None else "", c.get("s"))
    # block starts at B2: TableName label (style 4 orange) + name
    assert cells["B2"] == ("TableName", "4")
    assert cells["C2"][0] == "mytable"
    # header row: (diff) + column names, style 3 green
    assert cells["B3"] == ("(diff)", "3")
    assert cells["C3"] == ("id", "3")
    # UPDATED pair first (id=1): modified cell s gets style 2 (yellow/red)
    assert cells["B4"][0] == "UPD BEFORE"
    assert cells["D4"] == ("a", "2")   # s column, modified
    assert cells["C4"] == ("1", "1")   # id column, unmodified border style
    assert cells["E4"] == ("<NULL>", "1")  # NULL sentinel rendering
    assert cells["B5"][0] == "UPD  AFTER"
    assert cells["D5"] == ("a2", "2")
    assert cells["B6"][0] == "DELETED"
    assert cells["B7"][0] == "INSERTED"


GOLDEN = Path(__file__).resolve().parent / "golden"


def _report_fixture(spark):
    """Three tables' diffs covering every sink row kind: an UPDATED pair
    with a value→NULL and a NULL-carrying unmodified column, DELETED and
    INSERTED rows, XML-special text, a composite-key STRING-mode table,
    and a table with no changes (console header only, no xlsx block)."""
    people_b = spark.createDataFrame(
        [(1, "ada", None, 1.5), (2, "bob", "x", 2.0), (3, "c&d", "<y>", None), (5, "eve", "same", 1.0)],
        "id int, name string, tag string, score double",
    )
    people_a = spark.createDataFrame(
        [(1, "ada2", None, 1.5), (3, "c&d", None, None), (4, "dan", "z", 4.25), (5, "eve", "same", 1.0)],
        "id int, name string, tag string, score double",
    )
    ledger_b = spark.createDataFrame(
        [(10, 1, "open", 3), (10, 2, None, 4), (11, 1, "shut", 5)],
        "k1 bigint, k2 int, state string, qty int",
    )
    ledger_a = spark.createDataFrame(
        [(10, 1, "open", 30), (10, 2, "new", 4), (12, 1, "open", None)],
        "k1 bigint, k2 int, state string, qty int",
    )
    quiet = spark.createDataFrame([(1, "same")], "id int, v string")
    return {
        "people": diff_tables(people_b, people_a, ["id"], mode=DiffMode.TYPED),
        "ledger": diff_tables(ledger_b, ledger_a, ["k1", "k2"], dedup_keys=True),
        "quiet": diff_tables(quiet, quiet, ["id"], mode=DiffMode.TYPED),
    }


def test_sinks_match_goldens_and_xlsx_reuses_console_rows(spark, tmp_path, capsys, last_job_id):
    """Console text and the xlsx sheet XML are byte-for-byte the reports
    the Column-DSL planners and per-sink collects produced
    (``tests/golden``), and the xlsx sink after the console sink on the
    same results submits no Spark job: both read the results' row memo."""
    from dbdiff_spark.sinks.console import print_diffs

    results = _report_fixture(spark)
    print_diffs(results)
    text = capsys.readouterr().out
    assert text == (GOLDEN / "report_console.txt").read_text(encoding="utf-8")

    before = last_job_id()
    out = tmp_path / "report.xlsx"
    write_diff_xlsx(results, out)
    assert last_job_id() == before, "xlsx sink re-ran the diff"
    with zipfile.ZipFile(out) as z:
        sheet = z.read("xl/worksheets/sheet1.xml")
    assert sheet == (GOLDEN / "report_sheet1.xml").read_bytes()


def test_row_memo_is_per_result_and_per_cap(spark, last_job_id):
    from dbdiff_spark.diff import collect_rows

    results = _report_fixture(spark)
    collect_rows(results, 3)
    before = last_job_id()
    assert [len(results[t].rows(3)) for t in ("people", "ledger", "quiet")] == [3, 3, 0]
    assert last_job_id() == before
    # another cap is another collect; fresh results start empty
    assert len(results["people"].rows(100)) == 6
    assert last_job_id() > before
    assert _report_fixture(spark)["people"]._rows == {}


def test_default_output_name():
    from datetime import datetime

    assert (
        default_output_name(now=datetime(2026, 8, 13, 4, 5, 6))
        == "dbdiff_20260813_040506.xlsx"
    )


def test_packed_parquet_sink_partitioned(spark, tmp_path):
    from dbdiff_spark.snapshot import SnapshotStore, packed_diff

    store = SnapshotStore(spark)
    t1 = spark.createDataFrame([(1, "a")], "id int, s string")
    t1b = spark.createDataFrame([(1, "b")], "id int, s string")
    before = store.collect({"t1": t1}, {"t1": ["id"]}, str(tmp_path / "b"))
    after = store.collect({"t1": t1b}, {"t1": ["id"]}, str(tmp_path / "a"))
    packed = packed_diff(spark, before, after)
    out = tmp_path / "packed"
    write_packed_diff(packed, str(out))
    assert (out / "table_name=t1").is_dir()  # partition pruning layout
    back = spark.read.parquet(str(out))
    assert back.count() == 2  # one UPDATED pair


def test_xlsx_open_command_per_platform(tmp_path):
    """Reference parity (main.go:261-269): viewer command per platform;
    command construction only — nothing is spawned in CI."""
    from dbdiff_spark.sinks.xlsx import maybe_open, open_command

    assert open_command("r.xlsx", platform="darwin") == ["/usr/bin/open", "r.xlsx"]
    assert open_command("r.xlsx", platform="win32") == ["cmd", "/C", "r.xlsx"]
    assert open_command("r.xlsx", platform="linux") is None
    # default off: never spawns; linux: no viewer even when asked
    assert maybe_open("r.xlsx") is False
    import sys

    if sys.platform.startswith("linux"):
        assert maybe_open("r.xlsx", auto_open=True) is False


def test_training_shard_export_balanced_ordered_resumable(spark, sf_dir, tmp_path):
    """Shards are contiguous global-shuffle ranges: sizes differ by <=1,
    every row lands exactly once, and within a shard the stream order
    follows the permutation index."""
    import pytest

    from dbdiff_spark.ops.corpus import corpus_shuffle_index
    from dbdiff_spark.sinks.corpus import write_training_shards

    idx = corpus_shuffle_index(spark, sf_dir).select("doc_id", "shuffle_pos")
    pos_col = "shuffle_pos"
    n = idx.count()
    out = str(tmp_path / "shards")
    write_training_shards(idx, out, n_shards=7, order_col=pos_col)
    back = spark.read.json(out)
    assert back.count() == n
    sizes = {
        r.shard_id: r.n for r in back.groupBy("shard_id").agg(
            __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
        ).collect()
    }
    assert set(sizes) == set(range(7))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # exactly-once, order-preserving: positions in shard k are the
    # contiguous range [sum(sizes[<k]), sum(sizes[<=k]))
    import itertools

    boundaries = list(itertools.accumulate(sizes[k] for k in range(7)))
    lo = 0
    for k in range(7):
        ps = sorted(
            r[pos_col] for r in back.filter(f"shard_id = {k}").collect()
        )
        assert ps == list(range(lo, boundaries[k]))
        lo = boundaries[k]
    with pytest.raises(ValueError):
        write_training_shards(idx.limit(0), str(tmp_path / "x"), 2, pos_col)
