"""Self-test of the benchmark.

Run from the repository root::

    python3 perfbench/selftest.py

For each workload it makes one untraced and one traced run with the
shortest window, and asserts that the run is correct, that every metric
``BENCHMARK.json`` names is emitted with its unit, and that the layers the
workload reaches report work while the others read 0.  It then runs one
REPL iteration in this process and shows the output check can fail: the
report passes the check intact and fails it with one console or xlsx row
dropped.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import check, run, tracing  # noqa: E402

# The per-layer metric prefixes each workload reaches, and the metric
# kinds that must be above 0 in a layer that is reached.
REACHED = {
    "repl_small_edits": ("catalog.", "snapshot.", "diff.", "sinks.", "iteration.", "session.",
                         "trace."),
    "corpus_dedup_ann": ("ops.", "iteration.", "session.", "trace."),
}
MUST_MOVE = ("wall_s", "plan_s", "start_s", "first_s", "jobs", "gateway_calls", "rows_read",
             "rows_reported", "rows_rendered")


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_metrics(result: dict, declared: list[dict], what: str) -> None:
    if not result["correct"] or result["failed"]:
        raise AssertionError(f"{what}: run not correct: {result}")
    got = result["metrics"]
    for m in declared:
        if m["name"] not in got:
            raise AssertionError(f"{what}: metric {m['name']} not emitted")
        if got[m["name"]]["unit"] != m["unit"]:
            raise AssertionError(f"{what}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
    extra = set(got) - {m["name"] for m in declared}
    if extra:
        raise AssertionError(f"{what}: undeclared metrics {sorted(extra)}")


def _check_layers(result: dict, workload: str) -> None:
    for name, m in result["metrics"].items():
        reached = name.startswith(REACHED[workload])
        if reached and name.endswith(MUST_MOVE) and not m["value"] > 0:
            raise AssertionError(f"{workload}: reached layer metric {name} is {m['value']}")
        if not reached and m["value"] != 0:
            raise AssertionError(f"{workload}: {name} is {m['value']} on a layer it never reaches")


def _drop_xlsx_row(src: Path, dst: Path) -> None:
    """Copy the report without its first data row."""
    with zipfile.ZipFile(src) as z:
        parts = {n: z.read(n) for n in z.namelist()}
    sheet = parts["xl/worksheets/sheet1.xml"].decode()
    m = re.search(r'<row r="\d+"><c r="B\d+" s="1" t="inlineStr">.*?</row>', sheet)
    parts["xl/worksheets/sheet1.xml"] = (sheet[: m.start()] + sheet[m.end():]).encode()
    with zipfile.ZipFile(dst, "w") as z:
        for n, b in parts.items():
            z.writestr(n, b)


def check_can_fail(text: str, xlsx: Path, truth: dict) -> None:
    intact, _ = check.check_iteration(text, xlsx, truth)
    if intact:
        raise AssertionError(f"intact report fails the check: {intact}")
    lines = text.splitlines(keepends=True)
    row = next(i for i, line in enumerate(lines) if not line.startswith("==="))
    if not check.check_iteration("".join(lines[:row] + lines[row + 1:]), xlsx, truth)[0]:
        raise AssertionError("check passed a console report with a dropped row")
    dropped = xlsx.with_name("dropped.xlsx")
    _drop_xlsx_row(xlsx, dropped)
    if not check.check_iteration(text, dropped, truth)[0]:
        raise AssertionError("check passed an xlsx report with a dropped row")


def _one_repl_report(run_dir: Path) -> tuple:
    """Console text, xlsx path and truth of one REPL iteration."""
    run.prepare(run_dir)
    spark = run.start_spark(run_dir, run.ReplWorkload.name)
    try:
        workload = run.ReplWorkload(spark, run_dir, 7, tracing.Tracer())
        workload.setup_once(0)
        return workload.iterate(0)["report"]
    finally:
        run._stop_spark(spark)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in spec["workloads"]:
        name = w["name"]
        _check_metrics(_run(name, 0), spec["end_to_end"], f"{name} trace=0")
        traced = _run(name, 1)
        _check_metrics(traced, spec["per_layer"], f"{name} trace=1")
        _check_layers(traced, name)
        print(f"ok {name}: every declared metric emitted with its unit; reached layers report work")
    tmp_root = ROOT / ".perfbench_tmp"
    tmp_root.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix="selftest-", dir=tmp_root))
    try:
        check_can_fail(*_one_repl_report(run_dir))
        print("ok check: intact report passes, a dropped console or xlsx row fails")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            tmp_root.rmdir()
        except OSError:
            pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
