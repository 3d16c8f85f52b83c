"""Capture ``.explain("formatted")`` output for named registry queries
into ``plans/r12/<query>_<tag>.txt`` — the before/after plan evidence
the optimization round commits alongside each change.

Usage::

    python tools/capture_plans.py --tag before q1 q2 ...
    python tools/capture_plans.py --tag after --sf-dir /root/testdata/sf0.1 q1
    python tools/capture_plans.py --compare before after [q1 ...]

Queries whose public form materializes eagerly use their registered
``EXPLAIN_FRAMES`` override (the CLI ``--explain`` convention).

``--compare TAG_A TAG_B`` captures nothing: it diffs the two tags' files
in ``--out-dir`` (every query captured under TAG_A when none is named)
after masking what differs between two captures of one plan —
expression ids (``#123``), node ordinals (``(12)``), codegen ids,
exchange plan ids (``plan_id=77``), the per-process salt of
artifact roots (``u0_p4242``) and the RDD ids of eagerly cut frames
(``MapPartitionsRDD[4417]``), which count every RDD the session made
before — prints each query's differing lines
and exits 1 on any difference or missing file.  Capture both tags from
the same working directory, so artifact roots share their prefix.
"""

from __future__ import annotations

import argparse
import difflib
import re
import sys
from pathlib import Path

_MASKS = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\(\d+\)"), "(N)"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"/u\d+_p\d+/"), "/uN_pN/"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
)


def _masked(path: Path) -> list[str]:
    text = path.read_text()
    for pat, sub in _MASKS:
        text = pat.sub(sub, text)
    return text.splitlines()


def compare(out_dir: Path, tag_a: str, tag_b: str, queries: list[str]) -> int:
    """Print the masked differences of each query's two captures;
    return the number of queries that differ or lack a capture."""
    suffix = f"_{tag_a}.txt"
    if not queries:
        queries = sorted(p.name[: -len(suffix)] for p in out_dir.glob(f"*{suffix}"))
    bad = 0
    for name in queries:
        a, b = out_dir / f"{name}_{tag_a}.txt", out_dir / f"{name}_{tag_b}.txt"
        if not (a.exists() and b.exists()):
            print(f"!! {name}: missing {a if not a.exists() else b}")
            bad += 1
            continue
        diff = [
            ln
            for ln in difflib.unified_diff(
                _masked(a), _masked(b), tag_a, tag_b, n=0, lineterm=""
            )
            if not ln.startswith(("---", "+++", "@@"))
        ]
        print(f"{'!!' if diff else 'ok'} {name}: {len(diff)} differing lines")
        for ln in diff:
            print(f"   {ln}")
        bad += bool(diff)
    return bad

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out-dir", default=str(Path(__file__).resolve().parent.parent / "plans" / "r12"))
    ap.add_argument("--compare", nargs=2, metavar=("TAG_A", "TAG_B"))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.compare:
        sys.exit(1 if compare(Path(args.out_dir), *args.compare, args.queries) else 0)
    if not args.queries:
        ap.error("name at least one query to capture")

    from dbdiff_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="dbdiff_plan_capture")
    qs = entrymod.queries()
    overrides = entrymod.explain_frames()
    out_dir = Path(args.out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in args.queries:
        fn = overrides.get(name) or qs.get(name)
        if fn is None:
            print(f"!! unknown query: {name}", file=sys.stderr)
            continue
        df = fn(spark, args.sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        path = out_dir / f"{name}_{args.tag}.txt"
        path.write_text(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")


if __name__ == "__main__":
    main()
