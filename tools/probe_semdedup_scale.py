"""Scaling probe for SemDeDup's derived cell count (VERDICT r3 item 1).

Generates synthetic embeddings corpora at 1×/4×/10×/40× the sf0.1 vector
count, runs ``semdedup_prune`` on each, and reports

* K (the derived cell count — should grow ~√n),
* the within-cell candidate-pair total Σ C(n_c, 2) (THE op's quadratic
  cost — with K ~ √n it must grow ~n·(n/K) ≈ n^1.5 worst-case and ~n
  for balanced cells, NOT n²),
* wall-clock per run.

The fixed-K=48 r3 design would show pairs growing exactly n²/96; the
derived-K design shows the per-decade pair-growth exponent directly.

Usage: python tools/probe_semdedup_scale.py [--scales 2000,8000,20000]
Writes nothing to the repo; prints a markdown table for ARCHITECTURE.md.
"""

from __future__ import annotations

import argparse
import math
import shutil
import sys
import tempfile
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

DIM = 64


def make_corpus(n: int, out_dir: Path) -> None:
    rng = np.random.default_rng(42)
    emb = rng.standard_normal((n, DIM)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(np.zeros(n, dtype=np.int32)),
        }
    )
    pq.write_table(tbl, out_dir / "embeddings.parquet")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="2000,8000,20000,80000")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    from dbdiff_spark.ops.similarity import semdedup_cells, semdedup_prune
    from dbdiff_spark.session import get_spark

    spark = get_spark(
        app_name="semdedup_scale_probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    print("| n_vectors | corpus (2n) | K | within-cell pairs | pairs/n | sec |")
    print("|---|---|---|---|---|---|")
    prev: tuple[int, int] | None = None
    for n in scales:
        work = Path(tempfile.mkdtemp(prefix="semdedup_probe_"))
        try:
            make_corpus(n, work)
            t0 = time.time()
            rows = semdedup_prune(spark, str(work)).collect()
            dt = time.time() - t0
            pairs = sum(r["n_vectors"] * (r["n_vectors"] - 1) // 2 for r in rows)
            k = semdedup_cells(2 * n)
            note = ""
            if prev is not None:
                pn, pp = prev
                exp = math.log(pairs / pp) / math.log((2 * n) / pn)
                note = f" growth-exp {exp:.2f}"
            print(
                f"| {n} | {2*n} | {k} | {pairs} |"
                f" {pairs/(2*n):.1f} | {dt:.1f}{note} |"
            )
            prev = (2 * n, pairs)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
