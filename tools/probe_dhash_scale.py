"""Scaling probe for the banded hamming near-dup candidate generator
(``multimodal_dhash_neardup``'s sizing math).

The op's scale note claims: expected candidate pairs ≈ N²·B/2^(w+1)
even for UNIFORM hashes (B bands of w bits).  The growth exponent is 2
at ANY width — band width divides the CONSTANT by 2^Δw, it does not
linearize — so the deployment rule is to pick w ≈ log₂(N) for the
target corpus, keeping the absolute candidate count ≈ N·B/2 there:
the fixture's 40-bit/4×10 grid is sound to N~10⁵, and a 10⁹-image
deployment needs a PDQ-class 128-bit hash (4×32-bit bands).  This
probe pins both halves empirically:

* w=10 (the shipped grid): measured pairs should track N²·B/2^11 and
  the per-decade exponent should be ≈2.
* w=16 at the same N: the same exponent with the constant ~64× lower.

Band values are drawn directly from md5 hex slices (uniform by
construction; the codec is byte-exact-verified elsewhere and
irrelevant to join volume).  Near-dup planting is unnecessary: the
quadratic term IS the uniform-collision floor.

Usage: python tools/probe_dhash_scale.py [--scales 30000,100000,300000]
(run with 2>/dev/null — Spark progress bars interleave stdout).
Writes nothing to the repo; prints a markdown table for ARCHITECTURE.md.
"""

from __future__ import annotations

import argparse
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from dbdiff_spark.session import get_spark  # noqa: E402

N_BANDS = 4


def candidate_count(spark, n: int, band_bits: int) -> tuple[int, float]:
    """Distinct candidate pairs from the band self-join over n uniform
    hashes (the exact join shape the op uses).  Each band's value is an
    independent md5 hex slice masked to ``band_bits`` — no packed
    64-bit hash, so no BIGINT overflow at any width."""
    hex_per_band = -(-band_bits // 4)  # ceil: 10→3 chars (12 bits), 16→4
    mask = 2 ** band_bits - 1
    band_structs = ", ".join(
        f"struct({b} AS band_idx, "
        f"(CAST(conv(substr(md5(CAST(id AS STRING)), {1 + b * hex_per_band}, "
        f"{hex_per_band}), 16, 10) AS BIGINT) & {mask}) AS band_val)"
        for b in range(N_BANDS)
    )
    banded = spark.range(n).selectExpr(
        "id AS doc_id", f"explode(array({band_structs})) AS band"
    ).select("doc_id", "band.band_idx", "band.band_val")
    left, right = banded.alias("x"), banded.alias("y")
    t0 = time.time()
    pairs = (
        left.join(
            right,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select("x.doc_id", "y.doc_id")
        .distinct()
        .count()
    )
    return pairs, time.time() - t0


def synthetic_derivation() -> None:
    """No-Spark derivation table for the beyond-bench regime: what band
    width w = ⌈log₂N⌉ both engines derive at synthetic corpus sizes —
    including N > 2³⁰, the regime the r6 width cap (30) would have
    seatbelt-aborted and the r7 cap (62) degrades by WIDENING.  The
    expected per-item candidate load stays ≈ B/2 at every N because
    the derived 2^(w+1) tracks N² — the probe-pinned law the measured
    rows below validate at bench scale.  DuckDB twin equality is
    asserted per row, so this table is also a derivation check."""
    import duckdb

    from dbdiff_spark.ops.dedup import (
        SIMHASH_BAND_BITS_MAX,
        SIMHASH_BAND_BITS_MIN,
        SIMHASH_N_BANDS,
        _band_bits_duck,
        hamming_band_bits,
    )

    print("| N (synthetic) | derived w | fp bits (6w) | md5 streams |"
          " expected cand/item (B/2·N²/2^w/N) |")
    print("|---|---|---|---|---|")
    for n in (10**4, 10**6, 10**9, 2**30 + 1, 10**10, 10**12, 2**62 + 1):
        w = hamming_band_bits(n, SIMHASH_BAND_BITS_MIN, SIMHASH_BAND_BITS_MAX)
        duck = duckdb.sql(
            f"SELECT {_band_bits_duck(f'SELECT {n}', SIMHASH_BAND_BITS_MIN, SIMHASH_BAND_BITS_MAX)}"
        ).fetchone()[0]
        assert duck == w, (n, duck, w)
        cand_per_item = n * SIMHASH_N_BANDS / 2 ** (w + 1)
        print(
            f"| {n:.2e} | {w} | {SIMHASH_N_BANDS * w} |"
            f" {-(-SIMHASH_N_BANDS * w // 32)} | {cand_per_item:.2f} |"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="30000,100000,300000")
    ap.add_argument(
        "--synthetic-derivation", action="store_true",
        help="print the no-Spark synthetic-N derivation table and exit",
    )
    args = ap.parse_args()
    if args.synthetic_derivation:
        synthetic_derivation()
        return
    scales = [int(s) for s in args.scales.split(",")]

    from dbdiff_spark.ops.dedup import (
        SIMHASH_BAND_BITS_MAX,
        SIMHASH_BAND_BITS_MIN,
        hamming_band_bits,
    )

    spark = get_spark(
        app_name="probe_dhash_scale",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # derived_w: what the runtime derivation (r6) would actually pick at
    # this N — the law the fixed-w rows validate empirically
    print(
        "| N | w | derived_w(N) | expected N²·B/2^(w+1) | measured pairs"
        " | exponent | s |"
    )
    print("|---|---|---|---|---|---|---|")
    for band_bits in (10, 16):
        prev = None
        for n in scales:
            expected = n * n * N_BANDS // (2 ** (band_bits + 1))
            pairs, dt = candidate_count(spark, n, band_bits)
            expo = (
                f"{math.log(pairs / prev[1]) / math.log(n / prev[0]):.2f}"
                if prev and prev[1] > 0 and pairs > 0
                else "-"
            )
            derived = hamming_band_bits(
                n, SIMHASH_BAND_BITS_MIN, SIMHASH_BAND_BITS_MAX
            )
            print(
                f"| {n} | {band_bits} | {derived} | {expected} | {pairs}"
                f" | {expo} | {dt:.1f} |",
                flush=True,
            )
            prev = (n, pairs)


if __name__ == "__main__":
    main()
