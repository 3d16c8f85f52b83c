"""Production-depth BPE probe: execute the m=256 configuration the
design note in ``ops/retrieval.py`` sizes, at real tokenizer depth.

The registry config (R=8, m<=64) proves the machinery with an
oracle-checked twin; what it cannot prove is that the SAME machinery
survives thousands of merges — expression staging, checkpoint-chain
depth, placeholder-code growth, dominance-filter throughput when the
shortlist is 1024 deep.  The driver ``documents`` fixture cannot feed
such a run (its ~50-word vocabulary exhausts after a few hundred
merges), so this probe trains on ``testkit.write_bpe_corpus`` — a
6000-pseudo-word Zipf corpus with syllable-shared sub-word structure.

Per round the adoption budget is gated by SYMBOL-DISJOINTNESS: round 1
can adopt at most ~len(alphabet)/2 pairs, and each adopted merge adds
one symbol, so per-round capacity compounds ~1.5x until the m cap
binds — production depth is reached in tens of rounds, not vocab/m.
MEASURED finding (this probe, r7): the DOMINANCE adoption rule never
gets near that bound — it self-limits at ~sqrt(alphabet) adoptions per
round (3-9/round, 180 merges after 30 rounds on this corpus), because
every higher-ranked candidate blocks, adopted or not.  Depth therefore
runs the GREEDY rule (``adoption='greedy'``, oracle-checked as
``bpe_train_greedy``), which fills toward the round capacity.

What the probe asserts (not just reports):
* >= --target-merges merges adopted (default 4096 — the ~4k run the
  r6 verdict mandates, 8x past the shipped <=512 registry depth);
* the full corpus round-trips through apply with ZERO failures
  (expansion of every placeholder reconstructs the original token);
* the artifact-driven apply (train -> parquet -> reload -> apply)
  produces the identical report to the in-memory path.

Usage: python tools/probe_bpe_depth.py [--target-merges 4096]
  [--m 256] [--scan 2048] [--max-rounds 80] [--n-docs 3000]
(run with 2>/dev/null — Spark progress bars interleave stdout).
Writes nothing to the repo; prints per-round progress and a final
JSON line for ARCHITECTURE.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from dbdiff_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--target-merges", type=int, default=4096)
    ap.add_argument("--m", type=int, default=256)
    ap.add_argument("--scan", type=int, default=2048)
    ap.add_argument("--max-rounds", type=int, default=80)
    ap.add_argument("--n-docs", type=int, default=3000)
    ap.add_argument("--lexicon", type=int, default=6000)
    ap.add_argument(
        "--skip-artifact",
        action="store_true",
        help="skip the artifact-roundtrip leg (it RE-TRAINS from "
        "scratch, doubling probe cost; the 32k posture only needs "
        "train depth + round-trip proof — artifact equality is "
        "covered at the 4k default)",
    )
    args = ap.parse_args()

    spark = get_spark(
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    from dbdiff_spark import testkit
    from dbdiff_spark.ops.retrieval import (
        _bpe_apply_report,
        _bpe_batch_learn,
        _bpe_code,
        bpe_merge_artifact,
    )

    corpus = tempfile.mkdtemp(prefix="bpe_depth_")
    testkit.write_bpe_corpus(
        spark, corpus, n_docs=args.n_docs, lexicon=args.lexicon
    )

    t0 = time.time()
    rows, rounds_adopted, expansions = _bpe_batch_learn(
        spark, corpus, rounds=args.max_rounds, m=args.m, scan=args.scan,
        adoption="greedy",
    )
    train_s = time.time() - t0
    n_merges = len(rows)
    per_round = [len(r) for r in rounds_adopted]
    print(f"rounds={len(per_round)} merges={n_merges} "
          f"per_round={per_round} train_s={train_s:.1f}")
    assert n_merges >= args.target_merges, (
        f"only {n_merges} merges adopted — corpus too shallow for "
        f"target {args.target_merges}; raise --n-docs/--lexicon"
    )

    # in-memory apply over the FULL corpus, with round-trip proof
    pair_codes = [
        (p, _bpe_code(k + 1))
        for k, p in enumerate(q for rnd in rounds_adopted for q in rnd)
    ]
    t1 = time.time()
    report = _bpe_apply_report(spark, corpus, pair_codes, expansions)
    agg = report.selectExpr(
        "sum(n_tokens) AS toks",
        "sum(n_symbols) AS syms",
        "sum(n_merge_applications) AS apps",
        "sum(n_roundtrip_failures) AS fails",
    ).collect()[0]
    apply_s = time.time() - t1
    assert agg["fails"] == 0, f"{agg['fails']} round-trip failures"

    # artifact path: train -> persist -> reload -> apply must agree
    artifact_s = None
    if args.skip_artifact:
        out = _summary(args, per_round, n_merges, agg, train_s, apply_s, None)
        print(json.dumps(out))
        return 0
    t2 = time.time()
    art = f"{corpus}/_bpe_merges"
    bpe_merge_artifact(
        spark, corpus, art, rounds=args.max_rounds, m=args.m, scan=args.scan,
        adoption="greedy",
    )
    merges = sorted(spark.read.parquet(art).collect(), key=lambda r: r["code"])
    art_pairs = [(r["pair"], _bpe_code(r["code"])) for r in merges]
    art_exp = [r["merge_text"] for r in merges]
    assert art_pairs == pair_codes and art_exp == expansions, (
        "artifact does not reproduce the in-memory merge table"
    )
    via_art = {
        r["doc_id"]: tuple(r)
        for r in _bpe_apply_report(spark, corpus, art_pairs, art_exp).collect()
    }
    in_mem = {r["doc_id"]: tuple(r) for r in report.collect()}
    assert via_art == in_mem, "artifact apply != in-memory apply"
    artifact_s = time.time() - t2

    out = _summary(
        args, per_round, n_merges, agg, train_s, apply_s, artifact_s
    )
    print(json.dumps(out))
    return 0


def _summary(args, per_round, n_merges, agg, train_s, apply_s, artifact_s):
    return {
        "probe": "bpe_depth",
        "n_docs": args.n_docs,
        "lexicon": args.lexicon,
        "m": args.m,
        "scan": args.scan,
        "rounds_run": len(per_round),
        "merges": n_merges,
        "per_round_adoptions": per_round,
        "n_tokens": int(agg["toks"]),
        "n_symbols_after": int(agg["syms"]),
        "n_merge_applications": int(agg["apps"]),
        "roundtrip_failures": int(agg["fails"]),
        "compression_ratio": round(
            (agg["syms"] + agg["apps"]) / agg["syms"], 3
        ),
        "train_s": round(train_s, 1),
        "apply_s": round(apply_s, 1),
        "artifact_roundtrip_s": (
            None if artifact_s is None else round(artifact_s, 1)
        ),
    }


if __name__ == "__main__":
    sys.exit(main())
