"""Per-job profile of one registry query — the measurement step the
optimization guide (§1) asks for, at job granularity: where inside a
multi-second registry entry does the wall time go (which Spark jobs,
how many tasks, and how much un-jobbed driver time sits between them)?

Usage::

    python tools/profile_query.py ann_ivfpq_ingest            # sf0.1, 2 runs
    python tools/profile_query.py --runs 1 dedup_ingest_full
    python tools/profile_query.py --sf-dir /root/testdata/sf0.01 q1_pricing_summary
    python tools/profile_query.py --events-dir /tmp/ev --runs 1 neardup_clusters

Method: a fresh SparkSession with the JSON event log enabled writes one
log per application; each timed run is bracketed by job-description
markers, and the log is parsed afterwards into a per-job table (start
offset, duration, #tasks, stage names) plus the driver-side gaps, then
a per-stage table of the operators each stage ran (its RDD scopes) and
the shuffle bytes and records it wrote (a subtree planned twice shows
up there as two stages writing the same bytes).  Noop sink, per-plan
sf0.001 warmup first — the bench's own methodology.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

EVDIR = "/tmp/dbdiff_profile_events"

_SHUFFLE_BYTES = "internal.metrics.shuffle.write.bytesWritten"
_SHUFFLE_RECORDS = "internal.metrics.shuffle.write.recordsWritten"


def _stage_operators(stage_info: dict) -> str:
    """The physical operators a stage ran, from its RDDs' scopes — the
    stage name of a DataFrame job is a call-site lambda
    (``$anonfun$withThreadLocalCaptured$2``) that tells stages apart
    by nothing."""
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        try:
            name = json.loads(rdd.get("Scope") or "{}").get("name", "")
        except json.JSONDecodeError:
            continue
        if name and not name.startswith("WholeStageCodegen"):
            names.add(name.strip())
    return ", ".join(sorted(names))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    runs = 2
    sf_dir = "/root/testdata/sf0.1"
    names = []
    evdir = EVDIR
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs = int(args[i + 1]); i += 2
        elif args[i] == "--sf-dir":
            sf_dir = args[i + 1]; i += 2
        elif args[i] == "--events-dir":
            evdir = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    os.makedirs(evdir, exist_ok=True)
    from dbdiff_spark.session import get_spark

    spark = get_spark(
        app_name="dbdiff_profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{os.path.abspath(evdir)}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    app_id = spark.sparkContext.applicationId
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    sc = spark.sparkContext

    windows: dict[str, list[tuple[float, float]]] = {}
    for name in names:
        fn = qs[name]
        # per-plan warmup (JIT/codegen) at the small SF
        try:
            fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)
        windows[name] = []
        for r in range(runs):
            sc.setJobDescription(f"PROFILE:{name}:run{r}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            t1 = time.time()
            sc.setJobDescription(None)
            windows[name].append((t0, t1))
            print(f"# {name} run{r}: {t1 - t0:.3f}s", file=sys.stderr)
    spark.stop()

    # --- parse the event log ------------------------------------------------
    evfile = None
    for p in Path(evdir).iterdir():
        if app_id in p.name and not p.name.endswith(".inprogress"):
            evfile = p
    if evfile is None:
        for p in Path(evdir).iterdir():
            if app_id in p.name:
                evfile = p
    jobs = []  # (submit_ms, end_ms, desc, n_tasks, stage_names)
    stages = {}

    def _lines(path):
        p = Path(path)
        files = (
            sorted(f for f in p.iterdir() if f.name.startswith("events_"))
            if p.is_dir()
            else [p]
        )
        for fp in files:
            with open(fp) as fh:
                yield from fh

    if True:
        for line in _lines(evfile):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append(
                    {
                        "id": ev["Job ID"],
                        "t0": ev["Submission Time"],
                        "t1": None,
                        "desc": props.get("spark.job.description", ""),
                        "stages": [
                            (s["Stage ID"], s["Stage Name"],
                             s["Number of Tasks"])
                            for s in ev.get("Stage Infos", [])
                        ],
                    }
                )
            elif e == "SparkListenerJobEnd":
                for j in jobs:
                    if j["id"] == ev["Job ID"]:
                        j["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                acc = {
                    a.get("Name"): a.get("Value")
                    for a in si.get("Accumulables", [])
                }
                stages[si["Stage ID"]] = {
                    "t0": si.get("Submission Time"),
                    "t1": si.get("Completion Time"),
                    "n": si.get("Number of Tasks"),
                    "name": si.get("Stage Name"),
                    "sw_bytes": int(acc.get(_SHUFFLE_BYTES) or 0),
                    "sw_records": int(acc.get(_SHUFFLE_RECORDS) or 0),
                    "ops": _stage_operators(si),
                }

    for name in names:
        for r, (t0, t1) in enumerate(windows[name]):
            t0ms, t1ms = t0 * 1000, t1 * 1000
            inside = [
                j for j in jobs
                if j["t1"] and j["t0"] >= t0ms - 50 and j["t0"] <= t1ms
            ]
            total = (t1 - t0)
            print(f"\n=== {name} run{r}: {total:.3f}s, {len(inside)} jobs ===")
            prev_end = t0ms
            job_sum = 0.0
            gap_sum = 0.0
            ran_stages = []
            for j in sorted(inside, key=lambda x: x["t0"]):
                gap = (j["t0"] - prev_end) / 1000
                dur = (j["t1"] - j["t0"]) / 1000
                job_sum += dur
                gap_sum += max(gap, 0)
                ran = [
                    (sid, sname.split(" at ")[0], stages.get(sid, {}).get("n"))
                    for sid, sname, _ in j["stages"]
                    if sid in stages and stages[sid]["t0"] and
                    stages[sid]["t0"] >= t0ms - 50
                ]
                ran_stages += ran
                stage_str = ", ".join(
                    f"{snm}[{n}t]" for _, snm, n in ran
                ) or "(skipped/cached stages)"
                print(
                    f"  +{(j['t0'] - t0ms) / 1000:6.2f}s gap={gap:5.2f}s "
                    f"job{j['id']:>4} {dur:6.2f}s  {stage_str}"
                )
                prev_end = max(prev_end, j["t1"])
            tail = (t1ms - prev_end) / 1000
            print(
                f"  jobs={job_sum:.2f}s gaps={gap_sum:.2f}s "
                f"tail(driver)={tail:.2f}s of {total:.2f}s"
            )
            print(f"  {'stage':>7} {'tasks':>5} {'shuffle_write_B':>15} "
                  f"{'records':>8}  operators")
            sw_bytes = sw_records = 0
            for sid, snm, n in sorted(ran_stages):
                st = stages[sid]
                sw_bytes += st["sw_bytes"]
                sw_records += st["sw_records"]
                print(f"  {sid:>7} {n:>5} {st['sw_bytes']:>15,} "
                      f"{st['sw_records']:>8,}  {st['ops'] or snm}")
            print(f"  {'total':>7} {'':>5} {sw_bytes:>15,} {sw_records:>8,}")


if __name__ == "__main__":
    main()
