"""Benchmark of dbdiff_spark's interactive diff loop and its dedup/ANN tier.

Run from the repository root::

    python3 perfbench/run.py --workload repl_small_edits --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload corpus_dedup_ann --seed 1 --seconds 5 --trace 1
    python3 perfbench/selftest.py

Workloads (closed loop, one client, one ``local[nproc]`` Spark process):

``repl_small_edits``
    The REPL iteration of ``dbdiff_spark/cli.py``: ``FileCatalog`` →
    ``SnapshotStore.collect`` → ``diff_snapshots`` → ``print_diffs`` →
    ``write_diff_xlsx`` → ``before = after``, with default CLI flags over a
    parquet "live database" of three tables (single-key, composite-key and
    no-key).  Before each iteration the seed inserts, deletes, updates or
    NULLs 20 rows of each table with pyarrow: the untimed user activity.
``corpus_dedup_ann``
    One pass per iteration over the registry entries ``neardup_clusters``,
    ``multimodal_dhash_neardup`` and ``ann_ivf_serve`` on a seeded corpus;
    set-up is the cold pass, which builds the standing ANN index.

End-to-end metrics (``--trace 0``):

``setup_s``
    Session start plus the median of the workload's set-up repetitions
    (REPL: catalog read and *before* snapshot, three times; corpus: the
    cold pass, once).
``iteration_s``
    Median wall time of the steady iterations (REPL: at least three, after
    the cold first Enter press; corpus: at least one); the sample counts
    are in the record line.
``write_amplification``
    Bytes the program writes per iteration over the input bytes: the files
    it writes (snapshot directory and xlsx; for the corpus, any index
    artifact the pass rewrites) plus the Spark shuffle bytes of the
    iteration's jobs.
``driver_peak_rss_mb``
    Peak RSS of the Python driver process.

Iterations that raise or whose output disagrees with the truth count in
the result's ``failed``.

Every iteration's output is checked: the console text and the xlsx sheet
are parsed and compared with the edit's ground truth, and each corpus
entry's rows are compared with its ``oracle_sql()`` twin run by DuckDB.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces every
other steady iteration (spans and the py4j call counter, see
``tracing.py``) and prints the per-layer metrics, including the tracing
overhead against the untraced iterations of the same session.  The last
stdout line is the JSON result; the line before it is a JSON record of
the environment, the sample counts and, with ``--trace 1``, the spans.
Scratch data (snapshots, xlsx files, Spark local dirs, the warehouse and
ANN artifact roots) lives in a per-run directory under
``.perfbench_tmp/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import asdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import check, data, tracing  # noqa: E402

DRIVER_MEMORY = "2g"


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _tree_bytes(path: Path, since: float = 0.0) -> int:
    """Bytes of the files under ``path`` last written at or after ``since``."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= since:
                total += st.st_size
    return total


class ReplWorkload:
    """One Enter press of the CLI REPL per iteration."""

    name = "repl_small_edits"
    # the first catalog read and snapshot are cold: the median of three
    # keeps them, and a repetition slowed by a noisy host, out
    setup_reps = 3
    # the first Enter press is cold; the second still runs ~10% slower than
    # later ones while the JVM compiles the planner and sink paths, and a
    # median of three keeps it, or one iteration slowed by a noisy host, out
    # of the result
    warmup = 1
    min_steady = 3

    def __init__(self, spark, run_dir: Path, seed: int, tracer: tracing.Tracer):
        from dbdiff_spark.catalog import TESTDATA_KEYS
        from dbdiff_spark.snapshot import SnapshotStore

        self.spark, self.dir, self.tracer = spark, run_dir, tracer
        self.keys = TESTDATA_KEYS
        self.live = data.LiveDatabase(run_dir / "live", seed)
        self.store = SnapshotStore(spark)
        self.before = None
        self.n_tables = len(data.REPL_TABLES)

    def _sources(self):
        # the CLI's _load_sources for --parquet-dir
        from dbdiff_spark.catalog import FileCatalog

        cat = FileCatalog(self.spark, str(self.live.dir), self.keys)
        tables = cat.list_tables()
        return {t: cat.load(t) for t in tables}, cat.primary_keys(tables)

    def setup_once(self, rep: int) -> list[str]:
        sources, keys = self._sources()
        self.before = self.store.collect(sources, keys, str(self.dir / f"setup{rep}"))
        return []

    def iterate(self, g: int) -> dict:
        from dbdiff_spark.snapshot import diff_snapshots
        from dbdiff_spark.sinks.console import print_diffs
        from dbdiff_spark.sinks.xlsx import write_diff_xlsx

        truth = self.live.edit(g)  # the user's activity: untimed
        snap_root = self.dir / f"snap{g}"
        xlsx_path = self.dir / f"dbdiff_{g}.xlsx"
        span = self.tracer.span
        console = io.StringIO()
        start = time.time()
        t0 = time.perf_counter()
        with span("iteration", g):
            with span("catalog", g):
                sources, keys = self._sources()
            with span("snapshot", g):
                after = self.store.collect(sources, keys, str(snap_root))
            with span("diff", g):
                results = diff_snapshots(self.spark, self.before, after)
            with span("sinks.console", g), contextlib.redirect_stdout(console):
                print_diffs(results)
            with span("sinks.xlsx", g):
                write_diff_xlsx(results, xlsx_path)
            self.before = after
        wall = time.perf_counter() - t0
        window = (start, time.time())
        text = console.getvalue()
        errors, rendered = check.check_iteration(text, xlsx_path, truth)
        it = {
            "wall_s": wall,
            "window": window,
            "errors": errors,
            "file_bytes": _tree_bytes(snap_root) + xlsx_path.stat().st_size,
            "input_bytes": self.live.input_bytes(),
            "rows_rendered": rendered,
            "report": (text, xlsx_path, truth),
        }
        if self.tracer.enabled:
            # the diff's own row count, before the sinks' cap; its jobs
            # start after the iteration's spans end, so no layer owns them
            it["rows_reported"] = sum(r.df.count() for r in results.values())
        return it


class CorpusWorkload:
    """One pass over the dedup, multimodal and ANN entries per iteration."""

    name = "corpus_dedup_ann"
    # set-up is the cold pass, which builds the standing index and compiles
    # every entry's plans; it and one steady pass are most of a minute, so
    # neither is repeated
    setup_reps = 1
    warmup = 0
    min_steady = 1
    ENTRIES = {
        "neardup_clusters": "ops.dedup",
        "multimodal_dhash_neardup": "ops.multimodal",
        "ann_ivf_serve": "ops.similarity",
    }

    def __init__(self, spark, run_dir: Path, seed: int, tracer: tracing.Tracer):
        import duckdb

        import __spark_entry__ as entrymod

        self.spark, self.dir, self.tracer = spark, run_dir, tracer
        self.corpus = run_dir / "corpus"
        self.input_bytes = data.write_corpus(self.corpus, seed)
        self.warehouse = run_dir / "warehouse"
        self.queries = entrymod.queries()
        self.n_tables = 2
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW \"{t}\" AS SELECT * FROM "
                            f"read_parquet('{self.corpus / (t + '.parquet')}')")
            self.oracle = {}
            for name in self.ENTRIES:
                rel = con.execute(entrymod.oracle_sql()[name])
                self.oracle[name] = check.canonical([d[0] for d in rel.description], rel.fetchall())
        finally:
            con.close()

    def _run(self, name: str) -> tuple[list[str], list]:
        df = self.queries[name](self.spark, str(self.corpus))
        return df.columns, df.collect()

    def _errors(self, outputs: dict) -> list[str]:
        errors = []
        for name, (cols, rows) in outputs.items():
            if check.canonical(cols, rows) != self.oracle[name]:
                errors.append(f"{name}: {len(rows)} rows differ from the DuckDB oracle "
                              f"({len(self.oracle[name][1])} rows)")
        return errors

    def setup_once(self, rep: int) -> list[str]:
        return self._errors({name: self._run(name) for name in self.ENTRIES})

    def iterate(self, g: int) -> dict:
        span = self.tracer.span
        outputs = {}
        start = time.time()
        t0 = time.perf_counter()
        with span("iteration", g):
            for name, layer in self.ENTRIES.items():
                with span(layer, g):
                    outputs[name] = self._run(name)
        wall = time.perf_counter() - t0
        window = (start, time.time())
        return {
            "wall_s": wall,
            "window": window,
            "errors": self._errors(outputs),
            # the artifacts this pass wrote, not the standing index set-up left
            "file_bytes": _tree_bytes(self.warehouse, since=start),
            "input_bytes": self.input_bytes,
        }


WORKLOADS = {w.name: w for w in (ReplWorkload, CorpusWorkload)}

REPL_LAYERS = ["catalog", "snapshot", "diff", "sinks.console", "sinks.xlsx"]
OPS_LAYERS = ["ops.dedup", "ops.multimodal", "ops.similarity"]


def layer_metrics(spans: list[tracing.Span], it: dict, n_tables: int) -> dict[str, float]:
    """Per-layer values of one traced iteration.  Every run reports every
    per-layer metric; a layer the workload does not reach reads 0."""
    by_name: dict[str, dict[str, float]] = {}
    for s in spans:
        acc = by_name.setdefault(s.name, {"wall_s": 0.0, "gateway_calls": 0})
        acc["wall_s"] += s.t1 - s.t0
        acc["gateway_calls"] += s.gateway_calls
        for k, v in s.counts.items():
            acc[k] = acc.get(k, 0) + v

    def get(layer: str, key: str) -> float:
        return by_name.get(layer, {}).get(key, 0)

    m = {
        "catalog.wall_s": get("catalog", "wall_s"),
        "catalog.gateway_calls": get("catalog", "gateway_calls"),
        "diff.plan_s": get("diff", "wall_s"),
        "diff.gateway_calls": get("diff", "gateway_calls"),
        "diff.rows_read": get("sinks.console", "records_read") + get("sinks.xlsx", "records_read"),
        "diff.rows_reported": it.get("rows_reported", 0),
    }
    for key in ("wall_s", "jobs", "tasks", "executor_s", "driver_gap_s", "bytes_written",
                "shuffle_write_bytes"):
        m[f"snapshot.{key}"] = get("snapshot", key)
    for sink in ("sinks.console", "sinks.xlsx"):
        for key in ("wall_s", "jobs", "executor_s", "driver_gap_s", "result_bytes"):
            m[f"{sink}.{key}"] = get(sink, key)
        m[f"{sink}.rows_rendered"] = it.get("rows_rendered", {}).get(sink, 0)
    for layer in OPS_LAYERS:
        for key in ("wall_s", "jobs", "executor_s", "driver_gap_s", "shuffle_write_bytes"):
            m[f"{layer}.{key}"] = get(layer, key)
    m["iteration.jobs"] = get("iteration", "jobs")
    m["iteration.jobs_per_table"] = get("iteration", "jobs") / n_tables
    m["iteration.driver_gap_s"] = get("iteration", "driver_gap_s")
    m["iteration.spill_bytes"] = get("iteration", "spill_bytes")
    m["iteration.unaccounted_s"] = get("iteration", "wall_s") - sum(
        get(layer, "wall_s") for layer in REPL_LAYERS + OPS_LAYERS)
    return m


def _jvm_descendants(pid: int) -> list[int]:
    """Pids of the processes below ``pid`` (the Python workers of the JVM)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and the JVM's workers,
    and wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    below = _jvm_descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    while below and time.time() < deadline:
        below = [p for p in below if os.path.exists(f"/proc/{p}")]
        if below:
            time.sleep(0.1)
    for p in below:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def _cpu_times() -> list[int]:
    """The host's cumulative CPU times: user, nice, system, idle, iowait,
    irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _commit() -> str:
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return "unknown"


def prepare(run_dir: Path) -> dict[str, str]:
    """Pin the environment and point every scratch file of Spark, the JVM
    and Python at ``run_dir``; returns the pinned variables."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": str(run_dir / "tmp"),
        # every JVM (the spark-submit launcher too): temp files in the run
        # directory, and no hsperfdata file, which always goes under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}",
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    }
    for d in ("local", "tmp", "warehouse"):
        (run_dir / d).mkdir(exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    return env


def start_spark(run_dir: Path, workload: str):
    """The session the CLI would start, with its warehouse in ``run_dir``."""
    from dbdiff_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": str(run_dir / "warehouse"), **tracing.RETAIN_CONF}
    return get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)


def _window_bytes(jobs: list[tracing.Job], stages: dict, lo: float, hi: float) -> float:
    return sum(stages[sid]["shuffle_write_bytes"] for j in jobs if lo <= j.t0 <= hi
               for sid in j.stages)


def run(args, run_dir: Path) -> tuple[dict, dict]:
    import dbdiff_spark.session  # noqa: F401  (imports pyspark before the clock starts)

    env = prepare(run_dir)
    tracer = tracing.Tracer(tracing.GatewayCounter() if args.trace else None)

    cpu0 = _cpu_times()
    t0 = time.perf_counter()
    spark = start_spark(run_dir, args.workload)
    session_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    iterations: list[dict] = []
    errors: list[str] = []
    attempted = failed = 0
    try:
        workload = WORKLOADS[args.workload](spark, run_dir, args.seed, tracer)
        setup_times = []
        for rep in range(workload.setup_reps):
            t = time.perf_counter()
            setup_errors = workload.setup_once(rep)
            setup_times.append(time.perf_counter() - t)
            if setup_errors:
                attempted += 1
                failed += 1
                errors += [f"set-up {rep}: {e}" for e in setup_errors]

        # the workload's warm-up iterations are left out of the median; the
        # steady window that follows runs for --seconds and the workload's
        # minimum of iterations, two when tracing so that both a traced and
        # a plain one exist
        need = max(workload.min_steady, 1 + args.trace)
        g = 0
        t_window = None if workload.warmup else time.perf_counter()
        while True:
            if (t_window is not None and len(iterations) - workload.warmup >= need
                    and time.perf_counter() - t_window >= args.seconds):
                break
            traced = bool(args.trace) and g % 2 == 1
            tracer.set_enabled(traced)
            attempted += 1
            try:
                it = workload.iterate(g)
            except Exception:
                failed += 1
                errors.append(f"iteration {g} raised:\n{traceback.format_exc()}")
                break
            finally:
                tracer.set_enabled(False)
            it["traced"] = traced
            it.pop("report", None)
            if it["errors"]:
                failed += 1
                errors += [f"iteration {g}: {e}" for e in it["errors"]]
            iterations.append(it)
            if t_window is None and len(iterations) == workload.warmup:
                t_window = time.perf_counter()
            g += 1
        steady = iterations[workload.warmup:]
        # the measured iterations: every steady one, or the traced ones
        windows = [it["window"] for it in steady if it["traced"] == bool(args.trace)]
        jobs, stages = tracing.read_status_store(spark, windows)
        jvm_rss = _peak_rss_mb(jvm_pid)
        cpu1 = _cpu_times()
    finally:
        _stop_spark(spark)

    plain = [it["wall_s"] for it in steady if not it["traced"]]
    traced = [it for it in steady if it["traced"]]
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "commit": _commit(), "env": {**env, "master": f"local[{env['SPARK_GRAFT_CPUS']}]"},
        # the share of the host's CPU time a hypervisor took from it during
        # the run: wall times on a shared virtual machine rise with it
        "host_steal_pct": 100 * (cpu1[7] - cpu0[7]) / max(1, sum(cpu1[:8]) - sum(cpu0[:8])),
        "samples": {"setup": len(setup_times),
                    "steady_iterations": len(steady), "traced_iterations": len(traced),
                    "dropped_warmup": len(iterations) - len(steady)},
        "session_s": session_s, "setup_reps_s": setup_times,
        "iteration_s": [it["wall_s"] for it in iterations],
        "errors": errors[:20],
    }
    if not steady or (args.trace and not traced) or (not args.trace and not plain):
        return record, {"correct": False, "attempted": max(attempted, 1), "failed": max(failed, 1),
                        "metrics": {}}
    if args.trace:
        spans = tracer.spans
        tracing.attribute(spans, jobs, stages)
        per_iter = []
        for it_no, it in enumerate(iterations):
            if it["traced"]:
                mine = [s for s in spans if s.iteration == it_no]
                per_iter.append(layer_metrics(mine, it, workload.n_tables))
        metrics = {k: (_median([m[k] for m in per_iter]), _unit(k)) for k in per_iter[0]}
        traced_s = _median([it["wall_s"] for it in traced])
        # the first, cold pass: iteration 0 (never traced), or the set-up
        # of a workload whose set-up is that pass
        first = iterations[0]["wall_s"] if workload.warmup else setup_times[0]
        metrics["iteration.first_s"] = (first, "s")
        metrics["session.start_s"] = (session_s, "s")
        metrics["session.jvm_peak_rss_mb"] = (jvm_rss, "MB")
        metrics["trace.iteration_s"] = (traced_s, "s")
        metrics["trace.overhead_s"] = (traced_s - _median(plain), "s")
        record["spans"] = [asdict(s) for s in spans]
    else:
        amp = [(it["file_bytes"] + _window_bytes(jobs, stages, *it["window"])) / it["input_bytes"]
               for it in steady]
        metrics = {
            "setup_s": (session_s + _median(setup_times), "s"),
            "iteration_s": (_median(plain), "s"),
            "write_amplification": (_median(amp), "ratio"),
            "driver_peak_rss_mb": (_peak_rss_mb(), "MB"),
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return record, result


def _unit(metric: str) -> str:
    last = metric.rsplit(".", 1)[1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_bytes") or last == "bytes_written":
        return "bytes"
    if last == "jobs_per_table":
        return "jobs/table"
    return "count"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "dbdiff_spark" / "__init__.py").is_file():
        print(f"perfbench: no dbdiff_spark package under {ROOT}", file=sys.stderr)
        return 2

    tmp_root = ROOT / ".perfbench_tmp"
    tmp_root.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=tmp_root))
    try:
        record, result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            tmp_root.rmdir()
    for e in record["errors"]:
        print(e, file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
