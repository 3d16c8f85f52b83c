"""Snapshot store — reference's ``AllTableStore`` (``extract_data.go:12-17``)
re-imagined for distributed storage.

The reference holds one full copy of every table in driver heap; its
capacity ceiling is process RAM (it prints heap stats after every
snapshot, ``cmd/dbdiff/main.go:303-308``).  Here a snapshot is a
*manifest*: table name → Parquet path + key columns + column list.  Data
lives in distributed storage, written once at snapshot time (point-in-time
semantics — a lazy JDBC DataFrame would re-read live data on every
action, SURVEY §7.3.1) and read lazily by the diff.

Scale design:

* ``collect`` writes each table partitioned (and optionally bucketed by
  its key columns).  Two snapshots bucketed the same way diff with NO
  shuffle — the full-outer join zips co-located buckets.
* Tables snapshot sequentially in the reference (single goroutine; the
  TODO at ``extract_data.go:33`` wishes for parallelism).  Here every
  table's write (and its fingerprint pass) is submitted from its own
  driver thread through ``io.run_jobs``, so the tables' jobs run at the
  same time, and each table's scan is itself partitioned.
  ``diff_snapshots`` plans the tables' diffs the same way.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbdiff_spark.diff import (
    DELETED,
    INSERTED,
    DiffMode,
    DiffResult,
    _is_orderable,
    diff_tables,
)
from dbdiff_spark.io import local_frame, run_jobs
from dbdiff_spark.sqltext import ident

TABLE_ADDED = "TABLE_ADDED"
TABLE_DROPPED = "TABLE_DROPPED"

MANIFEST_NAME = "_snapshot_manifest.json"

# Hash-group count for incremental change tracking.  Pruning ratio for K
# changed rows is (1 - 1/G)^K — hash-groups do NOT correlate with
# business locality, so G must comfortably exceed the expected changed
# ROW count, not the changed-entity count.  Groups are cheap (3 ints of
# manifest each), so default high.  The count in force when a snapshot
# was collected is persisted in its manifest (``group_hash_mod``) —
# incremental diffs compare fingerprints in the STORED domain, never the
# current default, so changing this constant cannot silently misalign
# old snapshots (they fall back to the full diff instead).
HASH_GROUPS = 4096


def _group_expr(key: list[str], groups: int) -> F.Column:  # type: ignore[name-defined]
    """Deterministic row → hash-group assignment on the key columns.
    Duplicate keys land in one group, so per-group comparison is stable
    under the diff's duplicate-key collapse."""
    return F.pmod(F.hash(*[F.col(ident(k)) for k in key]), F.lit(groups))


def _group_fingerprints(
    df: DataFrame, key: list[str], groups: int
) -> dict[str, list[int]]:
    """Per-group content fingerprint: (row count, bit_xor of full-row
    xxhash64, sum of the same hashes).  All three are order-independent
    and map-side combinable (one tiny aggregation, ≤ ``groups`` output
    rows).

    Why both xor AND sum: xor alone cancels DETERMINISTICALLY when rows
    occur with even multiplicity — a key stored as two identical rows
    (dedup_keys handles those) with both copies updated identically
    leaves count and xor unchanged.  The sum shifts by
    ``multiplicity × (new_hash − old_hash)``, which no duplicate pattern
    cancels; a missed change now needs a genuine 128-bit-ish collision
    (xor AND sum both preserved), not a structural duplicate pattern.
    The sum aggregates as ``decimal(38,0)`` so it is exact and cannot
    overflow (≥1e19 rows/group would be needed) under ANSI on or off."""
    cols = [F.col(ident(c)) for c in df.columns]
    xx = F.xxhash64(*cols)
    rows = (
        df.groupBy(_group_expr(key, groups).alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(xx).alias("x"),
            F.sum(xx.cast("decimal(38,0)")).alias("s"),
        )
        .collect()
    )
    return {str(r["g"]): [int(r["n"]), int(r["x"]), int(r["s"])] for r in rows}


def _as_nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and map value nullable — the
    schema a parquet file written from a frame of type ``dt`` reads back
    as (Spark relaxes nullability on file reads)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


@dataclass
class Snapshot:
    """A point-in-time copy of a set of tables (manifest only).

    ``catalog_tables`` maps table → Spark catalog identifier for
    bucketed snapshots: reading through the catalog (``spark.table``)
    preserves the bucketing metadata that a bare path read loses, which
    is what lets two same-bucketed snapshots diff with zero exchanges.
    """

    root: str
    tables: dict[str, str] = field(default_factory=dict)  # name -> parquet path
    keys: dict[str, list[str]] = field(default_factory=dict)
    columns: dict[str, list[str]] = field(default_factory=dict)  # AllColumn analogue
    total_count: int = 0  # TotalDataCount analogue (extract_data.go:23)
    catalog_tables: dict[str, str] = field(default_factory=dict)
    buckets: int = 0
    # table → {group: [count, xor, sum]} when collected with
    # track_changes=True; drives the incremental diff
    group_hashes: dict[str, dict[str, list[int]]] = field(default_factory=dict)
    # hash-group modulus the fingerprints were computed under; 0 = not
    # tracked.  Manifests written before this field existed load as 0
    # and incremental diffs against them fall back to the full diff.
    group_hash_mod: int = 0
    # storage format of the snapshot data files (parquet default;
    # delta/iceberg when the matching runtime is on the classpath)
    format: str = "parquet"
    # table → hive partition columns the snapshot was written with
    # (predicates on them in diff_snapshots(where=...) partition-prune)
    partitions: dict[str, list[str]] = field(default_factory=dict)
    # table → schema (StructType JSON) the table was written with, for
    # plain (unpartitioned, unbucketed) parquet tables: ``load`` hands it
    # to the reader, which then runs no schema-inference job.  Tables
    # without an entry (older manifests, partitioned or bucketed tables)
    # infer it as before.
    schemas: dict[str, dict] = field(default_factory=dict)

    def load(self, spark: SparkSession, table: str) -> DataFrame:
        if table in self.catalog_tables:
            try:
                return spark.table(self.catalog_tables[table])
            except Exception:
                # fresh session: the in-memory catalog entry is gone;
                # fall back to the path (bucketing metadata lost, diff
                # still correct — just pays the exchange again)
                pass
        reader = spark.read.format(self.format)
        if table in self.schemas:
            reader = reader.schema(T.StructType.fromJson(self.schemas[table]))
        return reader.load(self.tables[table])

    def load_groups_pruned(
        self, spark: SparkSession, table: str, changed_groups: list[int]
    ) -> tuple[DataFrame, bool]:
        """Load only the bucket FILES that can contain the changed
        hash-groups — scan-level pruning for the incremental diff.

        Spark's bucketed-write file assignment is
        ``pmod(murmur3_hash(key_cols), buckets)`` (seed 42) — the same
        hash family as ``_group_expr`` — so when the group modulus is a
        multiple of the bucket count, group ``g`` lives entirely in
        bucket ``g % buckets``: the unchanged buckets need not be READ
        at all, not merely filtered after the scan.  At 100 TB this
        turns a K-row drift re-diff from a full scan + pruned join into
        a scan of ~K bucket files.

        Returns ``(df, pruned)``; ``pruned=False`` means the caller got
        the plain full-table frame (bucket layout unusable — not
        bucketed, modulus misaligned, unrecognized file names, or the
        file listing itself unavailable) and must rely on the group
        filter alone.  The caller applies the group filter in BOTH
        cases: a bucket holds ``mod/buckets`` groups, of which only the
        changed ones may join.

        File discovery goes through the Hadoop FileSystem API — the
        same resolver Spark's own scans use — so it works on any store
        the cluster can read (``s3a://``, ``hdfs://``, local), not just
        driver-local paths.  Failure modes degrade to correctness, not
        silence: "could not list" or "listed but found no data files"
        or "found a file I can't parse a bucket id out of" all return
        the FULL frame with ``pruned=False``; only a successful listing
        with recognizable bucket files may conclude "this side has no
        files for the changed buckets" (pure inserts/deletes on the
        other side) and return an empty frame.
        """
        if (
            self.buckets <= 0
            or self.group_hash_mod <= 0
            or self.group_hash_mod % self.buckets != 0
            or self.format != "parquet"
        ):
            return self.load(spark, table), False
        names = self._list_data_files(spark, self.tables[table])
        if not names:  # listing failed or directory held no data files
            return self.load(spark, table), False
        import re

        wanted = {g % self.buckets for g in changed_groups}
        files: list[str] = []
        for uri, name, _len in names:
            m = re.search(r"_(\d{5})[.]", name)
            if m is None:  # not a recognizable bucketed layout
                return self.load(spark, table), False
            if int(m.group(1)) in wanted:
                files.append(uri)
        if not files:
            # listing succeeded and every file parsed: all of this
            # side's changed-group rows live on the other side (pure
            # inserts/deletes): empty frame, full schema
            return (
                local_frame(
                    spark, [], spark.read.parquet(self.tables[table]).schema
                ),
                True,
            )
        return spark.read.parquet(*files), True

    @staticmethod
    def _list_data_files(
        spark: SparkSession, path: str
    ) -> list[tuple[str, str, int]] | None:
        """List a snapshot table directory's data files as
        ``(uri, basename, length)`` triples via Hadoop's FileSystem API
        (resolves any scheme the cluster is configured for; the length
        comes from the same ``listStatus``).  Returns ``None``
        when the listing cannot be obtained (no JVM gateway — e.g.
        Spark Connect — or the filesystem call fails): callers must
        treat that as "prune unavailable", never as "no files"."""
        try:
            jvm = spark._jvm  # type: ignore[attr-defined]
            hconf = spark._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = hpath.getFileSystem(hconf)
            out = []
            for st in fs.listStatus(hpath):
                if not st.isFile():
                    continue
                name = st.getPath().getName()
                if name.startswith("_") or name.startswith("."):
                    continue  # _SUCCESS, hidden/metadata files
                out.append((st.getPath().toString(), name, st.getLen()))
            return out
        except Exception:
            return None

    def save_manifest(self) -> None:
        Path(self.root).mkdir(parents=True, exist_ok=True)
        (Path(self.root) / MANIFEST_NAME).write_text(
            json.dumps(
                {
                    "tables": self.tables,
                    "keys": self.keys,
                    "columns": self.columns,
                    "total_count": self.total_count,
                    "catalog_tables": self.catalog_tables,
                    "buckets": self.buckets,
                    "group_hashes": self.group_hashes,
                    "group_hash_mod": self.group_hash_mod,
                    "format": self.format,
                    "partitions": self.partitions,
                    "schemas": self.schemas,
                },
                indent=2,
            )
        )

    @staticmethod
    def _local_root(root: str) -> str:
        """Normalize a local Hadoop URI (``file:/x`` / ``file:///x``) to
        a plain path — ``list_generations`` hands back FS URIs, and the
        driver-local manifest IO must accept them.  Non-``file`` schemes
        pass through untouched (and fail loudly in ``Path`` — manifest
        IO on remote stores goes through the FS API, not this helper)."""
        if root.startswith("file:"):
            trimmed = root[5:]
            while trimmed.startswith("//"):
                trimmed = trimmed[1:]
            return trimmed
        return root

    @classmethod
    def load_manifest(cls, root: str) -> "Snapshot":
        root = cls._local_root(root)
        data = json.loads((Path(root) / MANIFEST_NAME).read_text())
        return cls(
            root=root,
            tables=data["tables"],
            keys=data["keys"],
            columns=data["columns"],
            total_count=data["total_count"],
            catalog_tables=data.get("catalog_tables", {}),
            buckets=data.get("buckets", 0),
            group_hashes=data.get("group_hashes", {}),
            group_hash_mod=data.get("group_hash_mod", 0),
            format=data.get("format", "parquet"),
            partitions=data.get("partitions", {}),
            schemas=data.get("schemas", {}),
        )


# Snapshot's per-table manifest fields: what one table's write adds.
_TABLE_ENTRIES = ("tables", "keys", "columns", "catalog_tables", "group_hashes", "schemas")


class SnapshotStore:
    """Collects snapshots (reference entry point B,
    ``CollectAllTableData``, ``extract_data.go:19-95``)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def collect(
        self,
        sources: dict[str, DataFrame],
        keys: dict[str, list[str]],
        snapshot_root: str,
        count_rows: bool = True,
        buckets: int = 0,
        track_changes: bool = False,
        format: str = "parquet",
        partition_by: dict[str, list[str]] | None = None,
    ) -> Snapshot:
        """Persist every source DataFrame to Parquet under
        ``snapshot_root`` and return the manifest.

        ``buckets > 0`` writes each table BUCKETED AND SORTED by its key
        columns (hive-style bucketing via the session catalog).  Two
        snapshots collected with the same bucket count diff with ZERO
        shuffle — at 100 TB the exchange is the entire cost of the naive
        diff plan, so bucketed collection trades a one-time write-side
        shuffle for exchange-free diffs on every subsequent round (the
        before/after swap loop re-uses each snapshot twice).

        A snapshot object is written once and never mutated — the
        reference enforces single-use with a guard
        (``extract_data.go:20-22``); immutability of a written Parquet
        dir gives us the same property structurally.

        ``track_changes=True`` additionally records per-hash-group
        content fingerprints in the manifest (one extra pass over the
        WRITTEN snapshot — point-in-time, never the live source;
        ≤ ``HASH_GROUPS`` rows of output per table), enabling
        ``diff_snapshots(..., incremental=True)`` to restrict later
        diffs to changed groups only.

        ``partition_by`` maps table name → hive partition columns: the
        table writes as ``partitionBy(cols)`` directories and the
        layout is recorded in the manifest.  A later
        ``diff_snapshots(..., where=...)`` whose predicate hits those
        columns is satisfied by PARTITION PRUNING — the unselected
        partitions of a 100 TB table are never listed, let alone read.
        Partitioning composes with every non-bucketed path (bucketing
        owns the file layout, so the two are mutually exclusive per
        table).
        """
        if format != "parquet" and buckets > 0:
            raise ValueError(
                "bucketed snapshots are parquet-only (hive-style bucketing); "
                "delta/iceberg tables cluster via their own layout services"
            )
        partition_by = dict(partition_by or {})
        if buckets > 0 and partition_by:
            raise ValueError(
                "partition_by and buckets are mutually exclusive: bucketing "
                "owns the file layout (zero-exchange diffs); partition-prune "
                "OR bucket a table, not both"
            )
        snap = Snapshot(root=str(snapshot_root), buckets=buckets, format=format)
        snap.partitions = {t: list(c) for t, c in partition_by.items()}
        if track_changes:
            snap.group_hash_mod = HASH_GROUPS
        # tables write concurrently (the reference's own parallel-scan
        # TODO, extract_data.go:33); run_jobs raises a table's failure
        # only after its siblings finish, so no write outlives collect
        parts = run_jobs(
            *[
                partial(
                    self._collect_table,
                    snap,
                    name,
                    df,
                    list(keys.get(name) or df.columns),
                    count_rows,
                )
                for name, df in sources.items()
            ]
        )
        for part, n in parts:  # sources order
            for entries in _TABLE_ENTRIES:
                getattr(snap, entries).update(getattr(part, entries))
            snap.total_count += n
        snap.save_manifest()
        return snap

    def _collect_table(
        self,
        snap: Snapshot,
        name: str,
        df: DataFrame,
        key: list[str],
        count_rows: bool,
    ) -> tuple[Snapshot, int]:
        """Write one table of ``collect``; returns its manifest entries
        (a one-table ``Snapshot`` with ``snap``'s layout) and its row
        count (0 when not counted)."""
        part = Snapshot(
            root=snap.root,
            buckets=snap.buckets,
            format=snap.format,
            group_hash_mod=snap.group_hash_mod,
            partitions=snap.partitions,
        )
        path = str(Path(snap.root) / name)
        types = dict(df.dtypes)
        fingerprintable = part.group_hash_mod > 0 and all(
            _is_orderable(types[k]) for k in key
        )
        # Piggyback the record count on the WRITE job itself
        # (df.observe): the reference pays a full extra pass for its
        # TotalDataCount (extract_data.go:23); at 100 TB that second
        # scan is the entire cost of counting.  Fingerprinted tables
        # skip this — their count falls out of the fingerprint agg.
        obs = None
        to_write = df
        if count_rows and not fingerprintable:
            try:
                from pyspark.sql import Observation

                obs = Observation()
                to_write = df.observe(obs, F.count(F.lit(1)).alias("n"))
            except Exception:
                obs = None
        if part.buckets > 0:
            table_id = self._catalog_identifier(snap.root, name)
            (
                to_write.write.mode("errorifexists")
                .bucketBy(part.buckets, *key)
                .sortBy(*key)
                .option("path", path)
                .format("parquet")
                .saveAsTable(table_id)
            )
            part.catalog_tables[name] = table_id
        elif part.format == "parquet":
            w = to_write.write.mode("errorifexists")
            if name in part.partitions:
                w = w.partitionBy(*part.partitions[name])
            else:
                part.schemas[name] = _as_nullable(df.schema).jsonValue()
            w.parquet(path)
        else:
            # delta / iceberg / orc …: same point-in-time contract;
            # the transactional formats additionally give atomic
            # snapshot swaps and their own time travel.  Gated: a
            # missing runtime jar surfaces as an actionable error,
            # not a ClassNotFoundException mid-write.
            try:
                w = to_write.write.format(part.format).mode("errorifexists")
                if name in part.partitions:
                    w = w.partitionBy(*part.partitions[name])
                w.save(path)
            except Exception as exc:
                if part.format in ("delta", "iceberg"):
                    raise ImportError(
                        f"snapshot format {part.format!r} needs its Spark runtime "
                        f"jar on the classpath: {exc}"
                    ) from exc
                raise
        part.tables[name] = path
        part.keys[name] = key
        part.columns[name] = list(df.columns)
        if fingerprintable:
            # count falls out of the same tiny aggregation for free
            fps = _group_fingerprints(
                part.load(self.spark, name), key, part.group_hash_mod
            )
            part.group_hashes[name] = fps
            return part, sum(n for n, *_ in fps.values())
        if not count_rows:
            return part, 0
        if obs is not None:
            return part, int(obs.get["n"])
        # observation unavailable: pay the re-scan
        return part, part.load(self.spark, name).count()

    @staticmethod
    def _catalog_identifier(snapshot_root: str, name: str) -> str:
        import hashlib
        import re

        digest = hashlib.md5(str(snapshot_root).encode()).hexdigest()[:10]
        # source table names may contain characters illegal in a Spark
        # SQL identifier (hyphens, spaces); sanitize — uniqueness comes
        # from the root digest, collisions within one snapshot get a
        # name-hash suffix
        safe = re.sub(r"[^A-Za-z0-9_]", "_", name)
        if safe != name:
            safe = f"{safe}_{hashlib.md5(name.encode()).hexdigest()[:6]}"
        return f"snap_{digest}_{safe}"


def diff_snapshots(
    spark: SparkSession,
    before: Snapshot,
    after: Snapshot,
    mode: DiffMode = DiffMode.STRING,
    assume_keys_not_null: bool | None = None,
    incremental: bool = False,
    where: dict[str, str] | None = None,
    tolerance: dict[str, dict[str, float]] | None = None,
    ignore: dict[str, list[str]] | None = None,
) -> dict[str, DiffResult]:
    """Diff every table across two snapshots.

    ``tolerance`` maps table name → {column: absolute epsilon}; see
    :func:`dbdiff_spark.diff.diff_tables` (TYPED mode only — matched
    values within the epsilon count as unchanged).

    ``ignore`` maps table name → columns excluded from the comparator
    (audit-churn columns like ``updated_at``); see
    :func:`dbdiff_spark.diff.diff_tables` ``ignore_columns``.

    ``where`` maps table name → SQL predicate applied to BOTH sides
    before diffing — the scoped diff ("only partition dt=X", "only this
    tenant").  Semantically the result is the full diff restricted to
    rows satisfying the predicate on either side (a row moved across
    the predicate boundary shows as INSERTED/DELETED within scope —
    the correct reading of a scoped comparison).  When the snapshot was
    collected with ``partition_by`` on the predicate's columns, the
    filter is satisfied by partition PRUNING: unselected directories of
    a 100 TB table are never read (plan-asserted in
    ``tests/test_snapshot.py``).  Composes with ``incremental``
    (group filter and predicate both apply).

    ``incremental=True`` (both snapshots collected with
    ``track_changes=True``): each table's diff is restricted to the
    hash-groups whose manifest fingerprints differ — the unchanged
    majority of a 100 TB re-diff never enters the match at all, and a
    table with NO changed groups folds to an empty plan (Catalyst
    rewrites the ``false`` filter to an empty relation; no scan, no
    join).  The filter preserves bucketed output partitioning, so it
    composes with the zero-exchange bucketed path.  Tables without
    tracked fingerprints on BOTH sides (or with differing keys) fall
    back to the full diff.  Note the group filter prunes shuffle/join
    work, not the scan itself — scan-level skipping needs bucket-file
    pruning, a future step.

    The reference iterates only the BEFORE table set
    (``extract_data.go:199``), silently ignoring tables created between
    snapshots (SURVEY §1.5.3).  We diff the union of both table sets:
    a table only in *before* yields all-DELETED rows, a table only in
    *after* yields all-INSERTED rows, and the packed summary labels them
    TABLE_DROPPED / TABLE_ADDED.

    When both snapshots were collected bucketed by key (same bucket
    count), the per-table joins need plain-equality keys to stay
    exchange-free — ``assume_keys_not_null`` defaults to that condition,
    but it is applied PER TABLE only where it is safe: declared-PK
    tables (PKs are non-null by contract) in TYPED mode.  No-PK tables
    key on ALL columns, where NULLs are ordinary data — plain equality
    would make a NULL-carrying row differ from itself — and STRING mode
    casts the keys anyway (bucketing alignment is already lost), so both
    keep null-safe keys.
    """
    if assume_keys_not_null is None:
        assume_keys_not_null = (
            before.buckets > 0
            and before.buckets == after.buckets
            and mode == DiffMode.TYPED
        )

    def plan(name: str) -> DiffResult:
        # dedup_keys=True: a snapshot tool must diff identical snapshots
        # to EMPTY even when a declared key is not truly unique (the
        # reference gets this via last-row-wins map overwrite,
        # extract_data.go:81)
        if name in before.tables and name in after.tables:
            b = before.load(spark, name)
            a = after.load(spark, name)
            if where and name in where:
                # applied straight onto the scan relation so Catalyst
                # turns partition-column predicates into pruning
                b = b.filter(where[name])
                a = a.filter(where[name])
            key = after.keys.get(name) or before.keys.get(name) or a.columns
            # declared-PK status is judged on the ORIGINAL key: a no-PK
            # fallback key reduced by --ignore below must keep null-safe
            # join semantics (its NULLs are data, not PK values)
            is_declared_pk = set(key) != set(a.columns)
            tbl_ignore = ignore.get(name) if ignore else None
            if incremental:
                bh = before.group_hashes.get(name)
                ah = after.group_hashes.get(name)
                # Fingerprints are only comparable in the SAME group
                # domain: both manifests must record the modulus they
                # were computed under and agree on it (a 256-group xor
                # filtered with a 4096-group expression would silently
                # drop genuinely changed rows).  Older manifests without
                # the field (mod 0) take the full diff.
                mod = before.group_hash_mod
                if (
                    bh is not None
                    and ah is not None
                    and mod > 0
                    and mod == after.group_hash_mod
                    and before.keys.get(name) == after.keys.get(name)
                ):
                    changed = sorted(
                        int(g)
                        for g in set(bh) | set(ah)
                        if bh.get(g) != ah.get(g)
                    )
                    if changed:
                        # scan-level file pruning where the bucket
                        # layout aligns with the group domain (see
                        # load_groups_pruned); the group filter still
                        # applies — a bucket holds many groups
                        b, _ = before.load_groups_pruned(spark, name, changed)
                        a, _ = after.load_groups_pruned(spark, name, changed)
                        cond = _group_expr(key, mod).isin(changed)
                    else:
                        cond = F.lit(False)
                    b, a = b.filter(cond), a.filter(cond)
            if tbl_ignore and not is_declared_pk:
                # all-columns fallback key: "this column is churn" also
                # means "it is not part of row identity" — drop it from
                # the derived key so the remaining columns identify rows.
                # MUST happen AFTER the incremental filter above: the
                # manifest fingerprints were computed over the FULL key,
                # so the group filter has to hash with that same key — a
                # reduced-key _group_expr would live in a different hash
                # domain and silently drop genuinely changed rows (the
                # exact mismatch the mod check above guards against).
                key = [k for k in key if k not in set(tbl_ignore)]
                if not key:
                    raise ValueError(
                        f"table {name!r}: ignoring every column leaves no key"
                    )
            # all-columns fallback keys treat NULLs as data → always null-safe
            return diff_tables(
                b,
                a,
                key,
                mode=mode,
                dedup_keys=True,
                null_safe_keys=not (assume_keys_not_null and is_declared_pk),
                tolerance=tolerance.get(name) if tolerance else None,
                ignore_columns=tbl_ignore,
            )
        elif name in before.tables:  # dropped: every row DELETED
            b = before.load(spark, name)
            if where and name in where:
                b = b.filter(where[name])
            empty = local_frame(spark, [], b.schema)
            return diff_tables(
                b, empty, before.keys[name], mode=mode, dedup_keys=True
            )
        else:  # added: every row INSERTED
            a = after.load(spark, name)
            if where and name in where:
                a = a.filter(where[name])
            empty = local_frame(spark, [], a.schema)
            return diff_tables(
                empty, a, after.keys[name], mode=mode, dedup_keys=True
            )

    # each table's plan is analysed in the JVM concurrently with the
    # others' (py4j round trips wait on that analysis)
    names = sorted(set(before.tables) | set(after.tables))
    return dict(zip(names, run_jobs(*[partial(plan, n) for n in names])))


def schema_changes(before: Snapshot, after: Snapshot) -> list[dict]:
    """Structural diff of two snapshot manifests — the compact report a
    schema owner reads before any row diff: tables added/dropped,
    columns added/dropped per surviving table, and key changes.

    Pure manifest arithmetic (no Spark jobs): the manifests already
    carry each table's column list and key.  Row-level drift handling
    (``diff_tables`` marking every column modified, reference
    ``extract_data.go:162-171``) stays as-is; this is the summary view.
    Sorted deterministically for stable rendering."""
    out: list[dict] = []
    for t in sorted(set(before.tables) - set(after.tables)):
        out.append({"table": t, "change": "TABLE_DROPPED", "detail": ""})
    for t in sorted(set(after.tables) - set(before.tables)):
        out.append({"table": t, "change": "TABLE_ADDED", "detail": ""})
    for t in sorted(set(before.tables) & set(after.tables)):
        b_cols = before.columns.get(t, [])
        a_cols = after.columns.get(t, [])
        for c in sorted(set(b_cols) - set(a_cols)):
            out.append({"table": t, "change": "COLUMN_DROPPED", "detail": c})
        for c in sorted(set(a_cols) - set(b_cols)):
            out.append({"table": t, "change": "COLUMN_ADDED", "detail": c})
        if before.keys.get(t) != after.keys.get(t):
            out.append(
                {
                    "table": t,
                    "change": "KEY_CHANGED",
                    "detail": f"{before.keys.get(t)} -> {after.keys.get(t)}",
                }
            )
    return out


def packed_diff(
    spark: SparkSession,
    before: Snapshot,
    after: Snapshot,
    mode: DiffMode = DiffMode.STRING,
) -> DataFrame:
    """One union-able DataFrame across heterogeneous table schemas:
    ``table_name, diff_status, is_before, modified_columns, key
    map<string,string>, row map<string,string>``.

    This is the at-scale sink shape — writable as a single partitioned
    Parquet/Delta dataset no matter how many tables are involved.
    """
    results = diff_snapshots(spark, before, after, mode=mode)
    parts = []
    dropped = set(before.tables) - set(after.tables)
    added = set(after.tables) - set(before.tables)
    for name, res in results.items():
        df = res.df
        status = F.col("diff_status")
        if name in dropped:
            status = F.when(status == DELETED, F.lit(TABLE_DROPPED)).otherwise(status)
        if name in added:
            status = F.when(status == INSERTED, F.lit(TABLE_ADDED)).otherwise(status)
        packed = df.select(
            F.lit(name).alias("table_name"),
            status.alias("diff_status"),
            F.col("is_before"),
            F.col("modified_columns"),
            F.map_from_arrays(
                F.array(*[F.lit(k) for k in res.key_columns]),
                F.array(*[F.col(k).cast("string") for k in res.key_columns]),
            ).alias("key"),
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in res.value_columns]),
                F.array(*[F.col(c).cast("string") for c in res.value_columns]),
            ).alias("row"),
        )
        parts.append(packed)
    if not parts:  # both snapshots empty → empty packed diff
        return local_frame(
            spark,
            [],
            "table_name string, diff_status string, is_before boolean, "
            "modified_columns array<string>, key map<string,string>, "
            "row map<string,string>",
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- snapshot lifecycle (generations, retention, file health) ----------------
#
# The reference's REPL holds exactly two snapshots in RAM and discards
# them on exit (cmd/dbdiff/main.go:66-117).  A persistent store needs
# the lifecycle the reference never faced: enumerate past snapshot
# generations, expire old ones, and watch for the small-file problem
# that kills scan throughput at scale.  All listing/deleting goes
# through the Hadoop FileSystem API so the same code manages local,
# hdfs:// and s3a:// stores.


def list_generations(spark: SparkSession, base: str) -> list[str]:
    """Snapshot generation roots under ``base`` (direct subdirectories
    holding a manifest), sorted by name — name-ordered generations
    (``gen-000001``, timestamps, ...) come back oldest-first."""
    try:
        jvm = spark._jvm  # type: ignore[attr-defined]
        hconf = spark._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
        hbase = jvm.org.apache.hadoop.fs.Path(base)
        fs = hbase.getFileSystem(hconf)
        if not fs.exists(hbase):
            return []
        out = []
        for st in fs.listStatus(hbase):
            if not st.isDirectory():
                continue
            mpath = jvm.org.apache.hadoop.fs.Path(st.getPath(), MANIFEST_NAME)
            if fs.exists(mpath):
                out.append(st.getPath().toString())
        return sorted(out)
    except Exception:
        # no JVM gateway (Spark Connect): local-path fallback
        root = Path(base)
        if not root.is_dir():
            return []
        return sorted(
            str(p) for p in root.iterdir() if (p / MANIFEST_NAME).is_file()
        )


def vacuum_generations(
    spark: SparkSession, base: str, keep_last: int
) -> list[str]:
    """Expire old snapshot generations, keeping the newest ``keep_last``
    (by name order).  Returns the deleted generation roots.

    Deletion is manifest-gated: only directories that ARE snapshot
    generations (contain a manifest) are candidates — a stray file or
    foreign directory under ``base`` is never touched.  Refuses
    ``keep_last < 1``: an empty store is an explicit ``fs.delete`` the
    caller must write themselves, not a vacuum outcome."""
    if keep_last < 1:
        raise ValueError("vacuum keeps at least one generation")
    gens = list_generations(spark, base)
    doomed = gens[:-keep_last] if len(gens) > keep_last else []
    if not doomed:
        return []
    try:
        jvm = spark._jvm  # type: ignore[attr-defined]
        hconf = spark._jsc.hadoopConfiguration()  # type: ignore[attr-defined]
        for g in doomed:
            p = jvm.org.apache.hadoop.fs.Path(g)
            p.getFileSystem(hconf).delete(p, True)
    except Exception:
        import shutil

        for g in doomed:
            shutil.rmtree(g, ignore_errors=True)
    return doomed


def snapshot_file_stats(spark: SparkSession, snap: Snapshot) -> list[dict]:
    """Per-table data-file health report: file count, total bytes,
    min/max/mean file size — the small-file detector (a 100 TB table in
    4 MB files is a scan-planning disaster: one task per file, pure
    scheduler overhead).  Driver-side metadata listing only — row counts
    belong to ``total_count``/``snapshot_counts``, not here."""
    out = []
    for name in sorted(snap.tables):
        files = Snapshot._list_data_files(spark, snap.tables[name]) or []
        sizes = [length for _uri, _name, length in files]
        total = sum(sizes)
        out.append(
            {
                "table_name": name,
                "n_files": len(sizes),
                "total_bytes": total,
                "min_bytes": min(sizes) if sizes else 0,
                "max_bytes": max(sizes) if sizes else 0,
                "mean_bytes": total // len(sizes) if sizes else 0,
            }
        )
    return out


def diff_timeline(
    spark: SparkSession,
    generations: list[str],
    mode: DiffMode = DiffMode.STRING,
    incremental: bool = False,
) -> DataFrame:
    """Change-velocity report across a CHAIN of snapshot generations:
    for each consecutive pair, per-table counts by classification —
    "how fast is each table churning, and when did it spike", the
    question ``list_generations`` sets up and a single two-snapshot
    diff cannot answer.

    One row per (generation transition, table, status).  UPDATED pairs
    count once (diff_summary semantics).  Cost: N−1 pairwise diffs —
    with ``incremental=True`` on tracked snapshots each transition
    prunes to its changed hash-groups, so a quiet timeline is nearly
    free.  Output is transition×table×status-bounded (driver-tiny).
    """
    from dbdiff_spark.diff import DELETED

    if len(generations) < 2:
        raise ValueError("diff_timeline needs at least two generations")
    parts = []
    for i in range(len(generations) - 1):
        before = Snapshot.load_manifest(generations[i])
        after = Snapshot.load_manifest(generations[i + 1])
        results = diff_snapshots(
            spark, before, after, mode=mode, incremental=incremental
        )
        gen_label = Path(generations[i + 1]).name
        for tname, res in results.items():
            dedup = res.df.filter(
                ~F.col("is_before") | (F.col("diff_status") == DELETED)
            )
            parts.append(
                dedup.groupBy("diff_status").agg(
                    F.count(F.lit(1)).alias("n_rows")
                ).select(
                    F.lit(i + 1).cast("int").alias("transition"),
                    F.lit(gen_label).alias("generation"),
                    F.lit(tname).alias("table_name"),
                    "diff_status",
                    "n_rows",
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compact_table(
    spark: SparkSession,
    snap: Snapshot,
    table: str,
    out_root: str,
    target_file_bytes: int = 128 * 1024**2,
) -> dict:
    """Rewrite one table of a snapshot into ~``target_file_bytes`` data
    files under ``out_root/<table>`` — the remedy for what
    ``snapshot_file_stats`` diagnoses (a 100 TB table in 4 MB files is
    one task per file of pure scheduler overhead; the classic
    lakehouse OPTIMIZE).

    File count comes from the MEASURED byte size (FS metadata), not a
    row-count guess; the rewrite is a single ``repartition(n)`` +
    write — one shuffle, which is the price of changing layout.
    Bucketed tables refuse: their file layout IS the join optimization,
    and collapsing it would silently forfeit the zero-exchange diff.
    Returns ``{files_before, files_after, total_bytes, path}``.
    """
    if snap.buckets > 0:
        raise ValueError(
            "refusing to compact a bucketed snapshot table: the bucket "
            "layout is load-bearing (zero-exchange diffs); re-collect "
            "with different bucket counts instead"
        )
    stats = [
        s for s in snapshot_file_stats(spark, snap) if s["table_name"] == table
    ]
    if not stats or stats[0]["n_files"] == 0:
        raise ValueError(f"no data files found for table {table!r}")
    st = stats[0]
    n = max(1, -(-st["total_bytes"] // target_file_bytes))  # ceil div
    out_path = str(Path(Snapshot._local_root(out_root)) / table)
    df = snap.load(spark, table)
    df.repartition(n).write.mode("errorifexists").format(snap.format).save(out_path)
    after = len(Snapshot._list_data_files(spark, out_path) or [])
    return {
        "files_before": st["n_files"],
        "files_after": after,
        "total_bytes": st["total_bytes"],
        "path": out_path,
    }


def estimate_changes(before: Snapshot, after: Snapshot) -> list[dict]:
    """Zero-job change estimate from the two manifests' hash-group
    fingerprints — answers "is this diff worth a cluster run?" BEFORE
    touching any data.  At 100 TB the estimate is free (manifest
    arithmetic on ≤ ``HASH_GROUPS`` entries per table) while even the
    pruned diff costs a scan.

    Per table: ``n_changed_groups``, rows on each side inside changed
    groups (the upper bound on touched rows), and ``min_changed_rows``
    (each changed group contributes at least ``max(|Δcount|, 1)``).
    ``trackable=False`` (no/misaligned fingerprints or differing keys)
    means the estimate cannot be made — run the real diff.  Added/
    dropped tables report their whole row count as changed.
    """
    out: list[dict] = []
    names = sorted(set(before.tables) | set(after.tables))
    for name in names:
        row = {"table_name": name, "trackable": True}
        if name not in before.tables or name not in after.tables:
            side = after if name in after.tables else before
            n = sum(v[0] for v in side.group_hashes.get(name, {}).values())
            row.update(
                status="TABLE_ADDED" if name in after.tables else "TABLE_DROPPED",
                n_changed_groups=None,
                rows_before_in_changed=0 if name in after.tables else n,
                rows_after_in_changed=n if name in after.tables else 0,
                min_changed_rows=n,
                trackable=bool(side.group_hashes.get(name)),
            )
            out.append(row)
            continue
        fb = before.group_hashes.get(name)
        fa = after.group_hashes.get(name)
        if (
            not fb
            or not fa
            or before.group_hash_mod != after.group_hash_mod
            or before.group_hash_mod <= 0
            or before.keys.get(name) != after.keys.get(name)
        ):
            row.update(
                status="UNKNOWN",
                trackable=False,
                n_changed_groups=None,
                rows_before_in_changed=None,
                rows_after_in_changed=None,
                min_changed_rows=None,
            )
            out.append(row)
            continue
        nb = na = lb = changed = 0
        for g in set(fb) | set(fa):
            b = fb.get(g, [0, 0, 0])
            a = fa.get(g, [0, 0, 0])
            if b != a:
                changed += 1
                nb += b[0]
                na += a[0]
                lb += max(abs(a[0] - b[0]), 1)
        row.update(
            status="CHANGED" if changed else "IDENTICAL",
            n_changed_groups=changed,
            rows_before_in_changed=nb,
            rows_after_in_changed=na,
            min_changed_rows=lb,
        )
        out.append(row)
    return out
