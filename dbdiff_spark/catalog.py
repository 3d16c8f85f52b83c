"""Catalog introspection — reference operators #1-#3 (SURVEY §2).

The reference enumerates user tables and primary-key columns with
per-dialect ``information_schema`` / system-catalog SQL
(``dbutil.go:9-38`` for tables, ``dbutil.go:41-146`` for PKs) and falls
back to "all columns are the key" for tables with no PK
(``dbutil.go:136-141``).  We express the same introspection as pushed-down
JDBC subqueries (one Spark job each, executed inside the source DB) and
add a file-based catalog for Parquet snapshot fixtures, where keys come
from explicit configuration.

The reference runs one PK query per table (N+1 round-trips,
``dbutil.go:118-134``); we fetch ALL tables' PK columns in one
set-oriented query instead — strictly fewer round-trips, same result.
"""

from __future__ import annotations

from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from dbdiff_spark.config import DbConfig

# ---------------------------------------------------------------------------
# Dialect SQL.  Semantics match the reference's introspection queries
# (dbutil.go:15-19 table lists; dbutil.go:48-109 PK lookups) but are
# written set-oriented: one query returns (table_name, column_name,
# ordinal) for every user table at once.
# ---------------------------------------------------------------------------

TABLE_LIST_SQL = {
    "postgresql": (
        "SELECT relname AS table_name FROM pg_stat_user_tables ORDER BY relname"
    ),
    "mysql": (
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_schema = DATABASE() AND table_type = 'BASE TABLE' "
        "ORDER BY table_name"
    ),
    "sqlserver": (
        "SELECT name AS table_name FROM sys.objects "
        "WHERE type = 'U' ORDER BY name"
    ),
}

PK_SQL = {
    "postgresql": (
        "SELECT t.relname AS table_name, a.attname AS column_name, "
        "       k.ordinality AS ordinal "
        "FROM pg_index i "
        "JOIN pg_class t ON t.oid = i.indrelid "
        "JOIN pg_namespace n ON n.oid = t.relnamespace "
        "CROSS JOIN LATERAL unnest(i.indkey) WITH ORDINALITY AS k(attnum, ordinality) "
        "JOIN pg_attribute a ON a.attrelid = t.oid AND a.attnum = k.attnum "
        "WHERE i.indisprimary AND n.nspname NOT IN ('pg_catalog', 'information_schema')"
    ),
    "mysql": (
        "SELECT table_name, column_name, ordinal_position AS ordinal "
        "FROM information_schema.key_column_usage "
        "WHERE constraint_name = 'PRIMARY' AND table_schema = DATABASE()"
    ),
    "sqlserver": (
        # explicit lowercase aliases: SQL Server returns defined-case
        # TABLE_NAME/... and PySpark Row access is case-sensitive; the
        # join correlates on schema+table too — constraint names are
        # only unique per schema, and auto-named PK constraints repeat
        "SELECT kcu.table_name AS table_name, kcu.column_name AS column_name, "
        "       kcu.ordinal_position AS ordinal "
        "FROM information_schema.table_constraints tc "
        "JOIN information_schema.key_column_usage kcu "
        "  ON tc.constraint_name = kcu.constraint_name "
        " AND tc.table_schema = kcu.table_schema "
        " AND tc.table_name = kcu.table_name "
        "WHERE tc.constraint_type = 'PRIMARY KEY'"
    ),
}


def _read_query(spark: SparkSession, db: DbConfig, sql: str):
    return (
        spark.read.format("jdbc")
        .option("url", db.jdbc_url())
        .option("query", sql)
        .options(**db.jdbc_properties())
        .load()
    )


class JdbcCatalog:
    """Live-database catalog (reference fidelity path).

    The reference supports exactly three dialects via hand-written
    system-catalog SQL (``dbutil.go:15-19``); those keep the pushed-down
    set-oriented queries here.  Every OTHER JDBC source goes through the
    standard ``java.sql.DatabaseMetaData`` API (``getTables`` /
    ``getPrimaryKeys``) — dialect-independent by JDBC contract, so any
    driver on the classpath (Derby, H2, Oracle, …) works without new
    SQL.  Metadata calls run on the driver over one connection: catalog
    metadata is tiny, and only the TABLE DATA scans need Spark's
    parallel JDBC machinery."""

    def __init__(self, spark: SparkSession, db: DbConfig):
        # any type is accepted: dialects outside TABLE_LIST_SQL use the
        # JDBC metadata path, which needs a resolvable URL
        self.spark = spark
        self.db = db
        if db.type not in TABLE_LIST_SQL:
            db.jdbc_url()  # raises early for unconfigurable sources

    def list_tables(self) -> list[str]:
        """Reference operator #1 (dbutil.go:9-38): all user tables, sorted."""
        if self.db.type not in TABLE_LIST_SQL:
            return sorted(self._meta_tables())
        rows = _read_query(self.spark, self.db, TABLE_LIST_SQL[self.db.type]).collect()
        return sorted(r[0] for r in rows)

    def primary_keys(self, tables: list[str]) -> dict[str, list[str]]:
        """Reference operators #2-#3 (dbutil.go:41-146): PK columns in
        ordinal order per table; tables without a PK key on ALL columns
        (the fallback at dbutil.go:136-141, improved per SURVEY §2 row 3:
        we read the column list from the DataFrame schema, which is
        correct even for empty tables)."""
        if self.db.type in PK_SQL:
            pk_rows = _read_query(self.spark, self.db, PK_SQL[self.db.type]).collect()
            by_table: dict[str, list[tuple[int, str]]] = {}
            for r in pk_rows:
                by_table.setdefault(r["table_name"], []).append(
                    (int(r["ordinal"]), r["column_name"])
                )
        else:
            by_table = self._meta_primary_keys(tables)
        out: dict[str, list[str]] = {}
        for t in tables:
            if t in by_table:
                out[t] = [c for _, c in sorted(by_table[t])]
            else:
                out[t] = list(jdbc_table(self.spark, self.db, t).columns)
        return out

    # -- generic JDBC metadata path (driver-side, one connection) ----------

    def _meta_schema_pattern(self) -> str | None:
        # db.schema is a raw SQL prefix incl. trailing dot (reference
        # contract); the metadata API wants the bare schema name
        return self.db.schema.rstrip(".") or None

    def _with_connection(self, fn):
        jvm = self.spark._jvm  # type: ignore[attr-defined]
        props = jvm.java.util.Properties()
        for k, v in self.db.jdbc_properties().items():
            if k != "driver" and v:
                props.setProperty(k, v)
        conn = jvm.java.sql.DriverManager.getConnection(self.db.jdbc_url(), props)
        try:
            return fn(conn.getMetaData())
        finally:
            conn.close()

    def _meta_tables(self) -> list[str]:
        def go(md):
            # getTables wants a Java String[] (py4j would pass a List)
            gw = self.spark.sparkContext._gateway  # type: ignore[attr-defined]
            types = gw.new_array(gw.jvm.java.lang.String, 1)
            types[0] = "TABLE"
            rs = md.getTables(None, self._meta_schema_pattern(), "%", types)
            names = []
            while rs.next():
                names.append(rs.getString("TABLE_NAME"))
            rs.close()
            return names

        return self._with_connection(go)

    def _meta_primary_keys(
        self, tables: list[str]
    ) -> dict[str, list[tuple[int, str]]]:
        # getPrimaryKeys is per-table by API shape — the N round-trips
        # the dialect SQL avoids — but they run driver-local on one
        # connection, so the cost is metadata latency only
        def go(md):
            out: dict[str, list[tuple[int, str]]] = {}
            for t in tables:
                rs = md.getPrimaryKeys(None, self._meta_schema_pattern(), t)
                while rs.next():
                    out.setdefault(t, []).append(
                        (int(rs.getShort("KEY_SEQ")), rs.getString("COLUMN_NAME"))
                    )
                rs.close()
            return out

        return self._with_connection(go)


class FileCatalog:
    """File-directory catalog for snapshot/fixture mode.

    Tables = files with a supported data extension (parquet/orc/csv/
    json) in the directory; keys come from an explicit
    ``{table: [cols]}`` mapping, with the reference's no-PK fallback
    (all columns) when a table has no declared key.  When one table name
    exists in several formats, parquet wins (the scale format).

    One instance is one read of the directory: the table listing and
    each loaded frame are memoized, so ``primary_keys`` on a no-key
    table reuses the frame ``load`` built (no second schema-inference
    job).  Build a new catalog to see files added or rewritten since."""

    def __init__(self, spark: SparkSession, directory: str, keys: dict[str, list[str]] | None = None):
        self.spark = spark
        self.directory = str(directory)
        self.keys = dict(keys or {})
        self._files: dict[str, tuple[Path, str]] | None = None
        self._frames: dict[str, DataFrame] = {}

    def _table_files(self) -> dict[str, tuple[Path, str]]:
        if self._files is None:
            self._files = self._scan_table_files()
        return self._files

    def _scan_table_files(self) -> dict[str, tuple[Path, str]]:
        """Table name → (path, format).  Three shapes count as tables:
        a data FILE (``t.parquet``), a Spark-written DIRECTORY whose
        name carries the extension (``t.csv/`` of part files), and a
        bare lake DIRECTORY of part files (``t/part-*.parquet``,
        possibly hive-partitioned).  Hidden/metadata entries (``_``/
        ``.`` prefixes) never surface; parquet wins name collisions."""
        from dbdiff_spark.io import infer_format, table_stem

        entries = (
            sorted(Path(self.directory).iterdir())
            if Path(self.directory).is_dir()
            else []
        )
        # phase 1: gather every candidate per table name — collision
        # adjudication needs the FULL slate (a later parquet sibling
        # legitimately settles an earlier csv-vs-json pair, so warning
        # mid-scan cried wolf — r8 review finding)
        cands: dict[str, list[tuple[Path, str]]] = {}
        for p in entries:
            if p.name.startswith(("_", ".")):
                continue
            ext_fmt = infer_format(p.name)
            if p.is_dir():
                inner = next(
                    (
                        infer_format(f.name)
                        for f in sorted(p.rglob("*"))
                        if f.is_file()
                        and not f.name.startswith(("_", "."))
                        and infer_format(f.name) is not None
                    ),
                    None,
                )
                if inner is None:
                    continue  # no data files below: not a table
                fmt = ext_fmt or inner
                name = table_stem(p.name) if ext_fmt else p.name
            else:
                if ext_fmt is None:
                    continue
                fmt, name = ext_fmt, table_stem(p.name)
            cands.setdefault(name, []).append((p, fmt))
        # phase 2: resolve each name (parquet wins; else sorted-first)
        # and warn ONLY about collisions the winner rule leaves
        # ambiguous — a same-format tie, or a cross-format pair with no
        # parquet to adjudicate (ADVICE r7)
        found: dict[str, tuple[Path, str]] = {}
        for name, lst in cands.items():
            winner = next((c for c in lst if c[1] == "parquet"), lst[0])
            found[name] = winner
            for p, fmt in lst:
                if p is winner[0]:
                    continue
                if fmt == winner[1]:
                    # e.g. people.csv next to people.csv.gz
                    # (mid-recompression lake state), or two parquets
                    import warnings

                    warnings.warn(
                        f"table {name!r}: {p.name} shadowed by "
                        f"{winner[0].name} (same format); rename or "
                        "remove one of the files",
                        stacklevel=3,
                    )
                elif winner[1] != "parquet":
                    # csv next to json with NO parquet sibling: the
                    # sorted-first file wins by arrival order — as
                    # silent a wrong-snapshot hazard as the same-format
                    # tie.  (A parquet winner IS the documented rule,
                    # so that case stays quiet.)
                    import warnings

                    warnings.warn(
                        f"table {name!r}: {p.name} ({fmt}) shadowed by "
                        f"{winner[0].name} ({winner[1]}) — cross-format "
                        "collision the parquet-wins rule does not "
                        "adjudicate; rename or remove one of the files",
                        stacklevel=3,
                    )
        return found

    def list_tables(self) -> list[str]:
        """Sorted table names.  Every listed table's frame is built at
        once (``io.run_jobs``) into the ``load`` memo — its
        schema-inference job overlaps the other tables' — since a
        listing is read to load the tables.  A table that fails to read
        is left out of the memo; its ``load`` raises the error."""
        from dbdiff_spark.io import run_jobs

        tables = sorted(self._table_files())
        pending = [t for t in tables if t not in self._frames]
        for t, df in zip(pending, run_jobs(*[partial(self._try_read, t) for t in pending])):
            if df is not None:
                self._frames[t] = df
        return tables

    def _try_read(self, table: str):
        try:
            return self._read(table)
        except Exception:  # noqa: BLE001 - load() re-reads and raises
            return None

    def load(self, table: str):
        if table not in self._frames:
            self._frames[table] = self._read(table)
        return self._frames[table]

    def _read(self, table: str):
        from dbdiff_spark.io import load_table, read_source

        entry = self._table_files().get(table)
        if entry is not None:
            path, fmt = entry
            if path.is_dir() or fmt != "parquet":
                return read_source(self.spark, str(path), fmt=fmt)
        return load_table(self.spark, self.directory, table)

    def primary_keys(self, tables: list[str]) -> dict[str, list[str]]:
        out = {}
        for t in tables:
            out[t] = list(self.keys.get(t) or self.load(t).columns)
        return out


def jdbc_read_options(
    db: DbConfig,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 16,
    lower_bound: int | str | None = None,
    upper_bound: int | str | None = None,
    fetch_size: int = 10_000,
) -> dict[str, str]:
    """Options for a partitioned JDBC table read.

    The reference scans each table over ONE connection sequentially
    (``extract_data.go:30-43``; its own TODO at ``:33`` wishes for
    parallelism).  With a numeric/date/timestamp partition column
    (typically the first PK column) Spark issues ``num_partitions``
    range-predicated queries in parallel — the snapshot of a 100 TB
    table becomes as parallel as the source database allows.  Bounds
    should come from ``SELECT min(c), max(c)`` when not provided (one
    cheap round-trip); date/timestamp bounds are their string literals.

    The table identifier is quoted per dialect: catalog-listed names can
    contain spaces/hyphens/quote characters, which would otherwise break
    the generated SQL (or inject into it).  ``db.schema`` stays a raw
    prefix — the reference's documented contract (README.md:28) is that
    config supplies it verbatim, trailing dot included.
    """
    opts: dict[str, str] = {
        "url": db.jdbc_url(),
        "dbtable": f"{db.schema}{quote_ident(db.type, table)}",
        "fetchsize": str(fetch_size),
        **db.jdbc_properties(),
    }
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partitioned JDBC reads need lower_bound/upper_bound "
                "(fetch via SELECT min/max of the partition column)"
            )
        opts.update(
            {
                "partitionColumn": partition_column,
                "numPartitions": str(num_partitions),
                "lowerBound": str(lower_bound),
                "upperBound": str(upper_bound),
            }
        )
    return opts


def jdbc_table(
    spark: SparkSession,
    db: DbConfig,
    table: str,
    **kwargs,
):
    """Load one table over JDBC (partitioned when a partition column is
    given) — the live-database source for ``SnapshotStore.collect``."""
    return spark.read.format("jdbc").options(**jdbc_read_options(db, table, **kwargs)).load()


# (open-quote, close-quote) per dialect; embedded close-quote characters
# escape by doubling, per each dialect's quoting rules.
_IDENT_QUOTE = {"postgresql": ('"', '"'), "mysql": ("`", "`"), "sqlserver": ("[", "]")}


def quote_ident(db_type: str, name: str) -> str:
    """Dialect-quoted identifier, safe for names containing spaces,
    hyphens, or the quote character itself.  Catalog queries return raw
    names (``list_tables``); interpolating them unquoted into generated
    SQL breaks on such names and is an identifier-injection vector.
    Dialects without a special rule (the generic-JDBC path) use the SQL
    standard double-quote."""
    lo, hi = _IDENT_QUOTE.get(db_type, ('"', '"'))
    return f"{lo}{name.replace(hi, hi + hi)}{hi}"


# JDBC partition columns: Spark ranges integral columns with long
# bounds and date/timestamp columns with literal string bounds.
_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}
_DATETIME_TYPES = {"date", "timestamp", "timestamp_ntz"}


def jdbc_table_auto(
    spark: SparkSession,
    db: DbConfig,
    table: str,
    key_cols: list[str] | None = None,
    num_partitions: int = 16,
):
    """Load a table over JDBC with automatic range partitioning.

    Picks the first integral key column (else the first date/timestamp
    key column), fetches its min/max in ONE pushed-down round-trip, and
    issues ``num_partitions`` range-predicated parallel scans — the
    parallelism the reference's own TODO wishes for
    (``extract_data.go:33``).  Tables with no rangeable key (or empty
    tables) fall back to the single-connection read.

    The 100 TB posture for snapshotting a live database: scan parallelism
    is bounded by what the source DB can serve, so ``num_partitions``
    stays modest per table while Spark's scheduler overlaps tables.
    """
    frame = jdbc_table(spark, db, table)
    types = dict(frame.dtypes)
    keys = key_cols or []
    part_col = next((k for k in keys if types.get(k) in _INTEGRAL_TYPES), None)
    integral = part_col is not None
    if part_col is None:
        part_col = next((k for k in keys if types.get(k) in _DATETIME_TYPES), None)
    if part_col is None:
        # varchar/UUID primary keys (very common) get boundary-sampled
        # range predicates instead of silently falling back to the
        # single-connection scan — the reference's own bottleneck
        str_col = next((k for k in keys if types.get(k) == "string"), None)
        if str_col is not None:
            return jdbc_table_string_partitioned(
                spark, db, table, str_col, num_partitions
            )
        return frame
    q = quote_ident(db.type, part_col)
    # positional access: dialects disagree on alias case folding (Derby
    # uppercases unquoted aliases), so field-name lookup is not portable
    bounds = _read_query(
        spark,
        db,
        f"SELECT MIN({q}) AS lo, MAX({q}) AS hi "
        f"FROM {db.schema}{quote_ident(db.type, table)}",
    ).collect()[0]
    if bounds[0] is None or bounds[0] == bounds[1]:
        return frame
    # integral bounds go through as longs; date/timestamp bounds as the
    # driver's string rendering ("YYYY-MM-DD[ HH:MM:SS[.ffffff]]"),
    # which Spark's JDBC partitioner parses for datetime columns
    lo, hi = (
        (int(bounds[0]), int(bounds[1]))
        if integral
        else (str(bounds[0]), str(bounds[1]))
    )
    return jdbc_table(
        spark,
        db,
        table,
        partition_column=part_col,
        num_partitions=num_partitions,
        lower_bound=lo,
        upper_bound=hi,
    )


# Dialect predicate builders for MOD(hash(key), N) partition scans of
# string-keyed tables (the scheme the reference's dialects support:
# pg hashtext, mysql crc32, mssql checksum).  hashtext/CHECKSUM can
# return INT_MIN, where ABS() overflows — mask to 31 bits instead.
_HASH_MOD_PREDICATE = {
    "postgresql": lambda c, n, i: (
        f"MOD(CAST(hashtext({c}) AS BIGINT) & 2147483647, {n}) = {i}"
    ),
    "mysql": lambda c, n, i: f"MOD(crc32({c}), {n}) = {i}",
    "sqlserver": lambda c, n, i: f"(CHECKSUM({c}) & 2147483647) % {n} = {i}",
}


def hash_mod_predicates(db: DbConfig, col: str, num_partitions: int) -> list[str]:
    """``MOD(hash(col), N) = i`` partition predicates for the three
    reference dialects.  NULL keys hash to NULL (predicate false on
    every partition), so partition 0 additionally takes ``IS NULL`` —
    no row may be silently dropped by partitioning.

    Trade-off vs :func:`jdbc_table_string_partitioned`: hash-mod
    predicates are UNINDEXABLE, so the source database executes N full
    table scans (N× server I/O).  Use them when range boundaries are
    unsafe — case-insensitive or nondeterministic collations where the
    server's ORDER BY disagrees with predicate comparisons."""
    if db.type not in _HASH_MOD_PREDICATE:
        raise ValueError(
            f"no hash-mod partitioning for dialect {db.type!r} "
            f"(supported: {sorted(_HASH_MOD_PREDICATE)})"
        )
    q = quote_ident(db.type, col)
    build = _HASH_MOD_PREDICATE[db.type]
    preds = [build(q, num_partitions, i) for i in range(num_partitions)]
    preds[0] = f"{preds[0]} OR {q} IS NULL"
    return preds


def jdbc_table_predicates(
    spark: SparkSession,
    db: DbConfig,
    table: str,
    predicates: list[str],
    fetch_size: int = 10_000,
):
    """Load a table as one JDBC scan per predicate (Spark's
    ``predicates`` reader API) — the predicates must be disjoint and
    exhaustive or rows duplicate/vanish.

    ``fetchsize`` mirrors :func:`jdbc_read_options`: without it pgjdbc
    (default 0) buffers the entire per-partition result set in executor
    memory — exactly the large tables this path exists to parallelize.
    MySQL Connector/J ignores a positive fetchsize on its own; it
    streams only with the ``useCursorFetch=true`` connection property,
    which ``DbConfig.jdbc_properties`` sets for mysql (ADVICE r7)."""
    return spark.read.jdbc(
        url=db.jdbc_url(),
        table=f"{db.schema}{quote_ident(db.type, table)}",
        predicates=list(predicates),
        properties={"fetchsize": str(fetch_size), **db.jdbc_properties()},
    )


def _offset_probe_sql(db: DbConfig, table: str, col: str, offset: int) -> str:
    q = quote_ident(db.type, col)
    src = f"{db.schema}{quote_ident(db.type, table)}"
    if db.type == "mysql":
        return f"SELECT {q} AS b FROM {src} ORDER BY {q} LIMIT 1 OFFSET {offset}"
    # SQL-standard OFFSET/FETCH: postgresql, sqlserver (2012+), derby,
    # and the generic-JDBC path
    return (
        f"SELECT {q} AS b FROM {src} ORDER BY {q} "
        f"OFFSET {offset} ROWS FETCH NEXT 1 ROWS ONLY"
    )


# Dialects whose windowed ROW_NUMBER() OVER (ORDER BY …) lets all
# boundaries come back in ONE ordered round trip.  Derby is excluded:
# its ROW_NUMBER does not accept an ORDER BY inside OVER.
_ROW_NUMBER_BOUNDARY_DIALECTS = {"postgresql", "mysql", "sqlserver"}
# servers observed to reject the windowed boundary query this process
# lifetime (MySQL < 8 / MariaDB) — skip straight to the OFFSET walk
_NO_WINDOW_SERVERS: set[str] = set()


def _string_literal(db_type: str, v: str) -> str:
    """SQL string literal for partition predicates: quote doubling only
    — the one escape that is interpreted identically under every
    dialect AND session mode.  Backslash rendering is mode-dependent on
    MySQL (sql_mode NO_BACKSLASH_ESCAPES inverts it) and on legacy
    PostgreSQL (standard_conforming_strings=off), so ANY rendering of a
    backslash is wrong under one of the modes; callers must route
    backslash-bearing values away from literal predicates entirely
    (see the fallback in :func:`jdbc_table_string_partitioned`)."""
    return "'" + v.replace("'", "''") + "'"


def _sample_boundaries(
    spark: SparkSession,
    db: DbConfig,
    table: str,
    col: str,
    cnt: int,
    num_partitions: int,
) -> list[str]:
    """The N-quantile key boundaries.  On dialects with windowed
    ROW_NUMBER this is ONE ordered round trip (a single index scan
    server-side); elsewhere it falls back to N-1 ``ORDER BY … OFFSET``
    probes — each an O(offset) index walk (OFFSET discards, it does not
    seek), totaling ~N·P/2 entries visited.  Both are index-only."""
    q = quote_ident(db.type, col)
    src = f"{db.schema}{quote_ident(db.type, table)}"
    step = cnt // num_partitions
    ranks = [k * step for k in range(1, num_partitions)]
    if (
        db.type in _ROW_NUMBER_BOUNDARY_DIALECTS
        and db.jdbc_url() not in _NO_WINDOW_SERVERS
    ):
        try:
            in_list = ", ".join(str(r) for r in ranks)
            rows = _read_query(
                spark,
                db,
                f"SELECT b, rn FROM (SELECT {q} AS b, "
                f"ROW_NUMBER() OVER (ORDER BY {q}) AS rn FROM {src}) t "
                f"WHERE rn IN ({in_list})",
            ).collect()
            # result-set order is NOT guaranteed (and Spark's JDBC reader
            # wraps the query in another subquery) — misordered boundaries
            # would yield overlapping/empty partition predicates, so sort
            # client-side by the rank we selected alongside
            return [
                str(r["b"])
                for r in sorted(rows, key=lambda r: int(r["rn"]))
                if r["b"] is not None
            ]
        except Exception:
            # e.g. MySQL < 8 / MariaDB without window functions: degrade
            # to the O(offset) probe walk, NOT to the single scan — and
            # remember, so a REPL diffing many tables over many
            # generations pays the doomed round trip only once
            _NO_WINDOW_SERVERS.add(db.jdbc_url())
    out = []
    for r in ranks:
        rows = _read_query(
            spark, db, _offset_probe_sql(db, table, col, r)
        ).collect()
        if rows and rows[0][0] is not None:
            out.append(str(rows[0][0]))
    if out != sorted(out):
        # The walk issues N-1 queries at DIFFERENT times: concurrent
        # inserts/deletes between probes can hand back non-monotone
        # boundaries, whose range predicates then OVERLAP (a row
        # between two swapped boundaries matches both '< b0' and
        # '>= b_last'), silently DUPLICATING rows in the snapshot —
        # so any out-of-order sequence degrades to the single scan.
        # The check is byte-order, so a case-insensitive server
        # collation can also trip it on a quiet table; that degrade is
        # conservative-correct, and the docstring already routes CI
        # collations to hash_mod_predicates.  The windowed path above
        # is exempt BY CONSTRUCTION: one snapshot-consistent statement,
        # rn-sorted, in the server's own predicate order — checking it
        # against Python byte order would wrongly single-scan valid
        # locale-collated boundaries.
        import warnings

        warnings.warn(
            f"{table}.{col}: offset-probe boundaries came back "
            "non-monotone (concurrent writes during sampling, or a "
            "case-insensitive collation) — degrading to the "
            "single-connection scan",
            stacklevel=2,
        )
        return []
    return out


def jdbc_table_string_partitioned(
    spark: SparkSession,
    db: DbConfig,
    table: str,
    col: str,
    num_partitions: int = 16,
):
    """Parallel JDBC scan of a varchar/UUID-keyed table via
    boundary-sampled RANGE predicates.

    One COUNT round-trip plus a boundary-sampling pass
    (:func:`_sample_boundaries`) picks the N-quantile key boundaries;
    partition i scans ``[b_i, b_{i+1})``.  Each partition predicate is
    a key-range the source PK index serves — unlike ``MOD(hash(col),
    N)`` partitioning (also available, :func:`hash_mod_predicates`),
    whose predicates force N full table scans server-side.  NULL keys
    ride with the first partition; duplicate boundaries (heavy key
    skew) collapse adjacent partitions rather than duplicating rows;
    tiny tables fall back to the single scan, as does ANY probe failure
    (a dialect without OFFSET/FETCH or window support must degrade to
    the working single-connection read, never abort the snapshot).

    100 TB posture: setup is one COUNT plus one ordered index scan
    (the row_number dialects) and the per-partition scans are index
    ranges, so a UUID-keyed billion-row table parallelizes like an
    integral one.  Boundary values that are not range-stable under the
    server collation (case-insensitive collations) should use
    :func:`hash_mod_predicates` instead."""
    src = f"{db.schema}{quote_ident(db.type, table)}"
    try:
        cnt_row = _read_query(
            spark, db, f"SELECT COUNT(*) AS c FROM {src}"
        ).collect()[0]
        cnt = int(cnt_row[0] or 0)
        if cnt < 2 * num_partitions:
            return jdbc_table(spark, db, table)
        boundaries = _sample_boundaries(
            spark, db, table, col, cnt, num_partitions
        )
    except Exception:
        # the probe SQL is dialect-dependent; an unsupported dialect
        # degrades to the (slow, correct) single-connection scan
        return jdbc_table(spark, db, table)
    uniq = [b for i, b in enumerate(boundaries) if i == 0 or b != boundaries[i - 1]]
    if not uniq:
        return jdbc_table(spark, db, table)
    if db.type in ("mysql", "postgresql") and any("\\" in b for b in uniq):
        # backslash rendering is session-mode-dependent on these
        # dialects (MySQL NO_BACKSLASH_ESCAPES, legacy PG
        # standard_conforming_strings=off); a literal we cannot render
        # unambiguously must not become a partition predicate — quote
        # doubling alone is mode-independent, so only backslash-bearing
        # boundaries force the fallback
        return jdbc_table(spark, db, table)
    q = quote_ident(db.type, col)

    def lit(v: str) -> str:
        return _string_literal(db.type, v)

    preds = [f"{q} < {lit(uniq[0])} OR {q} IS NULL"]
    preds += [
        f"{q} >= {lit(a)} AND {q} < {lit(b)}" for a, b in zip(uniq, uniq[1:])
    ]
    preds.append(f"{q} >= {lit(uniq[-1])}")
    return jdbc_table_predicates(spark, db, table, preds)


# Declared keys for the driver-generated test tables (FIXTURES.md §B).
TESTDATA_KEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    # events: no declared key → all-columns fallback
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
