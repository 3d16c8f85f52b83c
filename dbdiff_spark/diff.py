"""Core diff operators — the reference engine's entire dataflow,
re-expressed as one matcher plus one classifier per table.

Reference semantics being reproduced (SURVEY §2 ops #6-#8):

* ``extract_data.go:196-246`` — before/after keyed stores probed against
  each other: key only in before → DELETED; in both and equal →
  NOT_MODIFIED (dropped); in both and unequal → an UPDATED before/after
  row pair; key only in after → INSERTED.
* ``extract_data.go:161-184`` — per-column comparison recording exactly
  the set of modified columns; if the column sets differ, every column
  is marked modified.
* ``extract_data.go:149-160`` — row identity = primary-key columns.  The
  reference concatenates PK strings with no separator (collision bug,
  SURVEY §1.5.1); we match on the composite key directly.
* NULL semantics (SURVEY §1.4): the reference renders NULL as the string
  ``"<NULL>"`` so NULL == NULL holds.  We use Spark's null-safe equality
  (``<=>``, or a groupBy's one NULL group) — same observable behavior,
  no sentinel collision.

Scale notes (100 TB posture):

* Matching and classification are written once each.  The keyed diff
  matches rows with one of two matchers that emit the same shape (per
  key, each side's non-key columns as a struct plus its row count), and
  one classifier (:func:`_classify`) turns either into the report:
  - the fold (:func:`_fold`): both sides' rows in one tagged union,
    grouped by key — map-side partially aggregated, no join.  It serves
    every null-safe deduplicating diff (the ``diff_snapshots`` hot
    path, with or without tolerance, ignore, drift, map values or
    ``include_unchanged``), the all-columns key, and the three-side
    fold of :func:`diff3_tables`;
  - the full outer join (:func:`_full_outer_match`): a sort-merge join,
    kept for the three shapes only it plans correctly or exchange-free
    — a non-deduplicating declared key (duplicate keys cross-match
    m×n), plain-equality keys (if the two snapshots are written
    bucketed-by-key, see ``snapshot.py``, the exchanges disappear
    entirely and the diff is a zero-shuffle zip of co-located buckets),
    and ``include_unchanged`` without dedup.
* One size election over the summed optimizer estimate of a diff's
  inputs (:func:`_input_bytes`) sets every matcher's plan shape, in
  three regimes by size: ONE TASK at most ``DIFF_ONE_TASK_MAX_BYTES``
  (the input coalesced to one partition, no exchange — a developer's
  test database, the REPL's case); ONE EXCHANGE above it (the fold's
  one, one per side of the join, ``diff_multiset``'s ``one_pass``);
  and, for ``diff_multiset``, HASH-FIRST above
  ``MULTISET_ONE_PASS_MAX_BYTES`` or when an estimate is missing.  A
  missing estimate never elects one task.
* Skew posture (measured, r9 — tools/probe_diff_scale.py --skew):
  AQE's skew-join split does NOT apply to a FULL OUTER sort-merge join
  (OptimizeSkewedJoin fires for inner/left/right only — splitting a
  side of a FOJ would duplicate unmatched rows; pinned in
  tests/test_diff_skew.py).  The diff tier is skew-safe anyway, by
  construction rather than by runtime repair: the FOJ joins on a
  UNIQUE key (per-key cardinality 1×1, hash partitioning is uniform in
  the number of KEYS regardless of how pathological the key VALUE
  distribution is), and every non-unique-key shape — all-columns key,
  dedup_keys, multiset — routes through grouped aggregations whose
  map-side partial combine collapses a planted hot key before the
  exchange.
* Classification, per-column comparison and the UPDATED pair expansion
  are narrow projections (``CASE``/``array``/``explode``) that stay
  inside whole-stage codegen — no Python in the hot path.
* NOT_MODIFIED rows (the overwhelming majority at scale) are filtered
  *before* the explode, so the expansion only touches changed rows.
"""

from __future__ import annotations

import logging
import math
from dataclasses import dataclass, field
from enum import Enum
from functools import partial, reduce

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from dbdiff_spark.io import run_jobs
from dbdiff_spark.normalize import normalize_to_strings
from dbdiff_spark.sqltext import ident, string_lit

_log = logging.getLogger(__name__)

# Diff status labels (reference: extract_data.go:186-192 const block).
INSERTED = "INSERTED"
DELETED = "DELETED"
UPDATED = "UPDATED"
NOT_MODIFIED = "NOT_MODIFIED"

# SQL-text fragments shared by the planners below
_INSERTED, _DELETED, _UPDATED, _NOT_MODIFIED = (
    string_lit(s) for s in (INSERTED, DELETED, UPDATED, NOT_MODIFIED)
)
_EMPTY_NAMES = "CAST(array() AS ARRAY<STRING>)"
_BEFORE_ROW = "struct(true AS is_before, __b_row AS `row`)"
_AFTER_ROW = "struct(false AS is_before, __a_row AS `row`)"


class DiffMode(str, Enum):
    """STRING = reference fidelity (every column compared as its string
    rendering, so ``1.0`` vs ``1.00`` in a numeric column is a change —
    ``extract_data.go:63-67``).  TYPED = native-type comparison, an
    engine improvement the reference cannot express."""

    STRING = "string"
    TYPED = "typed"


@dataclass(frozen=True)
class DiffResult:
    """A diff DataFrame plus the metadata needed by sinks.

    ``rows(max_rows)`` is the rendered output every sink reads; it is
    collected once per cap and kept on the instance, so a console report
    followed by an xlsx report of the same results runs the diff's jobs
    once (see :func:`collect_rows`)."""

    df: DataFrame
    key_columns: list[str]
    value_columns: list[str]
    _rows: dict[int, list[Row]] = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    def rows(self, max_rows: int) -> list[Row]:
        """``ordered_output(self).limit(max_rows).collect()``, memoized
        per ``max_rows``."""
        if max_rows not in self._rows:
            self._rows[max_rows] = ordered_output(self).limit(max_rows).collect()
        return self._rows[max_rows]


def collect_rows(results: dict[str, DiffResult], max_rows: int) -> None:
    """Fill every result's ``rows(max_rows)`` memo, submitting the
    tables' collect jobs concurrently (``io.run_jobs``, which bounds the
    fan-out).  Results already collected at this cap submit nothing."""
    run_jobs(
        *[partial(r.rows, max_rows) for r in results.values() if max_rows not in r._rows]
    )


def _chain(op: str, conds: list[str]) -> str:
    """``((c1 op c2) op c3) …`` — left-deep like a Python ``reduce``; the
    SQL parser would balance a flat ``c1 op c2 op c3`` chain instead."""
    return reduce(lambda acc, c: f"({acc}) {op} ({c})", conds)


def _or_all(conds: list[str]) -> str:
    return _chain("OR", conds) if conds else "false"


def _number_lit(v: float) -> str:
    """SQL literal of the type ``F.lit(v)`` would carry: int for Python
    ints, double for floats (a bare ``0.5`` would parse as DECIMAL)."""
    if isinstance(v, int):
        return str(v)
    return f"{float(v)!r}D" if math.isfinite(v) else f"CAST('{v}' AS DOUBLE)"


def _modified_array(compares: list[str], names: list[str]) -> str:
    """``array<string>`` of the names whose comparison holds."""
    if not compares:
        return _EMPTY_NAMES
    hits = ", ".join(
        f"CASE WHEN {cmp} THEN {string_lit(c)} END" for cmp, c in zip(compares, names)
    )
    return f"array_compact(array({hits}))"


def _explode_pairs(classified: DataFrame, pair: str, value_cols: list[str]) -> DataFrame:
    """One output row per ``(is_before, row)`` struct of the ``pair``
    array: the diff's final ``diff_status, is_before, modified_columns,
    <value columns>`` shape."""
    return classified.selectExpr(
        "diff_status", "modified_columns", f"explode({pair}) AS __e"
    ).selectExpr(
        "diff_status",
        "__e.is_before AS is_before",
        "modified_columns",
        *[f"__e.`row`.{ident(c)} AS {ident(c)}" for c in value_cols],
    )


# Spark cannot ORDER/MAX/compare these types (recursively): max(struct(...))
# over — or `<=>` between — rows containing one raises AnalysisException
# at plan time.
_UNORDERABLE_MARKERS = ("map<", "variant")


def _is_orderable(dtype: str) -> bool:
    return not any(m in dtype for m in _UNORDERABLE_MARKERS)


def _canonical_comparable(col: str, dtype: str) -> str:
    """A comparable canonical rendering (SQL text) of an
    unorderable-typed column.

    Single-level maps become their entry array sorted by key —
    content-equal maps compare equal regardless of entry order, and
    ``<=>`` supports array<struct>.  Deeper nestings (map inside the
    value type, variant) fall back to the string cast, whose rendering
    follows stored entry order — stable for data read back from files,
    which is what snapshot diffs compare."""
    if _is_orderable(dtype):
        return col
    if dtype.startswith("map<") and _is_orderable(dtype[4:]):
        return f"array_sort(map_entries({col}))"
    return f"CAST({col} AS STRING)"


def _shield_reserved(
    frames: list[DataFrame], key_cols: list[str], reserved: tuple[str, ...]
) -> tuple[list[DataFrame], list[str], dict[str, str]]:
    """Rename input columns that collide with the diff's own output
    columns (``diff_status`` …) or its ``__``-prefixed internal names.

    This is not a theoretical corner: the JDBC/file sinks write diff
    results INTO the target store, so the very next snapshot run
    catalogs a table whose columns are literally ``diff_status,
    is_before, …`` — without the shield that diff dies with
    AMBIGUOUS_REFERENCE (keyed paths) or silently overwrites the data
    column (``withColumn`` replace semantics in the multiset path).
    Colliding columns appear in the OUTPUT as ``<name>__data``; the
    returned mapping records the renames, and key columns rename
    consistently (DiffResult.key_columns stays join-consistent for
    ``apply_diff``/sinks)."""
    clash = {
        c
        for df in frames
        for c in df.columns
        if c in reserved or c.startswith("__")
    }
    if not clash:
        return frames, list(key_cols), {}
    taken = {c for df in frames for c in df.columns}
    renames: dict[str, str] = {}
    for c in sorted(clash):
        new = f"{c}__data"
        while new in taken:
            new += "_"
        taken.add(new)
        renames[c] = new
    shielded = [
        df.selectExpr(
            *[f"{ident(c)} AS {ident(renames.get(c, c))}" for c in df.columns]
        )
        for df in frames
    ]
    return shielded, [renames.get(k, k) for k in key_cols], renames


def _fold(
    sides: list[tuple[DataFrame, str, dict[str, str]]],
    key_cols: list[str],
    one_task: bool,
    multiplicities: bool = False,
) -> DataFrame:
    """The side-tagged fold: every side's rows in one union, grouped by
    key — ONE exchange, with map-side partial aggregation, or, when the
    one-task gate (:func:`_one_task`) holds, one task with no exchange
    at all.

    ``sides`` holds ``(frame, tag, dtypes)`` triples.  Per key group and
    side tag ``T`` the result carries the key columns and

    * ``T``: that side's last-wins representative, the max struct of its
      own non-key columns (omitted when the side has none).  Rows with
      unorderable values (maps, variant) cannot feed ``max`` and elect
      by ``max_by`` over their string rendering instead — the surviving
      row keeps its native values.  ``max`` skips the other sides'
      NULLed-out entries, and a struct of NULL fields is still non-NULL,
      so presence is exact;
    * ``T_n``: that side's row count, capped at 1 unless
      ``multiplicities``.  Without multiplicities, the sides with no
      non-key columns share one presence bitmask buffer (bit ``s`` for
      side ``s``) instead of a count each.

    ``groupBy`` treats NULL keys as one group: the null-safe ``<=>``
    semantics of the join matcher."""
    keys = [ident(k) for k in key_cols]
    parts, aggs, out = [], [], list(keys)
    if not multiplicities and any(set(types) <= set(key_cols) for _, _, types in sides):
        aggs.append("bit_or(shiftleft(1, __side)) AS __mask")
    for s, (df, tag, types) in enumerate(sides):
        others = [c for c in types if c not in key_cols]
        packed = []
        if others:
            packed.append(f"struct({', '.join(ident(c) for c in others)}) AS {tag}")
            if all(_is_orderable(types[c]) for c in others):
                aggs.append(f"max({tag}) AS {tag}")
            else:
                render = ", ".join(
                    ident(c) if _is_orderable(types[c]) else f"CAST({ident(c)} AS STRING)"
                    for c in others
                )
                packed.append(f"struct({render}) AS {tag}_o")
                aggs.append(f"max_by({tag}, {tag}_o) AS {tag}")
            out += [tag, f"IF({tag} IS NULL, 0, 1) AS {tag}_n"]
        elif multiplicities:
            aggs.append(f"CAST(count_if(__side = {s}) AS INT) AS {tag}_n")
            out.append(f"{tag}_n")
        else:
            out.append(f"shiftright(__mask, {s}) & 1 AS {tag}_n")
        parts.append(df.selectExpr(*keys, f"{s} AS __side", *packed))
    union = reduce(lambda x, y: x.unionByName(y, allowMissingColumns=True), parts)
    return (
        _single_task(union, one_task)
        .groupBy(*keys)
        .agg(*[F.expr(a) for a in aggs])
        .selectExpr(*out)
    )


def dedup_last_wins(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Collapse duplicate keys to ONE deterministic representative row.

    The reference silently overwrites on key collision — last scanned row
    wins (``extract_data.go:81``), which is scan-order-dependent.  We keep
    the max-by-remaining-columns row instead: same contract (one row per
    key), deterministic on any cluster.  It is the one-side case of
    :func:`_fold`: one aggregation with map-side partial combine, on the
    key the downstream diff join shuffles on, so AQE/bucketing can reuse
    the exchange.  Two different maps with an identical rendering tie
    arbitrarily, matching the reference's own nondeterminism only in
    that degenerate corner."""
    return _last_wins(df, key_cols, _one_task(_input_bytes([df])))


def _last_wins(df: DataFrame, key_cols: list[str], one_task: bool) -> DataFrame:
    types = dict(df.dtypes)
    return _fold([(df, "__r", types)], key_cols, one_task).selectExpr(
        *[ident(c) if c in key_cols else f"__r.{ident(c)} AS {ident(c)}" for c in types]
    )


def _full_outer_match(
    before: DataFrame,
    after: DataFrame,
    key_cols: list[str],
    b_types: dict[str, str],
    a_types: dict[str, str],
    null_safe_keys: bool,
    one_task: bool,
) -> DataFrame:
    """The join matcher, in the fold's shape: one row per matched key
    pair (m×n for duplicate keys), each side's non-key columns packed
    into its ``__b``/``__a`` struct, ``__b_n``/``__a_n`` 1 where the
    side is present and 0 where it is not.  Under ``one_task`` both
    sides are single partitions, which the sort-merge join accepts as
    co-partitioned: no exchange."""
    keys = [ident(k) for k in key_cols]

    def side(df: DataFrame, tag: str, types: dict[str, str]) -> list[str]:
        others = [ident(c) for c in types if c not in key_cols]
        return [f"struct({', '.join(others)}) AS {tag}"] if others else []

    b_packed, a_packed = side(before, "__b", b_types), side(after, "__a", a_types)
    b = _single_task(before.selectExpr(*keys, *b_packed, "1 AS __b_n"), one_task).alias("b")
    a = _single_task(after.selectExpr(*keys, *a_packed, "1 AS __a_n"), one_task).alias("a")
    # null-safe ``<=>`` is still recognized by Catalyst as an equi-join
    # key, so the planner can pick sort-merge / shuffled-hash / broadcast
    # — this does NOT degrade to a nested-loop join.  Plain equality
    # keys are only valid when key columns are known non-null (the
    # declared-PK contract).  Catalyst rewrites `<=>` keys as
    # coalesce(k)/isnull(k), which does NOT line up with bucketed-table
    # output partitioning — the plain path keeps the join exchange-free
    # over snapshots bucketed by key.
    eq = "<=>" if null_safe_keys else "="
    cond = _chain("AND", [f"b.{k} {eq} a.{k}" for k in keys])
    return b.join(a, on=F.expr(cond), how="full_outer").selectExpr(
        *[f"coalesce(b.{k}, a.{k}) AS {k}" for k in keys],
        *(["b.__b"] if b_packed else []),
        *(["a.__a"] if a_packed else []),
        "coalesce(b.__b_n, 0) AS __b_n",
        "coalesce(a.__a_n, 0) AS __a_n",
    )


def _classify(
    matched: DataFrame,
    key_cols: list[str],
    b_types: dict[str, str],
    a_types: dict[str, str],
    include_unchanged: bool,
    tolerance: dict[str, float] | None,
    ignore_columns: list[str] | None,
) -> DiffResult:
    """The keyed classifier, shared by both matchers
    (``extract_data.go:161-246``): over key columns, ``__b``/``__a``
    side structs and ``__b_n``/``__a_n`` side counts, a key present on
    one side only is INSERTED/DELETED (once per row of that side), and
    a key present on both is compared column by column — an UPDATED
    pair, or NOT_MODIFIED (dropped unless ``include_unchanged``)."""
    # Output column order: after-side order, then before-only columns —
    # the union of both schemas so dropped/added columns still render.
    value_cols = list(a_types) + [c for c in b_types if c not in a_types]
    schema_drift = b_types.keys() != a_types.keys()
    all_types = {**b_types, **a_types}
    conflict = {c for c in b_types if c in a_types and b_types[c] != a_types[c]}

    def row_struct(tag: str, types: dict[str, str]) -> str:
        """One side's output row: keys from the match, missing-on-this-side
        columns as typed NULLs, type-conflicting columns unified to string."""
        fields = []
        for c in value_cols:
            if c not in types:
                col = f"CAST(NULL AS {all_types[c]})"
            else:
                col = ident(c) if c in key_cols else f"{tag}.{ident(c)}"
                if c in conflict:
                    col = f"CAST({col} AS STRING)"
            fields.append(f"{col} AS {ident(c)}")
        return f"struct({', '.join(fields)})"

    def cmp_col(tag: str, c: str) -> str:
        col = f"{tag}.{ident(c)}"
        if c in conflict:
            # cross-side type conflict: compare the same string
            # rendering the output carries — implicit numeric
            # coercion would hide real changes (1 vs '1.00')
            return f"CAST({col} AS STRING)"
        # unorderable value types (map/variant) cannot feed `<=>`
        # directly; compare a canonical rendering instead (the output
        # still carries the native value)
        return _canonical_comparable(col, b_types[c])

    def col_changed(c: str) -> str:
        if tolerance and c in tolerance:
            # within-epsilon ⇒ unchanged; null semantics match `<=>`
            # (null≡null unchanged, null-vs-value changed).  The abs/<=
            # are plain IEEE ops — deterministic on any engine.
            bc, ac = f"__b.{ident(c)}", f"__a.{ident(c)}"
            near = f"abs({bc} - {ac}) <= {_number_lit(tolerance[c])}"
            if b_types[c] in ("float", "double"):
                # NaN≡NaN is unchanged under the exact comparator (both
                # engines' null-safe equality treats NaN as equal to
                # itself); abs(NaN−NaN)≤eps is false, so without this
                # clause adding a tolerance would FLIP such rows to
                # changed — tolerance must only ever mask changes
                near = f"{near} OR (isnan({bc}) AND isnan({ac}))"
            close = f"{bc} IS NOT NULL AND {ac} IS NOT NULL AND ({near})"
            return f"NOT (({bc} IS NULL AND {ac} IS NULL) OR ({close}))"
        return f"NOT ({cmp_col('__b', c)} <=> {cmp_col('__a', c)})"

    # keys matched null-safely ⇒ never modified; ignored columns are
    # excluded from the comparator entirely (output still carries them)
    _skip = set(key_cols) | set(ignore_columns or [])
    compared_cols = [c for c in a_types if c in b_types and c not in _skip]
    value_compares = [col_changed(c) for c in compared_cols]

    if not include_unchanged and not schema_drift:
        # Drop the unchanged majority (at scale, nearly every matched
        # key) with a flat OR over the per-column comparisons.
        # Filtering on diff_status instead would push the whole
        # modified_columns ARRAY construction into the filter (Catalyst
        # inlines it through the projection), making every matched row
        # pay the array allocation twice; the OR chain allocates nothing
        # and short-circuits on the first difference.
        matched = matched.filter(
            _or_all(["__b_n = 0", "__a_n = 0", _or_all(value_compares)])
        )

    if schema_drift:
        # Reference: column-set change ⇒ every column marked modified and
        # the row counted as UPDATED (extract_data.go:162-171), so no
        # matched row is NOT_MODIFIED and the pre-filter above is moot.
        changed_array = f"array({', '.join(string_lit(c) for c in value_cols)})"
    else:
        changed_array = _modified_array(value_compares, compared_cols)
    modified = (
        f"CASE WHEN __b_n > 0 AND __a_n > 0 THEN {changed_array} ELSE {_EMPTY_NAMES} END"
    )
    status = (
        f"CASE WHEN __b_n = 0 THEN {_INSERTED} "
        f"WHEN __a_n = 0 THEN {_DELETED} "
        f"WHEN size(modified_columns) > 0 THEN {_UPDATED} "
        f"ELSE {_NOT_MODIFIED} END"
    )
    classified = matched.selectExpr(
        f"{modified} AS modified_columns",
        f"{row_struct('__b', b_types)} AS __b_row",
        f"{row_struct('__a', a_types)} AS __a_row",
        "__b_n",
        "__a_n",
    ).selectExpr("*", f"{status} AS diff_status")
    # an exclusive side renders once per row it holds (all-columns keys
    # without dedup keep multiplicities); NOT_MODIFIED renders the after
    # row once
    pair = (
        f"CASE WHEN diff_status = {_UPDATED} THEN array({_BEFORE_ROW}, {_AFTER_ROW}) "
        f"WHEN diff_status = {_DELETED} THEN array_repeat({_BEFORE_ROW}, __b_n) "
        f"WHEN diff_status = {_INSERTED} THEN array_repeat({_AFTER_ROW}, __a_n) "
        f"ELSE array({_AFTER_ROW}) END"
    )
    return DiffResult(
        df=_explode_pairs(classified, pair, value_cols),
        key_columns=list(key_cols),
        value_columns=value_cols,
    )


def diff_tables(
    before: DataFrame,
    after: DataFrame,
    key_cols: list[str],
    mode: DiffMode = DiffMode.STRING,
    include_unchanged: bool = False,
    dedup_keys: bool = False,
    null_safe_keys: bool = True,
    tolerance: dict[str, float] | None = None,
    ignore_columns: list[str] | None = None,
) -> DiffResult:
    """Diff two snapshots of one table, keyed on ``key_cols``.

    ``tolerance`` maps numeric non-key column names to an absolute
    epsilon: matched rows whose values differ by at most the epsilon
    count as unchanged in that column (the migration-validation
    convention — float churn from ETL rewrites shouldn't page anyone).
    Null-vs-null stays unchanged, null-vs-value stays a change.  TYPED
    mode only: STRING mode compares renderings, where numeric closeness
    is meaningless.

    ``ignore_columns`` excludes non-key columns from the comparator
    entirely (the audit-churn convention: ``updated_at``/``etl_batch``
    columns change on every rewrite without meaning anything).  Ignored
    columns still appear in the OUTPUT rows — consumers see the
    values — but never in ``modified_columns``, and a row differing
    only in ignored columns is NOT_MODIFIED (dropped).  Under schema
    drift the reference's all-modified semantics win (every column
    marked, ignored or not).

    Returns a DataFrame with schema
    ``diff_status string, is_before boolean, modified_columns
    array<string>, <all value columns>`` where UPDATED rows appear as a
    before/after pair (before first — the sink contract the reference's
    Excel writer relies on, ``cmd/dbdiff/main.go:224-232``), DELETED rows
    carry before values, INSERTED rows carry after values.

    ``key_cols`` may be every column of the table — the reference's
    fallback for tables with no primary key (``dbutil.go:136-141``); the
    diff then degenerates to keyed symmetric difference (no UPDATED).
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty (no-PK tables key on all columns)")
    for k in key_cols:
        if k not in before.columns or k not in after.columns:
            raise ValueError(f"key column {k!r} missing from before/after")
    if tolerance:
        if mode != DiffMode.TYPED:
            raise ValueError("tolerance requires mode=DiffMode.TYPED")
        _numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
        bt, at = dict(before.dtypes), dict(after.dtypes)
        for c, eps in tolerance.items():
            if c in key_cols:
                raise ValueError(f"tolerance column {c!r} cannot be a key column")
            if c not in bt or c not in at:
                raise ValueError(f"tolerance column {c!r} missing from a side")
            if not (
                bt[c] == at[c]
                and (bt[c] in _numeric or bt[c].startswith("decimal"))
            ):
                raise ValueError(
                    f"tolerance column {c!r} must be the same numeric type "
                    f"on both sides (got {bt[c]!r}/{at[c]!r})"
                )
            if eps < 0:
                raise ValueError(f"tolerance for {c!r} must be >= 0")
    if ignore_columns:
        for c in ignore_columns:
            if c in key_cols:
                raise ValueError(f"ignore column {c!r} cannot be a key column")
            if c not in before.columns and c not in after.columns:
                raise ValueError(f"ignore column {c!r} missing from both sides")
            if tolerance and c in tolerance:
                raise ValueError(f"column {c!r} cannot be both ignored and toleranced")
    # diffing a table that carries the diff's OWN column names (e.g. an
    # audit table a sink wrote back into the source DB) must not clash
    # with the classification columns this function appends
    (before, after), key_cols, _renamed = _shield_reserved(
        [before, after], key_cols, ("diff_status", "is_before", "modified_columns")
    )
    if tolerance and _renamed:
        tolerance = {_renamed.get(c, c): eps for c, eps in tolerance.items()}
    if ignore_columns and _renamed:
        ignore_columns = [_renamed.get(c, c) for c in ignore_columns]
    if mode == DiffMode.TYPED:
        # Join/group/dedup on an unorderable KEY type is unsupported by
        # Spark itself (maps cannot be hashed or compared); STRING mode
        # normalizes every column to its rendering first, which is the
        # supported path for such tables.
        key_types = {c: t for c, t in before.dtypes + after.dtypes if c in key_cols}
        bad = sorted(k for k, t in key_types.items() if not _is_orderable(t))
        if bad:
            raise ValueError(
                f"key columns {bad} have unorderable types (map/variant); "
                "diff such tables with mode=DiffMode.STRING"
            )

    # elected on the inputs as given (file bytes for parquet sources, the
    # units of both bounds), before STRING mode renders them
    one_task = _one_task(_input_bytes([before, after]))
    if mode == DiffMode.STRING:
        before = normalize_to_strings(before)
        after = normalize_to_strings(after)

    b_types, a_types = dict(before.dtypes), dict(after.dtypes)
    # One matcher per shape.  The fold serves every null-safe
    # deduplicating diff and the all-columns key (presence under dedup,
    # multiplicities without), off one exchange.  The full outer join
    # keeps the three shapes only it plans correctly or exchange-free:
    # a non-deduplicating declared key (duplicate keys cross-match
    # m×n), plain-equality keys (exchange-free over snapshots bucketed
    # by key) and include_unchanged without dedup (m×n NOT_MODIFIED).
    # Either matcher runs as one task when the inputs are small.
    all_columns_key = set(key_cols) == set(b_types) == set(a_types)
    if (dedup_keys and null_safe_keys) or (all_columns_key and not include_unchanged):
        matched = _fold(
            [(before, "__b", b_types), (after, "__a", a_types)],
            key_cols,
            one_task,
            multiplicities=not dedup_keys,
        )
    else:
        if dedup_keys:
            before = _last_wins(before, key_cols, one_task)
            after = _last_wins(after, key_cols, one_task)
        matched = _full_outer_match(
            before, after, key_cols, b_types, a_types, null_safe_keys, one_task
        )
    return _classify(
        matched, key_cols, b_types, a_types, include_unchanged, tolerance, ignore_columns
    )


def apply_diff(
    base: DataFrame,
    diff_df: DataFrame,
    key_cols: list[str],
    broadcast_changes: bool = True,
    target_cols: list[str] | None = None,
) -> DataFrame:
    """Reconstruct the *after* snapshot from the *before* snapshot plus a
    diff — the consumer side of the engine: ``apply_diff(b, diff(b, a))``
    is row-for-row equal to ``a`` (the round-trip law the driver query
    ``diff_roundtrip_apply`` and ``tests/test_diff.py`` pin down).

    The reference only ever *reports* diffs; applying one is the natural
    completion (CDC apply / incremental materialization): drop every key
    the diff DELETEs or UPDATEs, then union in the INSERTED and
    UPDATED-after rows.

    Scale shape: in incremental maintenance the changeset is orders of
    magnitude smaller than the base, so with ``broadcast_changes`` the
    removed-key set ships to every executor and the base table never
    shuffles — the whole apply is a map-side anti probe plus a union.
    Set ``broadcast_changes=False`` for pathological diffs comparable in
    size to the base (falls back to a shuffled anti join on the key).

    The apply is an UPSERT, deliberately: EVERY key the diff touches —
    including INSERTED — is dropped from the base before the add-side
    union.  On a consistent diff that is a no-op (inserted keys are
    absent from the base by definition), but it makes re-applying the
    same changeset idempotent — the property an at-least-once streaming
    consumer (``streaming.cdc.stream_apply_cdc``) needs when a
    micro-batch retries after a partial failure.

    **Schema evolution**: a diff produced under schema drift carries the
    UNION of both schemas (missing-side columns as typed NULLs) and
    marks every matched row UPDATED, so the after state is entirely
    reconstructable — but only into the right column set.  Pass
    ``target_cols`` = the after side's columns to materialize across a
    migration: added columns come from the diff rows; dropped columns
    are simply not selected.  A base row that survives the anti join
    but lacks an added column projects it as a typed NULL (unreachable
    under full drift — every matched row is in the diff — but keeps the
    apply total for partial/manual diffs).  Default (None) keeps the
    identical-schema behavior: reconstruct in the base's own columns.
    """
    cols = list(target_cols) if target_cols is not None else base.columns
    removed = diff_df.filter(
        (F.col("diff_status") != UPDATED) | F.col("is_before")
    ).select(*[ident(k) for k in key_cols])
    added = diff_df.filter(
        (F.col("diff_status") == INSERTED)
        | ((F.col("diff_status") == UPDATED) & ~F.col("is_before"))
    ).select(*[ident(c) for c in cols])
    b = base.alias("__base")
    r = (F.broadcast(removed) if broadcast_changes else removed).alias("__rm")
    cond = reduce(
        lambda acc, c: acc & c,
        [
            F.col(f"__base.{ident(k)}").eqNullSafe(F.col(f"__rm.{ident(k)}"))
            for k in key_cols
        ],
    )
    base_cols = set(base.columns)
    diff_types = dict(diff_df.dtypes)
    kept = b.join(r, cond, "left_anti").select(
        *[
            F.col(ident(c))
            if c in base_cols
            else F.lit(None).cast(diff_types.get(c, "string")).alias(c)
            for c in cols
        ]
    )
    return kept.unionByName(added)


# Threshold units are the OPTIMIZER'S estimate — compressed leaf-file
# bytes for parquet sources, typically 5-10× smaller than in-memory row
# volume.  Calibrated by A/B at two scales on local[32] (r4): combined
# estimate ~21 MB (600k lineitem rows) → one_pass wins 2×; ~91 MB (6M
# rows) → hash_first wins 1.3× (13.7 s vs 18.1 s).  64 MiB sits just
# under the measured crossover; electing hash_first early is the safe
# direction (it is the only shape that survives at 100 TB).
MULTISET_ONE_PASS_MAX_BYTES = 64 * 1024**2

# At most this combined estimate, every matcher plans as ONE task: its
# input coalesces to one partition, which satisfies the aggregate's and
# the sort-merge join's required distribution, so Spark plans no
# exchange and no map-stage job.  Calibrated on local[4] by
# ``tools/probe_diff_scale.py --crossover`` (first-N-row cuts of sf0.1's
# lineitem, STRING ``diff_snapshots`` plus the console sink after a few
# dozen edits, min of 3 warm reps; the estimate is the one this
# election sees, of the inputs before STRING rendering), exchange → one
# task: 0.21 MiB 0.80 → 0.61 s, 0.39 MiB 0.74 → 0.46 s, 0.56 MiB 0.56 →
# 0.48 s, 0.73 MiB 0.51 → 0.41 s, 0.89 MiB 0.51 → 0.51 s, 1.20 MiB
# 0.55 → 0.53 s, 1.51 MiB 0.56 → 0.71 s, 3.78 MiB 0.93 → 1.03 s,
# 20.4 MiB 3.91 → 6.05 s.  One task stops paying at ~0.9-1.2 MiB and
# loses above, where it serializes work the exchange spreads over the
# cores; 512 KiB sits under that crossover and covers every table of a
# small test database.
DIFF_ONE_TASK_MAX_BYTES = 512 * 1024


def _estimated_bytes(df: DataFrame) -> int | None:
    """Optimizer size estimate for a frame (sum of leaf file sizes for
    file sources), or ``None`` when no estimate is obtainable — e.g. no
    JVM gateway (Spark Connect) or a source with unknown stats (Spark
    then reports ``defaultSizeInBytes`` = Long.Max-ish, which we treat
    as unknown rather than huge-but-known)."""
    try:
        raw = (
            df._jdf.queryExecution()  # type: ignore[attr-defined]
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
        # py4j converts scala BigInt to int; older bridges hand back a
        # JavaObject whose str() is the decimal rendering
        size = raw if isinstance(raw, int) else int(str(raw))
    except Exception:
        return None
    return size if 0 <= size < 2**62 else None


def _input_bytes(frames: list[DataFrame]) -> int | None:
    """The diff's combined input estimate: the sum of
    :func:`_estimated_bytes` over its inputs, ``None`` if any input
    has none."""
    total = 0
    for df in frames:
        size = _estimated_bytes(df)
        if size is None:
            return None
        total += size
    return total


def _one_task(total: int | None) -> bool:
    """The one-task gate every diff matcher shares, on the combined
    estimate from :func:`_input_bytes`: at most DIFF_ONE_TASK_MAX_BYTES.
    A missing estimate never elects one task.  Logs the estimate and the
    plan shape at DEBUG, so a slow diff traces to its plan shape."""
    one_task = total is not None and total <= DIFF_ONE_TASK_MAX_BYTES
    _log.debug(
        "diff inputs estimated at %s bytes: %s",
        total,
        "one task" if one_task else "exchange",
    )
    return one_task


def _single_task(df: DataFrame, one_task: bool) -> DataFrame:
    """``df`` as one partition under ``one_task``: its ``SinglePartition``
    output satisfies any aggregate's or sort-merge join's required
    distribution, so no exchange is planned above it."""
    return df.coalesce(1) if one_task else df


def diff_multiset(before: DataFrame, after: DataFrame) -> DataFrame:
    """Count-preserving (multiset) diff — the semantically correct diff
    for tables with no usable key (SURVEY §7.3.4): group both sides by
    ALL columns, compare multiplicities.

    Output: every distinct row whose count changed, with
    ``n_before, n_after, diff_status (INSERTED|DELETED), n_rows = |Δ|``.
    A row present 3× before and 1× after is DELETED with n_rows=2 —
    information the reference's last-wins keyed map silently destroys.

    Both regimes group by a 128-bit row fingerprint (two independently
    salted xxhash64s); a masked change needs a ~2^-128-per-pair double
    collision (no adversarial inputs constructible without the salt
    split; the keyed diff is available when certainty is required).
    The optimizer's size estimate of the two inputs elects one — the
    size-threshold mechanism Spark uses to elect broadcast joins (the
    shared :func:`_input_bytes`):

    * ``one_pass``, at most ``MULTISET_ONE_PASS_MAX_BYTES`` combined
      (an ESTIMATE — compressed file bytes; see the constant's
      calibration note): single scan, single shuffle, the aggregation
      carrying one representative ``struct`` of the row values per
      fingerprint — and no shuffle at all, one task, at most
      ``DIFF_ONE_TASK_MAX_BYTES`` combined.  Measured 2× faster than
      hash_first at sf0.1 on local[32]; wrong at 100 TB, where map-side
      combine cannot collapse across sides/files and the shuffle
      reverts to full data volume.
    * ``hash_first``, above the bound or when either estimate is
      unavailable (the 100 TB shape, so the election degrades
      conservatively): the heavy aggregation shuffles ~24 bytes/row
      instead of the full row — at 100 TB the difference between
      shuffling 100 TB and ~2 TB.  Row values are then recovered by
      probing the (diff-sized) changed-fingerprint set as a broadcast
      semi-join on a second scan — no second shuffle of data.  The
      rescan is the deliberate price of the light shuffle; persisting
      the fingerprinted projection instead was measured SLOWER at sf0.1
      (2.9s vs 1.8s — cache materialization exceeds the rescan) and is
      a non-starter at 100 TB (it would spool the full input to
      executor storage).  Measured 1.3× faster than one_pass at 6M
      rows.
    """
    total = _input_bytes([before, after])
    hash_first = total is None or total > MULTISET_ONE_PASS_MAX_BYTES
    _log.debug("diff_multiset: %s", "hash_first" if hash_first else "one_pass")
    # see diff_tables: inputs carrying the output/internal column names
    # (diff-audit tables fed back through the engine) must be shielded —
    # here a colliding `diff_status` would be silently REPLACED by
    # withColumn, corrupting data rather than erroring
    (before, after), _keys, _renamed = _shield_reserved(
        [before, after],
        [],
        ("diff_status", "n_before", "n_after", "n_rows"),
    )
    cols = before.columns
    if set(after.columns) != set(cols):
        # column drift has no meaningful multiset semantics — refuse
        # loudly rather than silently comparing a projection
        raise ValueError(
            "diff_multiset requires identical column sets; "
            f"before-only={sorted(set(cols) - set(after.columns))} "
            f"after-only={sorted(set(after.columns) - set(cols))}"
        )
    value_cols = [F.col(ident(c)) for c in cols]
    if after.columns != cols:
        after = after.select(*value_cols)
    tagged = before.withColumn("__side", F.lit(0)).unionByName(
        after.withColumn("__side", F.lit(1))
    )

    def finish(grouped: DataFrame) -> DataFrame:
        return (
            grouped.filter(F.col("n_before") != F.col("n_after"))
            .withColumn(
                "diff_status",
                F.when(
                    F.col("n_after") > F.col("n_before"), F.lit(INSERTED)
                ).otherwise(F.lit(DELETED)),
            )
            .withColumn("n_rows", F.abs(F.col("n_after") - F.col("n_before")))
        )

    fp = [
        F.xxhash64(*value_cols).alias("__h1"),
        F.xxhash64(F.lit("dbdiff_multiset_salt"), *value_cols).alias("__h2"),
    ]
    if not hash_first:
        grouped = (
            _single_task(
                tagged.select(*fp, "__side", F.struct(*value_cols).alias("__row")),
                _one_task(total),
            )
            .groupBy("__h1", "__h2")
            .agg(
                F.count_if(F.col("__side") == 0).alias("n_before"),
                F.count_if(F.col("__side") == 1).alias("n_after"),
                F.any_value("__row").alias("__row"),
            )
            .filter(F.col("n_before") != F.col("n_after"))
            .select(
                *[F.col(f"__row.{ident(c)}").alias(c) for c in cols],
                "n_before",
                "n_after",
            )
        )
        return finish(grouped)
    changed = (
        tagged.select(*fp, "__side")
        .groupBy("__h1", "__h2")
        .agg(
            F.count_if(F.col("__side") == 0).alias("n_before"),
            F.count_if(F.col("__side") == 1).alias("n_after"),
        )
        .filter(F.col("n_before") != F.col("n_after"))
    )
    # second scan: recover the row values for changed fingerprints only;
    # dropDuplicates collapses the (diff-sized) probe hits to one row
    # per distinct content — tiny relative to the inputs by definition
    probed = (
        tagged.select(*value_cols, *fp)
        .join(F.broadcast(changed), ["__h1", "__h2"])
        .dropDuplicates(["__h1", "__h2"])
        .drop("__h1", "__h2")
    )
    return finish(probed)


def diff_summary(diff_df: DataFrame, group_extra: list[str] | None = None) -> DataFrame:
    """Per-status change counts (reference's only aggregate, generalized —
    ``extract_data.go:23`` counts records; we count by classification).

    UPDATED pairs count once (the before/after rows are two renderings of
    one logical change), matching a human reading of the report.
    """
    extra = group_extra or []
    dedup = diff_df.filter(~F.col("is_before") | (F.col("diff_status") == DELETED))
    return (
        dedup.groupBy(*extra, "diff_status")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(*extra, "diff_status")
    )


def ordered_output(result: DiffResult) -> DataFrame:
    """Deterministic rendering order: key columns, then before-first
    within an UPDATED pair (reference relies on nondeterministic map
    order — SURVEY §1.5.4; we fix that)."""
    return result.df.orderBy(
        *[ident(k) for k in result.key_columns], F.desc("is_before")
    )


# --- three-way merge (diff3) -------------------------------------------------

MERGE_OURS = "OURS"
MERGE_THEIRS = "THEIRS"
MERGE_BOTH_SAME = "BOTH_SAME"
MERGE_CONFLICT = "CONFLICT"


def diff3_tables(
    base: DataFrame,
    ours: DataFrame,
    theirs: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Three-way snapshot merge with conflict detection — the natural
    extension of the reference's two-snapshot REPL (`cmd/dbdiff/main.go:
    62-87`) to two environments that diverged from a common base.

    Per key (unchanged keys are dropped):

    * changed only in ours            → ``OURS``      (merged = ours)
    * changed only in theirs          → ``THEIRS``    (merged = theirs)
    * both changed, identically       → ``BOTH_SAME`` (merged = ours)
    * both changed, differently       → ``CONFLICT``  — emitted as an
      ours/theirs row PAIR (mirroring the reference's UPDATED
      before/after pair rendering, extract_data.go:213-234)

    "Changed" covers deletes and inserts; a merged delete carries
    ``deleted = true`` with NULL value columns.  Duplicate keys collapse
    last-wins per side, as in the deduplicating keyed diff.

    Scale shape: ONE shuffle — the three-side :func:`_fold` (no FOJ
    chain, so there is no second exchange and NULL keys group naturally
    without null-safe join rewrites); none at all when the size
    election picks ``one_task``.  Classification and the conflict
    pair expansion are narrow projections on changed keys only.
    """
    for df, name in ((ours, "ours"), (theirs, "theirs")):
        if df.columns != base.columns:
            raise ValueError(
                f"diff3 requires identical schemas; {name} differs from base"
            )
    types = dict(base.dtypes)
    val_cols = [c for c in types if c not in key_cols]
    keys = [ident(k) for k in key_cols]
    sides = [(base, "__b", types), (ours, "__o", types), (theirs, "__t", types)]
    one_task = _one_task(_input_bytes([base, ours, theirs]))
    folded = _fold(sides, key_cols, one_task)

    def differs(x: str, y: str) -> str:
        cols = [
            f"NOT ({_canonical_comparable(f'{x}.{ident(c)}', types[c])} <=> "
            f"{_canonical_comparable(f'{y}.{ident(c)}', types[c])})"
            for c in val_cols
        ]
        return f"({x}_n != {y}_n) OR ({x}_n = 1 AND {y}_n = 1 AND ({_or_all(cols)}))"

    ours_l, theirs_l, same_l, conflict_l = (
        string_lit(s) for s in (MERGE_OURS, MERGE_THEIRS, MERGE_BOTH_SAME, MERGE_CONFLICT)
    )
    classified = (
        folded.selectExpr(
            "*", f"{differs('__o', '__b')} AS __co", f"{differs('__t', '__b')} AS __ct"
        )
        .filter("__co OR __ct")
        .selectExpr(
            "*",
            f"CASE WHEN __co AND NOT __ct THEN {ours_l} "
            f"WHEN __ct AND NOT __co THEN {theirs_l} "
            f"WHEN NOT ({differs('__o', '__t')}) THEN {same_l} "
            f"ELSE {conflict_l} END AS merge_status",
        )
    )

    def out_row(side: str, tag: str) -> str:
        vals = "".join(f", {tag}.{ident(c)} AS {ident(c)}" for c in val_cols)
        return f"struct({string_lit(side)} AS side, {tag}_n = 0 AS deleted{vals})"

    rows = (
        f"CASE WHEN merge_status = {conflict_l} "
        f"THEN array({out_row('ours', '__o')}, {out_row('theirs', '__t')}) "
        f"WHEN merge_status = {theirs_l} THEN array({out_row('merged', '__t')}) "
        f"ELSE array({out_row('merged', '__o')}) END"
    )
    return classified.selectExpr(
        *keys, "merge_status", f"explode({rows}) AS __r"
    ).selectExpr(
        *keys,
        "merge_status",
        "__r.side AS side",
        "__r.deleted AS deleted",
        *[f"__r.{ident(c)} AS {ident(c)}" for c in val_cols],
    )


# --- sampled diff estimation -------------------------------------------------

EST_HASH_HEX = 12  # 48-bit key-hash domain (shared with the KMV sketches)
EST_HASH_DOMAIN = 16**EST_HASH_HEX


def _key_sample_hash(key_cols: list[str]) -> Column:
    """48-bit md5 hash of the (separator-joined) key rendering — the
    same deterministic value on both engines, so a sample drawn by
    thresholding it is CORRELATED: a key is in the sample on both
    sides or on neither."""
    return F.expr(
        f"CAST(conv(substr(md5(concat_ws('\\u001f', "
        + ", ".join(f"CAST({ident(c)} AS STRING)" for c in key_cols)
        + f")), 1, {EST_HASH_HEX}), 16, 10) AS BIGINT)"
    )


def estimate_diff_counts(
    before: DataFrame,
    after: DataFrame,
    key_cols: list[str],
    rate_inv: int = 16,
    mode: DiffMode = DiffMode.TYPED,
) -> DataFrame:
    """Estimated INSERTED/DELETED/UPDATED counts from a 1/``rate_inv``
    correlated key sample — the tiered-diff first pass at 100 TB: scan
    both sides once, filter to ~1/16 of the KEYS (same keys both sides,
    by hashing), classify only the sample, scale the counts.  Decides
    whether the full diff is worth running — the same role the
    manifest-based ``estimate_changes`` plays for tracked snapshots,
    but requiring nothing of how the inputs were written.

    Unbiased per status because sampling is per-KEY (a key's whole
    before/after group is in or out together), exactly the correlated-
    sampling argument of ``join_size_estimate``.

    Duplicate declared keys collapse last-wins (``dedup_keys=True``) —
    the same semantics ``diff_snapshots`` applies, and required for the
    invariant that identical inputs estimate ZERO changes (without it,
    cross-matching duplicate keys fabricates UPDATED rows; caught by a
    CLI drive where an unchanged lineitem "estimated" 3184 updates).
    """
    if rate_inv < 1:
        raise ValueError("rate_inv must be >= 1")
    tau = EST_HASH_DOMAIN // rate_inv
    sb = before.filter(_key_sample_hash(key_cols) < tau)
    sa = after.filter(_key_sample_hash(key_cols) < tau)
    res = diff_tables(sb, sa, key_cols, mode=mode, dedup_keys=True)
    one_per_key = res.df.filter(
        ~F.col("is_before") | (F.col("diff_status") == DELETED)
    )
    agg = [
        F.coalesce(
            F.count_if(F.col("diff_status") == status) * rate_inv, F.lit(0)
        ).alias(f"est_{status.lower()}")
        for status in (INSERTED, DELETED, UPDATED)
    ]
    return one_per_key.agg(
        F.count(F.lit(1)).alias("n_sample_changes"), *agg
    )
