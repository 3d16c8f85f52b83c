"""Core diff operators — the reference engine's entire dataflow,
re-expressed as one Catalyst-planned full-outer join.

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
  SURVEY §1.5.1); we join on the composite key directly.
* NULL semantics (SURVEY §1.4): the reference renders NULL as the string
  ``"<NULL>"`` so NULL == NULL holds.  We use Spark's null-safe equality
  (``<=>``) — same observable behavior, no sentinel collision.

Scale notes (100 TB posture):

* The diff is ONE shuffle (exchange on the key columns) feeding a
  sort-merge join.  If the two snapshots are written bucketed-by-key
  (see ``snapshot.py``), the exchange disappears entirely and the diff
  is a zero-shuffle zip of co-located buckets.
* Skew posture (measured, r9 — tools/probe_diff_scale.py --skew):
  AQE's skew-join split does NOT apply to a FULL OUTER sort-merge join
  (OptimizeSkewedJoin fires for inner/left/right only — splitting a
  side of a FOJ would duplicate unmatched rows; pinned in
  tests/test_diff_skew.py).  The diff tier is skew-safe anyway, by
  construction rather than by runtime repair: the FOJ joins on a
  UNIQUE key (per-key cardinality 1×1, hash partitioning is uniform in
  the number of KEYS regardless of how pathological the key VALUE
  distribution is), and every non-unique-key shape — all-columns
  fallback, dedup_keys, multiset — routes through grouped aggregations
  whose map-side partial combine collapses a planted hot key before
  the exchange.
* Classification, per-column comparison and the UPDATED pair expansion
  are narrow projections (``when``/``array``/``explode``) that stay
  inside whole-stage codegen — no Python in the hot path.
* NOT_MODIFIED rows (the overwhelming majority at scale) are filtered
  *before* the explode, so the expansion only touches changed rows.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from enum import Enum
from functools import partial, reduce

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from dbdiff_spark.io import run_jobs
from dbdiff_spark.normalize import normalize_to_strings
from dbdiff_spark.sqltext import ident, string_lit

# Diff status labels (reference: extract_data.go:186-192 const block).
INSERTED = "INSERTED"
DELETED = "DELETED"
UPDATED = "UPDATED"
NOT_MODIFIED = "NOT_MODIFIED"

META_COLS = ["diff_status", "is_before", "modified_columns"]

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


def _side_tagged_union(
    before: DataFrame, after: DataFrame, cols: list[str]
) -> DataFrame:
    """``cols`` of both sides stacked, each row tagged ``__side`` 0
    (before) or 1 (after)."""
    sel = [ident(c) for c in cols]
    return before.selectExpr(*sel, "0 AS __side").unionByName(
        after.selectExpr(*sel, "1 AS __side")
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


def dedup_last_wins(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Collapse duplicate keys to ONE deterministic representative row.

    The reference silently overwrites on key collision — last scanned row
    wins (``extract_data.go:81``), which is scan-order-dependent.  We keep
    the max-by-remaining-columns row instead: same contract (one row per
    key), deterministic on any cluster.  One aggregation with map-side
    partial combine; shuffles on the same key as the downstream diff join
    so AQE/bucketing can reuse the exchange.

    Rows containing unorderable column types (maps, variant) cannot feed
    ``max(struct(...))`` — those tables instead rank duplicates by the
    STRING rendering of the non-key columns (unorderable ones cast for
    the sort key only; the surviving row keeps its native values) via a
    row_number window: still one shuffle on the join key, still
    deterministic for distinct rows (two different maps with an
    identical rendering tie arbitrarily, matching the reference's own
    nondeterminism only in that degenerate corner)."""
    others = [c for c in df.columns if c not in key_cols]
    if not others:
        return df.dropDuplicates(key_cols)
    types = dict(df.dtypes)
    keys = [ident(k) for k in key_cols]
    if all(_is_orderable(types[c]) for c in others):
        rep = ", ".join(ident(c) for c in others)
        packed = df.groupBy(*keys).agg(F.expr(f"max(struct({rep})) AS __rep"))
        return packed.selectExpr(
            *[
                ident(c) if c in key_cols else f"__rep.{ident(c)} AS {ident(c)}"
                for c in df.columns
            ]
        )
    order_by = ", ".join(
        (ident(c) if _is_orderable(types[c]) else f"CAST({ident(c)} AS STRING)")
        + " DESC NULLS LAST"
        for c in others
    )
    rn = f"row_number() OVER (PARTITION BY {', '.join(keys)} ORDER BY {order_by})"
    return df.selectExpr("*", f"{rn} AS __rn").filter("__rn = 1").drop("__rn")


def _diff_all_columns_key(
    before: DataFrame, after: DataFrame, value_cols: list[str]
) -> DiffResult:
    """Diff for tables keyed on ALL columns, as one grouped pass.

    Equivalence with the full-outer-join formulation: with every column
    in the key, a row's "key" is the whole row, so for a distinct row
    with multiplicity ``m`` before and ``n`` after the FOJ emits

    * ``m × n`` NOT_MODIFIED matches (dropped) when both sides have it,
    * ``m`` DELETED rows when it exists only before,
    * ``n`` INSERTED rows when it exists only after,

    and UPDATED is impossible (keys equal ⇒ all columns equal).  Exactly
    that is reproduced from per-side multiplicities: group the union of
    both sides by the full row (ONE shuffle, map-side combined, two
    longs of payload per group) and re-expand the exclusive side's
    count.  The FOJ plan needs two exchanges plus two sorts of the same
    rows; at 100 TB the saved exchange is the diff's dominant cost.
    NULL grouping values compare equal in groupBy — the same null-safe
    key semantics as the join formulation (SURVEY §1.4).
    """
    sel = [ident(c) for c in value_cols]
    counted = _side_tagged_union(before, after, value_cols).groupBy(*sel).agg(
        F.expr("count_if(__side = 0) AS __nb"), F.expr("count_if(__side = 1) AS __na")
    )
    out = (
        counted.filter("__nb = 0 OR __na = 0")
        .selectExpr(
            *sel,
            f"CASE WHEN __na = 0 THEN {_DELETED} ELSE {_INSERTED} END AS diff_status",
            "greatest(__nb, __na) AS __n",
        )
        .selectExpr("*", "explode(sequence(1, __n)) AS __i")
        .selectExpr(
            "diff_status",
            f"diff_status = {_DELETED} AS is_before",
            f"{_EMPTY_NAMES} AS modified_columns",
            *sel,
        )
    )
    return DiffResult(df=out, key_columns=list(value_cols), value_columns=value_cols)


def _diff_grouped_dedup(
    before: DataFrame, after: DataFrame, key_cols: list[str]
) -> DiffResult:
    """Dedup-last-wins + keyed diff as ONE grouped pass over the tagged
    union — the snapshot-diff hot path (``diff_snapshots`` always
    dedups).

    Per key group (groupBy treats NULL keys as one group — the same
    null-safe semantics as the ``<=>`` join):

    * each side's last-wins representative is ``max(struct(non-key
      cols))`` over that side's rows — identical to ``dedup_last_wins``;
      ``max`` ignores the other side's NULLed-out entries, and a
      struct of all-NULL fields is still non-NULL, so presence
      detection is exact,
    * a missing before-rep ⇒ INSERTED, missing after-rep ⇒ DELETED,
      both present ⇒ per-column null-safe compare ⇒ UPDATED pair or
      dropped as unchanged.

    One exchange total (both sides through the union), map-side
    partial aggregation, vs FOUR for dedup-aggregate-then-null-safe-FOJ
    (the aggregations hash-partition on raw keys, the rewritten join
    keys on (coalesce, isnull) tuples — incompatible distributions, so
    each side shuffled twice).  Caller gates semantics: same schema and
    types both sides, orderable non-key columns, no include_unchanged.
    """
    value_cols = list(after.columns)
    others = [c for c in value_cols if c not in key_cols]
    keys = [ident(k) for k in key_cols]
    rep_struct = f"struct({', '.join(ident(c) for c in others)})"
    grouped = _side_tagged_union(before, after, value_cols).groupBy(*keys).agg(
        F.expr(f"max(CASE WHEN __side = 0 THEN {rep_struct} END) AS __b"),
        F.expr(f"max(CASE WHEN __side = 1 THEN {rep_struct} END) AS __a"),
    )
    # drop the unchanged majority with a flat OR chain before any array
    # construction (same reasoning as the FOJ path's pre-filter)
    value_compares = [
        f"NOT (__b.{ident(c)} <=> __a.{ident(c)})" for c in others
    ]
    grouped = grouped.filter(
        _or_all(["__b IS NULL", "__a IS NULL", _or_all(value_compares)])
    )
    modified = (
        "CASE WHEN __b IS NOT NULL AND __a IS NOT NULL THEN "
        f"{_modified_array(value_compares, others)} ELSE {_EMPTY_NAMES} END"
    )

    def row_struct(rep_col: str) -> str:
        return "struct({})".format(
            ", ".join(
                ident(c) if c in key_cols else f"{rep_col}.{ident(c)} AS {ident(c)}"
                for c in value_cols
            )
        )

    classified = grouped.selectExpr(
        *keys,
        f"{modified} AS modified_columns",
        f"{row_struct('__b')} AS __b_row",
        f"{row_struct('__a')} AS __a_row",
        f"CASE WHEN __b IS NULL THEN {_INSERTED} WHEN __a IS NULL THEN {_DELETED} "
        f"ELSE {_UPDATED} END AS diff_status",
    )
    pair = (
        f"CASE WHEN diff_status = {_UPDATED} THEN array({_BEFORE_ROW}, {_AFTER_ROW}) "
        f"WHEN diff_status = {_DELETED} THEN array({_BEFORE_ROW}) "
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

    if mode == DiffMode.STRING:
        before = normalize_to_strings(before)
        after = normalize_to_strings(after)

    if dedup_keys:
        # Tables whose declared key is not actually unique (or no-PK
        # tables with fully duplicate rows) would cross-match in the
        # full-outer join; identical snapshots MUST diff empty.
        #
        # Preferred shape: ONE union-shuffle groupBy computing dedup AND
        # diff together.  Dedup-then-null-safe-FOJ costs FOUR exchanges —
        # the dedup aggregation partitions on the raw key columns while
        # Catalyst rewrites `<=>` join keys to (coalesce, isnull) pairs,
        # a partitioning the aggregation's exchange does not satisfy, so
        # every side shuffles twice.  groupBy is natively null-safe
        # (NULL keys form one group — exactly the `<=>` semantics), so
        # grouping the tagged union gives dedup + matching + classification
        # off a single exchange.  Kept to the cases whose semantics the
        # grouped form reproduces exactly; everything else (schema/type
        # drift, unorderable value types, bucketed plain-key joins,
        # include_unchanged) stays on the FOJ.
        # ordered equality: the last-wins representative is max over a
        # struct built in column order, so differing orders would pick
        # differing representatives vs per-side dedup_last_wins
        types_agree = before.dtypes == after.dtypes
        grouped_ok = (
            null_safe_keys
            and not include_unchanged
            and not tolerance  # grouped comparator is exact-equality only
            and not ignore_columns  # grouped comparator compares every column
            and types_agree
            and set(key_cols) != set(before.columns)
            and all(
                _is_orderable(t)
                for c, t in before.dtypes
                if c not in key_cols
            )
        )
        if grouped_ok:
            return _diff_grouped_dedup(before, after, key_cols)
        before = dedup_last_wins(before, key_cols)
        after = dedup_last_wins(after, key_cols)

    b_cols, a_cols = list(before.columns), list(after.columns)
    # Output column order: after-side order, then before-only columns —
    # the union of both schemas so dropped/added columns still render.
    value_cols = a_cols + [c for c in b_cols if c not in set(a_cols)]
    common_cols = [c for c in a_cols if c in set(b_cols)]
    schema_drift = set(b_cols) != set(a_cols)

    if (
        not include_unchanged
        and set(key_cols) == set(b_cols) == set(a_cols)
    ):
        # All-columns key (the reference's no-PK fallback): the diff
        # degenerates to keyed symmetric difference, which ONE grouped
        # pass computes — vs. two exchanges plus a sort-merge FOJ.  See
        # _diff_all_columns_key for the exact FOJ-equivalence argument.
        return _diff_all_columns_key(before, after, value_cols)

    b_types = dict(before.dtypes)
    a_types = dict(after.dtypes)

    def side_struct(side: str, side_cols: list[str], alias: str) -> str:
        """A struct of every output value column for one join side,
        with missing-on-this-side columns as typed NULLs and
        type-conflicting columns unified to string."""
        fields = []
        for c in value_cols:
            if c in side_cols:
                col = f"{side}.{ident(c)}"
                if c in b_types and c in a_types and b_types[c] != a_types[c]:
                    col = f"CAST({col} AS STRING)"
            else:
                other_type = a_types.get(c, b_types.get(c, "string"))
                col = f"CAST(NULL AS {other_type})"
            fields.append(f"{col} AS {ident(c)}")
        return f"struct({', '.join(fields)}) AS {alias}"

    b = before.selectExpr("*", "true AS __b_present").alias("b")
    a = after.selectExpr("*", "true AS __a_present").alias("a")

    # null-safe ``<=>`` is still recognized by Catalyst as an equi-join
    # key, so the planner can pick sort-merge / shuffled-hash / broadcast
    # — this does NOT degrade to a nested-loop join.  Plain equality
    # keys are only valid when key columns are known non-null (the
    # declared-PK contract).  Catalyst rewrites `<=>` keys as
    # coalesce(k)/isnull(k), which does NOT line up with bucketed-table
    # output partitioning — the plain path keeps the join exchange-free
    # over snapshots bucketed by key.
    eq = "<=>" if null_safe_keys else "="
    cond = _chain("AND", [f"b.{ident(k)} {eq} a.{ident(k)}" for k in key_cols])
    joined = b.join(a, on=F.expr(cond), how="full_outer")

    both_present = "b.__b_present IS NOT NULL AND a.__a_present IS NOT NULL"

    def cmp_col(side: str, c: str) -> str:
        col = f"{side}.{ident(c)}"
        if b_types[c] != a_types[c]:
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
            bc, ac = f"b.{ident(c)}", f"a.{ident(c)}"
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
        return f"NOT ({cmp_col('b', c)} <=> {cmp_col('a', c)})"

    # keys matched null-safely ⇒ never modified; ignored columns are
    # excluded from the comparator entirely (output still carries them)
    _skip = set(key_cols) | set(ignore_columns or [])
    compared_cols = [c for c in common_cols if c not in _skip]
    value_compares = [col_changed(c) for c in compared_cols]

    if not include_unchanged and not schema_drift:
        # Drop the unchanged majority (at scale, nearly every matched
        # row) straight off the join with a flat OR over the per-column
        # comparisons.  Filtering on diff_status instead would push the
        # whole modified_columns ARRAY construction into the filter
        # (Catalyst inlines it through the projection), making every
        # joined row pay the array+lambda allocation twice; the OR chain
        # allocates nothing and short-circuits on the first difference.
        joined = joined.filter(
            _or_all(
                ["b.__b_present IS NULL", "a.__a_present IS NULL", _or_all(value_compares)]
            )
        )

    if schema_drift:
        # Reference: column-set change ⇒ every column marked modified and
        # the row counted as UPDATED (extract_data.go:162-171).
        changed_array = f"array({', '.join(string_lit(c) for c in value_cols)})"
    else:
        changed_array = _modified_array(value_compares, compared_cols)
    modified = f"CASE WHEN {both_present} THEN {changed_array} ELSE {_EMPTY_NAMES} END"

    status = (
        f"CASE WHEN __b_present IS NULL THEN {_INSERTED} "
        f"WHEN __a_present IS NULL THEN {_DELETED} "
        f"WHEN size(modified_columns) > 0 THEN {_UPDATED} "
        f"ELSE {_NOT_MODIFIED} END"
    )
    classified = joined.selectExpr(
        f"{modified} AS modified_columns",
        side_struct("b", b_cols, "__b_row"),
        side_struct("a", a_cols, "__a_row"),
        "b.__b_present AS __b_present",
        "a.__a_present AS __a_present",
    ).selectExpr("*", f"{status} AS diff_status")

    if not include_unchanged and schema_drift:
        # Under schema drift every matched row is UPDATED, so only the
        # matched/unmatched split matters; the cheap pre-filter above is
        # skipped and NOT_MODIFIED cannot occur — this filter is kept as
        # a semantic guard only.
        classified = classified.filter(f"diff_status != {_NOT_MODIFIED}")

    # include_unchanged mode: NOT_MODIFIED renders the after row once
    pair = (
        f"CASE WHEN diff_status = {_UPDATED} THEN array({_BEFORE_ROW}, {_AFTER_ROW}) "
        f"WHEN diff_status = {_DELETED} THEN array({_BEFORE_ROW}) "
        f"WHEN diff_status = {_INSERTED} THEN array({_AFTER_ROW}) "
        f"ELSE array({_AFTER_ROW}) END"
    )
    return DiffResult(
        df=_explode_pairs(classified, pair, value_cols),
        key_columns=list(key_cols),
        value_columns=value_cols,
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


MULTISET_ONE_PASS_MAX_BYTES_CONF = "spark.dbdiff.multiset.onePassMaxBytes"
# Threshold units are the OPTIMIZER'S estimate — compressed leaf-file
# bytes for parquet sources, typically 5-10× smaller than in-memory row
# volume.  Calibrated by A/B at two scales on local[32] (r4): combined
# estimate ~21 MB (600k lineitem rows) → one_pass wins 2×; ~91 MB (6M
# rows) → hash_first wins 1.3× (13.7 s vs 18.1 s).  64 MiB sits just
# under the measured crossover; electing hash_first early is the safe
# direction (it is the only shape that survives at 100 TB).
MULTISET_ONE_PASS_MAX_BYTES_DEFAULT = 64 * 1024**2


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


def _pick_multiset_strategy(before: DataFrame, after: DataFrame) -> str:
    """Size-based strategy election for ``diff_multiset(strategy="auto")``
    — Spark's own broadcast-threshold idiom applied to the full-row-vs-
    fingerprint shuffle trade.  Unknown size ⇒ the scale-safe shape."""
    try:
        threshold = int(
            before.sparkSession.conf.get(
                MULTISET_ONE_PASS_MAX_BYTES_CONF,
                str(MULTISET_ONE_PASS_MAX_BYTES_DEFAULT),
            )
        )
    except Exception:
        threshold = MULTISET_ONE_PASS_MAX_BYTES_DEFAULT
    b, a = _estimated_bytes(before), _estimated_bytes(after)
    if b is None or a is None or b + a > threshold:
        return "hash_first"
    return "one_pass"


def diff_multiset(
    before: DataFrame,
    after: DataFrame,
    hash_first: bool = True,
    strategy: str | None = None,
) -> DataFrame:
    """Count-preserving (multiset) diff — the semantically correct diff
    for tables with no usable key (SURVEY §7.3.4): group both sides by
    ALL columns, compare multiplicities.

    Output: every distinct row whose count changed, with
    ``n_before, n_after, diff_status (INSERTED|DELETED), n_rows = |Δ|``.
    A row present 3× before and 1× after is DELETED with n_rows=2 —
    information the reference's last-wins keyed map silently destroys.

    Three strategies, identical results (parity-tested):

    * ``hash_first`` (default — the 100 TB shape): the heavy
      aggregation runs over a 128-bit row fingerprint (two
      independently-salted xxhash64s), so the cluster-wide shuffle
      carries ~24 bytes/row instead of the full row — at 100 TB that is
      the difference between shuffling 100 TB and shuffling ~2 TB.  Row
      values are then recovered by probing the (diff-sized)
      changed-fingerprint set as a broadcast semi-join on a second scan
      — no second shuffle of data.  The rescan is the deliberate price
      of the light shuffle; persisting the fingerprinted projection
      instead was measured SLOWER at sf0.1 (2.9s vs 1.8s — cache
      materialization exceeds the rescan) and is a non-starter at
      100 TB (it would spool the full input to executor storage).
      A masked change needs a ~2^-128-per-pair double collision (no
      adversarial inputs constructible without the salt split; the
      keyed diff is available when certainty is required).
    * ``one_pass``: single scan, single shuffle — the aggregation
      carries one representative ``struct`` of the row values per
      fingerprint (any representative is THE row, same 2^-128 caveat).
      Fastest when the full-row shuffle fits comfortably (measured 2×
      faster than hash_first at sf0.1 on local[32]); wrong at 100 TB,
      where map-side combine cannot collapse across sides/files and the
      shuffle reverts to full data volume.
    * ``full_row``: exact one-shuffle full-row grouping — no hashing
      anywhere, collision probability exactly 0.  The certainty
      fallback.

    ``hash_first=False`` is back-compat shorthand for ``full_row``.

    * ``auto``: pick between ``one_pass`` and ``hash_first`` from the
      optimizer's size estimate of the two inputs — the same
      size-threshold mechanism Spark uses to elect broadcast joins.
      Below ``spark.dbdiff.multiset.onePassMaxBytes`` (default 64 MiB
      combined ESTIMATE — compressed file bytes; see the constant's
      calibration note) the full-row shuffle is comfortably local and
      ``one_pass``'s single scan wins (measured 2× at sf0.1); above it
      — or when either estimate is unavailable — the 24-byte/row
      ``hash_first`` shape wins (measured 1.3× at 6M rows) and is the
      only one that survives at 100 TB, so auto degrades
      conservatively.
    """
    if strategy is None:
        strategy = "hash_first" if hash_first else "full_row"
    if strategy not in ("auto", "hash_first", "one_pass", "full_row"):
        raise ValueError(f"unknown diff_multiset strategy: {strategy!r}")
    if strategy == "auto":
        strategy = _pick_multiset_strategy(before, after)
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

    if strategy == "full_row":
        return finish(
            tagged.groupBy(*value_cols).agg(
                F.count_if(F.col("__side") == 0).alias("n_before"),
                F.count_if(F.col("__side") == 1).alias("n_after"),
            )
        )

    fp = [
        F.xxhash64(*value_cols).alias("__h1"),
        F.xxhash64(F.lit("dbdiff_multiset_salt"), *value_cols).alias("__h2"),
    ]
    if strategy == "one_pass":
        grouped = (
            tagged.select(*fp, "__side", F.struct(*value_cols).alias("__row"))
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
    ``deleted = true`` with NULL value columns.

    Scale shape: ONE shuffle — the three tagged snapshots union and a
    single groupBy(key) folds each side into a fixed-size max(struct)
    buffer (the `_diff_grouped_dedup` pattern; no FOJ chain, so there is
    no second exchange and NULL keys group naturally without null-safe
    join rewrites).  Classification and the conflict pair expansion are
    narrow projections on changed keys only.
    """
    val_cols = [c for c in base.columns if c not in key_cols]
    for df, name in ((ours, "ours"), (theirs, "theirs")):
        if df.columns != base.columns:
            raise ValueError(
                f"diff3 requires identical schemas; {name} differs from base"
            )

    def tagged(df: DataFrame, side: int) -> DataFrame:
        return df.select(
            *key_cols,
            F.lit(side).alias("_side"),
            F.struct(*[F.col(c) for c in val_cols]).alias("_vals"),
        )

    unioned = (
        tagged(base, 0)
        .unionByName(tagged(ours, 1))
        .unionByName(tagged(theirs, 2))
    )
    folded = unioned.groupBy(*key_cols).agg(
        *[
            F.max(F.when(F.col("_side") == s, F.col("_vals"))).alias(n)
            for s, n in ((0, "_b"), (1, "_o"), (2, "_t"))
        ],
        *[
            F.max(F.when(F.col("_side") == s, F.lit(True)))
            .isNotNull()
            .alias(f"_p{n}")
            for s, n in ((0, "b"), (1, "o"), (2, "t"))
        ],
    )

    def differs(x: str, y: str, px: str, py: str) -> Column:
        col_diff = reduce(
            lambda acc, c: acc
            | ~F.col(f"{x}.{c}").eqNullSafe(F.col(f"{y}.{c}")),
            val_cols,
            F.lit(False),
        )
        return (F.col(px) != F.col(py)) | (F.col(px) & F.col(py) & col_diff)

    changed_o = differs("_o", "_b", "_po", "_pb")
    changed_t = differs("_t", "_b", "_pt", "_pb")
    same_ot = ~differs("_o", "_t", "_po", "_pt")

    classified = (
        folded.withColumn("_co", changed_o)
        .withColumn("_ct", changed_t)
        .filter(F.col("_co") | F.col("_ct"))
        .withColumn(
            "merge_status",
            F.when(F.col("_co") & ~F.col("_ct"), F.lit(MERGE_OURS))
            .when(F.col("_ct") & ~F.col("_co"), F.lit(MERGE_THEIRS))
            .when(same_ot, F.lit(MERGE_BOTH_SAME))
            .otherwise(F.lit(MERGE_CONFLICT)),
        )
    )

    def out_row(side_label: str, vals: str, present: str) -> Column:
        return F.struct(
            F.lit(side_label).alias("side"),
            (~F.col(present)).alias("deleted"),
            *[
                F.when(F.col(present), F.col(f"{vals}.{c}")).alias(c)
                for c in val_cols
            ],
        )

    winner_vals = F.when(
        F.col("merge_status") == MERGE_THEIRS, F.col("_t")
    ).otherwise(F.col("_o"))
    winner_present = F.when(
        F.col("merge_status") == MERGE_THEIRS, F.col("_pt")
    ).otherwise(F.col("_po"))
    rows = F.when(
        F.col("merge_status") == MERGE_CONFLICT,
        F.array(out_row("ours", "_o", "_po"), out_row("theirs", "_t", "_pt")),
    ).otherwise(
        F.array(
            F.struct(
                F.lit("merged").alias("side"),
                (~winner_present).alias("deleted"),
                *[
                    F.when(winner_present, winner_vals[c]).alias(c)
                    for c in val_cols
                ],
            )
        )
    )
    exploded = classified.select(
        *key_cols, "merge_status", F.explode(rows).alias("_r")
    )
    return exploded.select(
        *key_cols,
        "merge_status",
        F.col("_r.side").alias("side"),
        F.col("_r.deleted").alias("deleted"),
        *[F.col(f"_r.{c}").alias(c) for c in val_cols],
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
