"""Property-based diff test (SURVEY §5.2 item 4, via hypothesis):
for ANY base table and ANY disjoint mutation plan (inserts with fresh
keys, updates, deletes), the diff recovers exactly the mutated keys with
exactly the touched columns."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dbdiff_spark.diff import DELETED, INSERTED, UPDATED, DiffMode, diff_tables

KEYS = st.sets(st.integers(min_value=0, max_value=60), min_size=1, max_size=25)


@st.composite
def mutation_plan(draw):
    base_keys = sorted(draw(KEYS))
    n = len(base_keys)
    deletes = set(draw(st.sets(st.sampled_from(base_keys), max_size=n)))
    updatable = [k for k in base_keys if k not in deletes]
    if updatable:
        upd_a = set(draw(st.sets(st.sampled_from(updatable), max_size=len(updatable))))
        upd_b = set(draw(st.sets(st.sampled_from(updatable), max_size=len(updatable))))
    else:
        upd_a, upd_b = set(), set()
    inserts = set(draw(st.sets(st.integers(min_value=100, max_value=160), max_size=10)))
    return base_keys, deletes, upd_a, upd_b, inserts


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=mutation_plan())
def test_diff_recovers_any_mutation_exactly(spark, plan):
    base_keys, deletes, upd_a, upd_b, inserts = plan
    before = spark.createDataFrame(
        [(k, f"a{k}", f"b{k}") for k in base_keys], "id int, a string, b string"
    )
    after_rows = [
        (
            k,
            f"A{k}" if k in upd_a else f"a{k}",
            f"B{k}" if k in upd_b else f"b{k}",
        )
        for k in base_keys
        if k not in deletes
    ] + [(k, f"a{k}", f"b{k}") for k in sorted(inserts)]
    after = spark.createDataFrame(after_rows, "id int, a string, b string")

    res = diff_tables(before, after, ["id"], mode=DiffMode.TYPED)
    rows = res.df.collect()

    got = {}
    for r in rows:
        got.setdefault((r["id"], r["diff_status"]), []).append(r)

    expect_updated = {k for k in (upd_a | upd_b) if k not in deletes}
    assert {k for (k, s) in got if s == DELETED} == deletes
    assert {k for (k, s) in got if s == INSERTED} == inserts
    assert {k for (k, s) in got if s == UPDATED} == expect_updated
    for k in expect_updated:
        pair = got[(k, UPDATED)]
        assert len(pair) == 2
        expect_cols = (["a"] if k in upd_a else []) + (["b"] if k in upd_b else [])
        for r in pair:
            assert r["modified_columns"] == expect_cols


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


REGIMES = ["one_task", "exchange"]


def _assert_regime(df, regime):
    """The forced size-election regime shows in the plan: one task
    coalesces the matcher's input to one partition.  (Whether Spark
    then drops the exchange also rests on its own size estimate, which
    frames built from local rows lack; test_plans.py checks that on
    file sources.)"""
    assert ("Coalesce 1" in _plan(df)) == (regime == "one_task"), _plan(df)


# --- the fold against a Python model -----------------------------------------

_V = [0.0, 1.0, 1.25, 3.0]
_FOLD_SCHEMA = "id int, s string, v double, m map<string,int>, w int"


@st.composite
def fold_case(draw):
    """A mutation plan widened to every shape the fold serves: duplicate
    keys, a NULL key, a map column, schema or type drift, tolerance,
    ignore and include_unchanged.  Duplicates of a key differ in ``s``,
    the first non-key column, so the last-wins pick never ties."""
    base_keys, deletes, upd_a, upd_b, inserts = draw(mutation_plan())
    upd_m = draw(st.sets(st.sampled_from(base_keys), max_size=len(base_keys)))
    dups = draw(st.sets(st.sampled_from([*base_keys[:4], None]), max_size=3))
    dup_changed = draw(st.booleans())

    def row(k, s="a"):
        return (k, f"{s}{k}", _V[(k or 0) % 4], {"x": (k or 0) % 3}, (k or 0) % 5)

    before = [row(k) for k in base_keys] + [(None, "n", 1.0, None, None)]
    after = []
    for k in base_keys:
        if k in deletes:
            continue
        k_, s_, v_, m_, w_ = row(k)
        after.append((
            k_,
            f"A{k}" if k in upd_a else s_,
            v_ + (0.25 if k % 2 else 2.0) if k in upd_b else v_,
            {"x": k % 3, "y": 1} if k in upd_m else m_,
            w_,
        ))
    after += [row(k) for k in sorted(inserts)] + [(None, "n", 1.5, None, None)]
    for k in dups:
        before.append((k, "z", 3.0, {"y": 1}, 7))
        after.append((k, "z", 0.0, None, 7) if dup_changed else (k, "z", 3.0, {"y": 1}, 7))
    return {
        "before": before,
        "after": after,
        "drift": draw(st.sampled_from(["none", "drop_w", "add_x", "retype_w"])),
        "tolerance": draw(st.sampled_from([None, {"v": 0.5}])),
        "ignore": draw(st.sampled_from([None, ["s"]])),
        "include_unchanged": draw(st.booleans()),
    }


def _canon(x):
    return tuple(sorted(x.items())) if isinstance(x, dict) else x


def _diff_model(b_rows, a_rows, b_types, a_types, tolerance, ignore, include_unchanged):
    """Reference diff over Python rows keyed on ``id``: last-wins dedup
    (per side, max over the non-key values, NULL lowest), null-safe key
    matching, per-column comparison (type-conflicting columns as their
    string rendering, maps by content, tolerance as |delta| <= eps) and
    all-columns-modified under a column-set change."""
    value_cols = list(a_types) + [c for c in b_types if c not in a_types]
    drift = set(b_types) != set(a_types)
    conflict = {c for c in b_types if c in a_types and b_types[c] != a_types[c]}

    def order(x):
        return (0,) if x is None else (1, _canon(x))

    def dedup(rows, types):
        reps = {}
        for r in rows:
            d = dict(zip(types, r))
            rank = tuple(order(d[c]) for c in types if c != "id")
            if d["id"] not in reps or rank > reps[d["id"]][0]:
                reps[d["id"]] = (rank, d)
        return {k: d for k, (_, d) in reps.items()}

    def out(d, types):
        vals = []
        for c in value_cols:
            x = d.get(c) if c in types else None
            vals.append(None if x is None else str(x) if c in conflict else _canon(x))
        return tuple(vals)

    def changed(c, x, y):
        if c in conflict:
            x, y = (None if v is None else str(v) for v in (x, y))
        if tolerance and c in tolerance:
            if x is None or y is None:
                return (x is None) != (y is None)
            return abs(x - y) > tolerance[c]
        return _canon(x) != _canon(y)

    b, a = dedup(b_rows, b_types), dedup(a_rows, a_types)
    compared = [c for c in a_types if c in b_types and c != "id" and c not in (ignore or [])]
    rows = []
    for k in set(b) | set(a):
        if k not in a:
            rows.append(("DELETED", True, (), out(b[k], b_types)))
        elif k not in b:
            rows.append(("INSERTED", False, (), out(a[k], a_types)))
        else:
            mods = tuple(value_cols) if drift else tuple(
                c for c in compared if changed(c, b[k][c], a[k][c])
            )
            if mods:
                rows.append(("UPDATED", True, mods, out(b[k], b_types)))
                rows.append(("UPDATED", False, mods, out(a[k], a_types)))
            elif include_unchanged:
                rows.append(("NOT_MODIFIED", False, (), out(a[k], a_types)))
    return sorted(rows, key=repr)


@pytest.mark.parametrize("mode", [DiffMode.STRING, DiffMode.TYPED])
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=fold_case())
def test_fold_matches_python_model(spark, monkeypatch, mode, case):
    """Every null-safe deduplicating diff shape plans as the one fold (no
    join) and equals the Python model, in both size-election regimes.
    STRING mode models the diff of the string renderings
    (``normalize_to_strings``), where tolerance does not apply."""
    from conftest import force_diff_regime
    from pyspark.sql import functions as F

    from dbdiff_spark.normalize import normalize_to_strings

    before = spark.createDataFrame(case["before"], _FOLD_SCHEMA)
    after = spark.createDataFrame(case["after"], _FOLD_SCHEMA)
    drift = case["drift"]
    if drift == "drop_w":
        after = after.drop("w")
    elif drift == "add_x":
        after = after.withColumn("x", F.length("s"))
    elif drift == "retype_w":
        after = after.withColumn("w", F.col("w").cast("string"))
    tolerance = case["tolerance"] if mode == DiffMode.TYPED else None
    model_b, model_a = (
        (normalize_to_strings(before), normalize_to_strings(after))
        if mode == DiffMode.STRING
        else (before, after)
    )
    expected = _diff_model(
        [tuple(r) for r in model_b.collect()],
        [tuple(r) for r in model_a.collect()],
        dict(model_b.dtypes),
        dict(model_a.dtypes),
        tolerance,
        case["ignore"],
        case["include_unchanged"],
    )
    for regime in REGIMES:
        force_diff_regime(monkeypatch, regime)
        res = diff_tables(
            before, after, ["id"], mode=mode, dedup_keys=True,
            tolerance=tolerance, ignore_columns=case["ignore"],
            include_unchanged=case["include_unchanged"],
        )
        assert "Join" not in _plan(res.df)
        _assert_regime(res.df, regime)
        # the fold's one child needs no size estimate to stay exchange-free
        assert ("Exchange" in _plan(res.df)) == (regime == "exchange"), regime
        got = sorted(
            [
                (r["diff_status"], r["is_before"], tuple(r["modified_columns"]),
                 tuple(_canon(r[c]) for c in res.value_columns))
                for r in res.df.collect()
            ],
            key=repr,
        )
        assert got == expected, regime


ROWS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=6), st.sampled_from(["x", "y"])),
    max_size=20,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(b_rows=ROWS, a_rows=ROWS)
def test_all_columns_key_equals_foj_formulation(spark, monkeypatch, b_rows, a_rows):
    """The one-shuffle all-columns-key rewrite must emit exactly what the
    full-outer-join formulation emits, for ANY multisets on either side
    (duplicates exercise the m×n match/m-exclusive expansion cases), in
    both size-election regimes.  include_unchanged=True without dedup
    keeps the full-outer-join matcher, giving the reference behavior to
    compare against."""
    from conftest import force_diff_regime
    from pyspark.sql import functions as F

    schema = "id int, s string"
    before = spark.createDataFrame(b_rows, schema)
    after = spark.createDataFrame(a_rows, schema)
    for regime in REGIMES:
        force_diff_regime(monkeypatch, regime)
        fast = diff_tables(before, after, ["id", "s"], mode=DiffMode.TYPED)
        foj = diff_tables(
            before, after, ["id", "s"], mode=DiffMode.TYPED, include_unchanged=True
        )
        # the reference must reach the join matcher, never the fold itself
        assert "Join" not in _plan(fast.df) and "FullOuter" in _plan(foj.df)
        _assert_regime(fast.df, regime)
        _assert_regime(foj.df, regime)
        fast_rows = sorted(
            (r["diff_status"], r["is_before"], r["id"], r["s"])
            for r in fast.df.collect()
        )
        foj_rows = sorted(
            (r["diff_status"], r["is_before"], r["id"], r["s"])
            for r in foj.df.filter(F.col("diff_status") != "NOT_MODIFIED").collect()
        )
        assert fast_rows == foj_rows, regime


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=mutation_plan())
def test_apply_diff_roundtrip_any_mutation(spark, plan):
    """For ANY base and ANY mutation plan: apply(b, diff(b, a)) == a,
    and re-applying is idempotent."""
    from dbdiff_spark.diff import apply_diff

    base_keys, deletes, upd_a, upd_b, inserts = plan
    before = spark.createDataFrame(
        [(k, f"a{k}", f"b{k}") for k in base_keys], "id int, a string, b string"
    )
    after_rows = [
        (
            k,
            f"A{k}" if k in upd_a else f"a{k}",
            f"B{k}" if k in upd_b else f"b{k}",
        )
        for k in base_keys
        if k not in deletes
    ] + [(k, f"a{k}", f"b{k}") for k in sorted(inserts)]
    after = spark.createDataFrame(after_rows, "id int, a string, b string")

    d = diff_tables(before, after, ["id"], mode=DiffMode.TYPED).df
    rebuilt = apply_diff(before, d, ["id"])
    assert rebuilt.exceptAll(after).count() == 0
    assert after.exceptAll(rebuilt).count() == 0
    again = apply_diff(rebuilt, d, ["id"])
    assert again.exceptAll(after).count() == 0
    assert after.exceptAll(again).count() == 0


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(b_rows=ROWS, a_rows=ROWS)
def test_multiset_strategies_agree_on_any_multisets(spark, monkeypatch, b_rows, a_rows):
    """Both diff_multiset regimes (one_pass / hash_first, each forced
    through the size bound) equal a Python Counter model for ANY pair
    of input multisets — duplicates, small domains and empty sides
    included — with one_pass as one task and over its exchange."""
    from conftest import (
        elected_regime,
        force_diff_regime,
        force_multiset_regime,
        multiset_model,
        multiset_rows,
    )

    from dbdiff_spark.diff import diff_multiset

    schema = "id int, s string"
    before = spark.createDataFrame(b_rows, schema)
    after = spark.createDataFrame(a_rows, schema)
    expected = multiset_model(b_rows, a_rows)
    for diff_regime in REGIMES:
        force_diff_regime(monkeypatch, diff_regime)
        for regime in ("one_pass", "hash_first"):
            force_multiset_regime(monkeypatch, regime)
            out = diff_multiset(before, after)
            assert elected_regime(out) == regime
            if regime == "one_pass":
                _assert_regime(out, diff_regime)
            assert multiset_rows(out, ["id", "s"]) == expected, (diff_regime, regime)


@st.composite
def numeric_mutation(draw):
    keys = sorted(draw(st.sets(st.integers(0, 40), min_size=1, max_size=20)))
    deltas = {
        k: draw(
            st.floats(
                min_value=-100.0, max_value=100.0,
                allow_nan=False, allow_infinity=False,
            )
        )
        for k in keys
        if draw(st.booleans())
    }
    eps = draw(st.floats(min_value=0.0, max_value=50.0, allow_nan=False))
    return keys, deltas, eps


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=numeric_mutation())
def test_tolerance_laws_on_any_numeric_mutation(spark, plan):
    """Laws for any numeric mutation: (1) eps=0 behaves exactly like the
    exact diff; (2) with eps>0, the flagged key set is precisely the
    keys whose |delta| exceeds eps (tolerance masks, never invents)."""
    keys, deltas, eps = plan
    before = spark.createDataFrame(
        [(k, float(k)) for k in keys], "id int, v double"
    )
    after = spark.createDataFrame(
        [(k, float(k) + deltas.get(k, 0.0)) for k in keys], "id int, v double"
    )

    def flagged(tol):
        df = diff_tables(
            before, after, ["id"], mode=DiffMode.TYPED,
            tolerance={"v": tol} if tol is not None else None,
        ).df
        return {r["id"] for r in df.filter("is_before").collect()}

    exact = flagged(None)
    assert flagged(0.0) == exact
    # Expectation derived from the STORED difference fl(k+d) - k (what
    # the engine actually compares), not the drawn delta d — a draw
    # within a ulp of eps would otherwise flip the comparison and flake.
    expect = {
        k for k, d in deltas.items() if abs((float(k) + d) - float(k)) > eps
    }
    assert flagged(eps) == expect


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=numeric_mutation())
def test_ignore_column_law(spark, plan):
    """Law: the flagged key set under ignore_columns=[c] equals the
    flagged key set of the diff with column c projected away entirely —
    ignoring is exactly 'the comparator never saw it' (outputs aside)."""
    keys, deltas, _eps = plan
    before = spark.createDataFrame(
        [(k, float(k), str(k % 3)) for k in keys], "id int, v double, churn string"
    )
    after = spark.createDataFrame(
        [(k, float(k) + deltas.get(k, 0.0), str((k + 1) % 3)) for k in keys],
        "id int, v double, churn string",
    )

    def flagged(df):
        return {r["id"] for r in df.filter("is_before").collect()}

    with_ignore = flagged(
        diff_tables(
            before, after, ["id"], mode=DiffMode.TYPED,
            ignore_columns=["churn"],
        ).df
    )
    projected = flagged(
        diff_tables(
            before.drop("churn"), after.drop("churn"), ["id"],
            mode=DiffMode.TYPED,
        ).df
    )
    assert with_ignore == projected


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    profile=st.lists(
        # (n distinct tokens, n repeats of one token) per doc — spans
        # zero-weight (empty), flat, and max-distinctness docs
        st.tuples(st.integers(min_value=0, max_value=30),
                  st.integers(min_value=0, max_value=30)),
        min_size=1,
        max_size=25,
    ),
    step=st.sampled_from([100_000, 300_000, 1_000_000]),
)
def test_importance_resample_telescoping_law_any_corpus(
    spark, tmp_path_factory, profile, step
):
    """Σ n_copies == total_weight div step for EVERY corpus and step —
    the systematic-sampling law is arithmetic, not distributional."""
    from dbdiff_spark.ops import corpus as corpus_mod

    tmp = tmp_path_factory.mktemp("resample")
    rows = []
    for i, (nd, nr) in enumerate(profile):
        toks = [f"w{i}x{j}" for j in range(nd)] + ["rep"] * nr
        rows.append((i, " ".join(toks)))
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        str(tmp / "documents.parquet")
    )
    out = corpus_mod.importance_resample(spark, str(tmp), step=step).collect()
    total_w = 0
    for i, (nd, nr) in enumerate(profile):
        n_tok = nd + nr
        n_dist = nd + (1 if nr else 0)
        total_w += (1_000_000 * n_dist) // n_tok if n_tok else 0
    assert sum(r.n_copies for r in out) == total_w // step
