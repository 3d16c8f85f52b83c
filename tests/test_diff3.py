"""Three-way merge (diff3) classification semantics on a hand-built
lineage covering every branch, plus integer-PageRank invariants."""

from dbdiff_spark.diff import diff3_tables


def _t(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, w int")


def test_diff3_classification(spark):
    base = _t(spark, [(1, "a", 1), (2, "b", 2), (3, "c", 3), (4, "d", 4),
                      (5, "e", 5), (6, "f", 6), (7, "g", 7)])
    ours = _t(spark, [(1, "a", 1), (2, "B", 2), (3, "c", 3), (4, "D", 4),
                      (6, "F", 6), (7, "g", 7), (8, "h", 8)])   # 5 deleted
    theirs = _t(spark, [(1, "a", 1), (2, "b", 2), (3, "C", 3), (4, "D", 4),
                        (5, "e", 5), (6, "Fx", 6), (7, "g", 7), (8, "hx", 8)])
    out = diff3_tables(base, ours, theirs, ["k"])
    rows = [
        (r.k, r.merge_status, r.side, r.deleted, r.v) for r in out.collect()
    ]
    by_key = {}
    for row in rows:
        by_key.setdefault(row[0], []).append(row[1:])
    assert 1 not in by_key  # unchanged everywhere → dropped
    assert by_key[2] == [("OURS", "merged", False, "B")]
    assert by_key[3] == [("THEIRS", "merged", False, "C")]
    assert by_key[4] == [("BOTH_SAME", "merged", False, "D")]
    # delete vs keep-unchanged → ours-only delete
    assert by_key[5] == [("OURS", "merged", True, None)]
    # both changed differently → conflict pair
    assert sorted(by_key[6]) == [
        ("CONFLICT", "ours", False, "F"),
        ("CONFLICT", "theirs", False, "Fx"),
    ]
    assert 7 not in by_key
    # insert-insert with different values → conflict pair
    assert sorted(by_key[8]) == [
        ("CONFLICT", "ours", False, "h"),
        ("CONFLICT", "theirs", False, "hx"),
    ]


# dots, backticks, quotes and spaces, in the key and in value columns
_ODD_KEY = "k.e`y"
_ODD_VALS = ["a`b", "dot.ted", "it's", "with space"]


def test_diff3_quotes_odd_column_names(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(_ODD_KEY, T.IntegerType())]
        + [T.StructField(c, T.StringType()) for c in _ODD_VALS]
    )
    base = [(1, "a", "b", "c", "d"), (2, "a", "b", "c", "d"), (3, "a", "b", "c", "d")]
    ours = [(1, "A", "b", "c", "d"), (2, "a", "b", "c", "d"), (3, "a", "b", "O", "d")]
    theirs = [(1, "a", "b", "c", "d"), (2, "a", "B", "c", "d"), (3, "a", "b", "T", "d")]
    frames = [spark.createDataFrame(r, schema) for r in (base, ours, theirs)]
    out = diff3_tables(*frames, [_ODD_KEY])
    assert out.columns == [_ODD_KEY, "merge_status", "side", "deleted", *_ODD_VALS]
    got = sorted(
        (r[_ODD_KEY], r["merge_status"], r["side"], r["deleted"], *[r[c] for c in _ODD_VALS])
        for r in out.collect()
    )
    assert got == [
        (1, "OURS", "merged", False, "A", "b", "c", "d"),
        (2, "THEIRS", "merged", False, "a", "B", "c", "d"),
        (3, "CONFLICT", "ours", False, "a", "b", "O", "d"),
        (3, "CONFLICT", "theirs", False, "a", "b", "T", "d"),
    ]


def test_diff3_quotes_odd_key_names_when_deleting(spark):
    """A delete on one side and a NULL key group, under an odd key name."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(_ODD_KEY, T.IntegerType()), T.StructField("dot.ted", T.StringType())]
    )
    base = [(1, "x"), (None, "n")]
    ours = [(None, "n")]
    theirs = [(1, "x"), (None, "m")]
    frames = [spark.createDataFrame(r, schema) for r in (base, ours, theirs)]
    out = diff3_tables(*frames, [_ODD_KEY])
    got = sorted(
        (r[_ODD_KEY] is None, r["merge_status"], r["deleted"], r["dot.ted"])
        for r in out.collect()
    )
    assert got == [(False, "OURS", True, None), (True, "THEIRS", False, "m")]


def test_diff3_delete_vs_update_conflict(spark):
    base = _t(spark, [(1, "a", 1)])
    ours = _t(spark, [])
    theirs = _t(spark, [(1, "a2", 1)])
    out = diff3_tables(base, ours, theirs, ["k"])
    got = sorted((r.merge_status, r.side, r.deleted, r.v) for r in out.collect())
    assert got == [("CONFLICT", "ours", True, None),
                   ("CONFLICT", "theirs", False, "a2")]


def test_diff3_both_delete_is_clean(spark):
    base = _t(spark, [(1, "a", 1)])
    out = diff3_tables(base, _t(spark, []), _t(spark, []), ["k"])
    got = [(r.merge_status, r.side, r.deleted) for r in out.collect()]
    assert got == [("BOTH_SAME", "merged", True)]


def test_pagerank_invariants(spark, sf_dir):
    from dbdiff_spark.ops.graph import pagerank_copurchase, PR_SCALE, PR_TOP_K

    out = pagerank_copurchase(spark, sf_dir).collect()
    assert 0 < len(out) <= PR_TOP_K
    ranks = [r.rank for r in out]
    # descending, positive, and bounded sanity: teleport floor holds
    assert ranks == sorted(ranks, reverse=True)
    assert all(r >= (PR_SCALE * 15) // 100 for r in ranks)
    # determinism across runs (same plan, different execution)
    again = [r.rank for r in pagerank_copurchase(spark, sf_dir).collect()]
    assert again == ranks


def test_triangle_census_known_graphs(spark):
    from dbdiff_spark.ops.graph import triangle_census

    def sym(pairs):
        rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
        return spark.createDataFrame(rows, "src int, dst int").distinct()

    # K4: 4 triangles, 6 undirected edges
    k4 = sym([(i, j) for i in range(4) for j in range(i + 1, 4)])
    r = triangle_census(k4).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)
    # 4-cycle: wedges but no triangles
    c4 = sym([(0, 1), (1, 2), (2, 3), (3, 0)])
    r = triangle_census(c4).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 4, 0)
    # triangle with a pendant vertex: exactly one
    tp = sym([(0, 1), (1, 2), (0, 2), (2, 3)])
    r = triangle_census(tp).collect()[0]
    assert r.n_triangles == 1


# --- property: clean three-way merges commute --------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def disjoint_edits(draw):
    """Base dict + two edit sets touching DISJOINT keys (clean merge)."""
    base = dict(
        draw(st.dictionaries(st.integers(0, 20), st.integers(0, 5), max_size=12))
    )
    keys = list(base)
    half = len(keys) // 2
    ours_keys, theirs_keys = keys[:half], keys[half:]

    def edit(ks, fresh_base):
        out = {}
        for k in ks:
            action = draw(st.sampled_from(["del", "upd", "keep"]))
            if action == "upd":
                out[k] = base[k] + 100
            elif action == "keep":
                out[k] = base[k]
        if draw(st.booleans()):
            out[fresh_base + draw(st.integers(0, 5))] = 999
        return out

    ours = {k: v for k, v in base.items() if k in theirs_keys} | edit(ours_keys, 100)
    theirs = {k: v for k, v in base.items() if k in ours_keys} | edit(theirs_keys, 200)
    return base, ours, theirs


def test_label_propagation_conserves_nodes(spark, sf_dir):
    from dbdiff_spark.ops.graph import _copurchase_edges, label_propagation

    n_nodes = _copurchase_edges(spark, sf_dir).select("src").distinct().count()
    comms = label_propagation(spark, sf_dir).collect()
    assert sum(r.n_members for r in comms) == n_nodes
    assert all(r.n_members >= 1 for r in comms)
    # deterministic: a second run yields the identical community map
    again = label_propagation(spark, sf_dir).collect()
    assert sorted((r.community_id, r.n_members) for r in comms) == sorted(
        (r.community_id, r.n_members) for r in again
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=disjoint_edits())
def test_diff3_clean_merge_reconstructs_both_edits(spark, case):
    """Disjoint edits never conflict, and applying the merged rows over
    base reproduces (base - dels + upds + inserts) from BOTH sides —
    i.e. the merge result is order-independent."""
    base_d, ours_d, theirs_d = case

    def df(d):
        return spark.createDataFrame(
            list(d.items()) or [(None, None)], "k int, v int"
        ).filter("k IS NOT NULL")

    out = diff3_tables(df(base_d), df(ours_d), df(theirs_d), ["k"]).collect()
    assert all(r.merge_status != "CONFLICT" for r in out)
    merged = dict(base_d)
    for r in out:
        if r.deleted:
            merged.pop(r.k, None)
        else:
            merged[r.k] = r.v
    # expected = union of both sides' survivors (edits are disjoint, so
    # for a key present on both sides the CHANGED side's value wins;
    # a key missing from either side was deleted by that side)
    exp = {}
    for k in set(base_d) | set(ours_d) | set(theirs_d):
        in_o, in_t = k in ours_d, k in theirs_d
        if in_o and in_t:
            b = base_d.get(k)
            if k in base_d and ours_d[k] != b:
                exp[k] = ours_d[k]
            elif k in base_d:
                exp[k] = theirs_d[k]
            else:
                exp[k] = ours_d[k]  # impossible for disjoint fresh keys
        elif in_o and k not in base_d:
            exp[k] = ours_d[k]  # ours insert
        elif in_t and k not in base_d:
            exp[k] = theirs_d[k]  # theirs insert
        # else: present in base, deleted by one side -> gone
    assert merged == exp, (merged, exp, base_d, ours_d, theirs_d)
