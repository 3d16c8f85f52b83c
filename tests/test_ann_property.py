"""Property-based nearest-centroid test (via hypothesis): for ANY small
corpus and ANY centroid set — duplicate vectors, duplicate centroids
(exact d2 ties), more centroids than distinct points, K·dim both small
and large — the one assignment/probe regime agrees with a pure-Python
model of the ``(d2, cell)`` total order, and IVF search with every cell
probed is exact brute-force cosine top-IVF_K.  The lifecycle test
drives a standing gen-partitioned root through random deletes,
upserts, compactions and same-gen replays and checks the serve against
brute force over the live corpus the sequence leaves.  The evaluation
helpers get the same treatment: the one exact baseline against a numpy
brute force, and the one recall scorer against a ``Counter`` model."""

import math
from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from dbdiff_spark.ops import similarity as sim

COMPONENT = st.sampled_from([-2.0, -1.0, 1.0, 2.0])  # never a zero vector


@st.composite
def corpus_and_centroids(draw):
    # large: K·dim > 2048 terms, the size the deleted literal regime
    # refused; small: K·dim well under it
    large = draw(st.booleans())
    dim = 64 if large else draw(st.sampled_from([2, 3, 64]))
    k = draw(st.integers(33, 40) if large else st.integers(1, 12))
    point = st.lists(COMPONENT, min_size=dim, max_size=dim)
    distinct = draw(st.lists(point, min_size=1, max_size=4))
    vecs = draw(st.lists(st.sampled_from(distinct), min_size=1, max_size=10))
    # centroids drawn from the corpus points plus a few others, so
    # duplicates (exact d2 ties) and zero-distance centroids are common
    pool = distinct + draw(st.lists(point, max_size=3))
    cells = draw(st.lists(st.integers(0, 500), min_size=k, max_size=k, unique=True))
    centroids = {c: draw(st.sampled_from(pool)) for c in cells}
    nprobe = draw(st.integers(1, k))
    return vecs, centroids, nprobe


# small integer components keep every partial sum exact, so these
# match Spark's left fold bit for bit
def _d2(a, b):
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def _dot(a, b):
    return sum(x * y for x, y in zip(a, b))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=corpus_and_centroids())
def test_one_argmin_regime_matches_python_model(spark, case):
    vecs_py, centroids, nprobe = case
    vecs = spark.createDataFrame(
        list(enumerate(vecs_py)), "vec_id bigint, embedding array<float>"
    ).selectExpr(
        "vec_id",
        "embedding",
        f"sqrt({sim._dot_spark('embedding', 'embedding')}) AS norm",
    )
    ranked = {
        i: sorted((_d2(v, c), cell) for cell, c in centroids.items())
        for i, v in enumerate(vecs_py)
    }

    assigned = sim._assign_cells(vecs, centroids)
    got = {r.vec_id: r.cell for r in assigned.select("vec_id", "cell").collect()}
    assert got == {i: rk[0][1] for i, rk in ranked.items()}

    probes = sim._probe_frame(vecs, centroids, nprobe, query_mod=1).collect()
    got_probe: dict = {}
    for r in probes:
        got_probe.setdefault(r.query_id, []).append(r.q_cell)
    assert {q: sorted(cs) for q, cs in got_probe.items()} == {
        i: sorted(cell for _d, cell in rk[:nprobe]) for i, rk in ranked.items()
    }

    out = sim._ivf_literal_search(
        vecs,
        assigned.select("vec_id", "embedding", "norm", "cell"),
        centroids,
        len(centroids),
        sim.MAX_BROADCAST_QUERIES,
        query_mod=1,
        n=len(vecs_py),
    ).collect()
    norms = [math.sqrt(_dot(v, v)) for v in vecs_py]
    expect = {}
    for q, qv in enumerate(vecs_py):
        cand = sorted(
            (-(_dot(v, qv) / (norms[i] * norms[q])), i)
            for i, v in enumerate(vecs_py)
            if i != q
        )
        for rank, (neg_cos, i) in enumerate(cand[: sim.IVF_K], start=1):
            expect[(q, rank)] = (i, -neg_cos)
    assert {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in out} == expect


# --- the standing-index lifecycle --------------------------------------------

GRID_DIM = 3
grid_vec = st.lists(COMPONENT, min_size=GRID_DIM, max_size=GRID_DIM)


@st.composite
def lifecycle_case(draw):
    # n >= 8 so the entry's gen-1 upsert slice (vec_id % 10 = 7) is
    # never empty; ids up to n + 2 let upserts insert fresh vectors
    n = draw(st.integers(8, 20))
    corpus = draw(st.lists(grid_vec, min_size=n, max_size=n))
    ids = st.integers(0, n + 2)
    op = st.one_of(
        st.tuples(
            st.just("delete"), st.lists(ids, min_size=1, max_size=5, unique=True)
        ),
        st.tuples(st.just("delete_all")),
        st.tuples(
            st.just("upsert"),
            st.lists(st.tuples(ids, grid_vec), min_size=1, max_size=4,
                     unique_by=lambda r: r[0]),
        ),
        st.tuples(st.just("compact")),
        st.tuples(st.just("replay")),
    )
    return corpus, draw(st.lists(op, min_size=1, max_size=5))


def _ids_frame(spark, ids):
    return spark.createDataFrame([(int(i),) for i in ids], "vec_id bigint")


def _rows_frame(spark, rows):
    return spark.createDataFrame(
        [(int(i), v) for i, v in rows], "vec_id bigint, embedding array<float>"
    ).selectExpr(
        "vec_id",
        "embedding",
        f"sqrt({sim._dot_spark('embedding', 'embedding')}) AS norm",
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@example(
    # every vector retracted, then compacted and the compaction replayed:
    # the serve must return zero rows and the replay must be a no-op
    case=(
        [[1.0, 2.0, -1.0], [2.0, 1.0, 1.0], [-1.0, -2.0, 1.0], [1.0, 1.0, 1.0],
         [2.0, -1.0, 2.0], [-2.0, 1.0, 1.0], [1.0, -1.0, -2.0], [2.0, 2.0, 1.0],
         [-1.0, 1.0, 2.0]],
        [("upsert", [(10, [1.0, 1.0, 2.0])]), ("compact",), ("delete_all",),
         ("compact",), ("replay",)],
    )
)
@given(case=lifecycle_case())
def test_standing_index_lifecycle_matches_python_model(spark, tmp_path, case):
    """Any sequence of deletes, upserts, compactions and same-gen
    replays on a gen-partitioned standing root serves exactly the
    brute-force top-IVF_K cosine over the live corpus the sequence
    leaves, and a replayed compaction is always a no-op."""
    import tempfile

    corpus, ops = case
    sf = tempfile.mkdtemp(dir=tmp_path)
    root = f"{sf}/idx"
    spark.createDataFrame(
        list(enumerate(corpus)), "vec_id bigint, embedding array<float>"
    ).coalesce(1).write.parquet(f"{sf}/embeddings.parquet")
    sim.ann_ivf_upsert_serve(spark, sf, index_root=root)

    # the entry's own build: the IVF_UPSERT_SLICE sign-flipped at gen 1
    live = {i: ([-x for x in v] if i % 10 == 7 else v) for i, v in enumerate(corpus)}
    gen, last = 1, None
    for op in ops:
        if op[0] == "replay":
            if last is None:
                continue
            op, replay = last, True
        else:
            gen, replay = gen + (op[0] != "compact"), False
        kind = op[0]
        if kind == "compact":
            n_done = sim.ivf_compact(spark, root)
            assert not replay or n_done == 0
        elif kind in ("delete", "delete_all"):
            if not replay:
                op = ("delete", sorted(live) if kind == "delete_all" else op[1], gen)
            if op[1]:
                sim.ivf_delete(spark, root, _ids_frame(spark, op[1]), op[2])
            for i in op[1]:
                live.pop(i, None)
        else:
            if not replay:
                op = ("upsert", op[1], gen)
            sim.ivf_upsert(spark, root, _rows_frame(spark, op[1]), op[2])
            live.update(dict(op[1]))
        last = op

    params = spark.read.parquet(f"{root}/params").first()
    out = sim._serve_ivf_from_artifacts(
        spark, sf, root, int(params["cells"]), sim.MAX_BROADCAST_QUERIES,
        query_mod=1, n=len(corpus),
    ).collect()

    norm = {i: math.sqrt(_dot(v, v)) for i, v in live.items()}
    expect = {}
    for q, qv in enumerate(corpus):
        qn = math.sqrt(_dot(qv, qv))
        cand = sorted(
            (-(_dot(v, qv) / (norm[i] * qn)), i) for i, v in live.items() if i != q
        )
        for rank, (neg_cos, i) in enumerate(cand[: sim.IVF_K], start=1):
            expect[(q, rank)] = (i, -neg_cos)
    got = {(r.query_id, r.rank): (r.neighbor_id, r.cosine) for r in out}
    assert len(got) == len(out)
    assert got == expect
    if not live:
        assert out == []


# --- the exact baseline and the recall scorer ---------------------------------


@st.composite
def baseline_case(draw):
    dim = draw(st.integers(1, 4))
    point = st.lists(COMPONENT, min_size=dim, max_size=dim)
    # few distinct points, many rows: duplicated vectors give exact ties
    distinct = draw(st.lists(point, min_size=1, max_size=3))
    vecs = draw(st.lists(st.sampled_from(distinct), min_size=1, max_size=12))
    ids = draw(
        st.lists(st.integers(0, 40), min_size=len(vecs), max_size=len(vecs), unique=True)
    )
    k = draw(st.integers(1, 6))
    stride = draw(st.integers(1, 5))
    metric = draw(st.sampled_from(["cosine", "l2"]))
    return list(zip(ids, vecs)), k, stride, metric


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=baseline_case())
def test_exact_baseline_matches_numpy_brute_force(spark, case):
    """``_knn_over`` at any k, stride and metric is the numpy brute
    force over the same rows, ties broken by ``neighbor_id``."""
    import numpy as np

    rows, k, stride, metric = case
    vecs = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).selectExpr(
        "vec_id",
        "embedding",
        f"sqrt({sim._dot_spark('embedding', 'embedding')}) AS norm",
    )
    out = sim._knn_over(vecs, sim.MAX_BROADCAST_QUERIES, k, stride, metric).collect()

    ids = np.array([i for i, _v in rows])
    m = np.array([v for _i, v in rows], dtype=np.float64)
    norms = np.sqrt((m * m).sum(axis=1))
    expect = {}
    for qi, q in enumerate(ids):
        if q % stride:
            continue
        if metric == "cosine":
            score = (m @ m[qi]) / (norms * norms[qi])
            key = -score
        else:
            score = ((m - m[qi]) ** 2).sum(axis=1)
            key = score
        order = sorted((key[j], ids[j], j) for j in range(len(ids)) if j != qi)
        for rank, (_key, nid, j) in enumerate(order[:k], start=1):
            expect[(int(q), rank)] = (int(nid), float(score[j]))
    col = "cosine" if metric == "cosine" else "d2"
    assert {(r.query_id, r.rank): (r.neighbor_id, r[col]) for r in out} == expect


@st.composite
def recall_case(draw):
    labels = draw(st.sampled_from([[], ["a", "b", "c"], [1, 2], [4, 8, 16, 32]]))
    pair = st.tuples(st.integers(0, 3), st.integers(0, 5))
    exact = draw(st.lists(pair, max_size=8))
    # approx rows carry only a prefix of the listed labels, so a label
    # may have no rows at all
    used = labels[: draw(st.integers(0, len(labels)))] if labels else [None]
    approx = draw(st.lists(st.tuples(st.sampled_from(used), pair), max_size=10)) if used else []
    k = draw(st.integers(1, 4))
    return labels, exact, approx, k


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@example(case=(["a", "b"], [], [], 3))  # empty exact_k: recall_ppm NULL
@example(case=([], [], [], 3))
@given(case=recall_case())
def test_recall_scorer_matches_counter_model(spark, case):
    """``_recall`` is hit counting over a ``Counter`` of the exact
    pairs: one row per listed label (a label absent from ``approx``
    reports 0 hits), integer ppm, NULL ppm when ``exact_k`` is empty."""
    labels, exact, approx, k = case
    label = "lab" if labels else None
    typ = "string" if labels and isinstance(labels[0], str) else "bigint"
    exact_df = spark.createDataFrame(exact, "query_id bigint, neighbor_id bigint")
    approx_df = spark.createDataFrame(
        [(lab, q, nb) for lab, (q, nb) in approx],
        f"lab {typ}, query_id bigint, neighbor_id bigint",
    )
    if label is None:
        approx_df = approx_df.drop("lab")
    got = sim._recall(approx_df, exact_df, k, label, labels).collect()

    truth = Counter(exact)
    n_queries = len({q for q, _n in exact})
    hits = Counter()
    for lab, p in approx:
        hits[lab] += truth[p]

    def row(n_hits):
        ppm = n_hits * 1_000_000 // (n_queries * k) if n_queries else None
        return (n_queries, k, n_hits, ppm)

    if label is None:
        assert [tuple(r) for r in got] == [row(hits[None])]
    else:
        assert len(got) == len(labels)
        assert {r[0]: tuple(r[1:]) for r in got} == {
            lab: row(hits[lab]) for lab in labels
        }
