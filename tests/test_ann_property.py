"""Property-based nearest-centroid test (via hypothesis): for ANY small
corpus and ANY centroid set — duplicate vectors, duplicate centroids
(exact d2 ties), more centroids than distinct points, K·dim both small
and large — the one assignment/probe regime agrees with a pure-Python
model of the ``(d2, cell)`` total order, and IVF search with every cell
probed is exact brute-force cosine top-IVF_K."""

import math

from hypothesis import HealthCheck, given, settings
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
