"""Tests of the benchmark harness itself (no Spark needed):

    python -m pytest perfbench -q

Every oracle must accept the right answer and reject a corrupted one,
inputs must be a pure function of the seed, and the closed loop must
count a failed check and leave its unit untimed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import inputs
import oracles
import run
import workloads


def _ray_cast(x: float, y: float, ring) -> bool:
    """Scalar even-odd reference for the vectorized oracle."""
    inside = False
    n = len(ring)
    for j in range(n):
        (xa, ya), (xb, yb) = ring[j], ring[(j + 1) % n]
        if (ya <= y) != (yb <= y) and x < xa + (y - ya) * (xb - xa) / (yb - ya):
            inside = not inside
    return inside


# --- point in polygon ---------------------------------------------------------


def test_pip_oracle_matches_scalar_reference():
    lat, lng = inputs.image_points(7, 0, 20_000)
    polys = inputs.city_polygons(7, 0)
    got = oracles.pip_expected(lat, lng, polys)
    for pid, (ext, _holes, _res) in polys.items():
        want = sum(_ray_cast(x, y, ext) for x, y in zip(lng, lat))
        assert got[pid] == want
    assert sum(got.values()) > 0


def test_pip_oracle_holes_are_excluded():
    square = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    hole = [(0.25, 0.25), (0.75, 0.25), (0.75, 0.75), (0.25, 0.75)]
    lat = np.array([0.5, 0.1, 2.0])
    lng = np.array([0.5, 0.1, 2.0])
    got = oracles.pip_expected(lat, lng, {"a": (square, [hole], 9), "b": (square, [], 9)})
    assert got == {"a": 1, "b": 2}


def test_pip_check_rejects_count_off_by_one():
    expected = {"p0": 120, "p1": 0, "p2": 7}
    assert oracles.check_pip_counts({"p0": 120, "p2": 7}, expected) is None
    assert oracles.check_pip_counts({"p0": 121, "p2": 7}, expected) is not None
    assert oracles.check_pip_counts({"p0": 120, "p2": 6}, expected) is not None
    assert oracles.check_pip_counts({"p0": 120, "p1": 1, "p2": 7}, expected) is not None
    assert oracles.check_pip_counts({"p0": 120, "p2": 7, "zz": 1}, expected) is not None


# --- kNN ----------------------------------------------------------------------


def _knn_case(k=10):
    lat, lng = inputs.image_points(3, 0, 5_000)
    ids = np.array([f"i{j:05d}" for j in range(len(lat))], dtype=object)
    queries = inputs.knn_queries(3, 0)
    expected = oracles.knn_expected(lat, lng, ids, queries, k)
    rows = [
        (qid, i, d, r + 1)
        for qid, (qi, qd, _) in expected.items()
        for r, (i, d) in enumerate(zip(qi, qd))
    ]
    got = pd.DataFrame(rows, columns=["query_id", "image_id", "dist_m", "rank"])
    return got, expected, k


def test_knn_check_accepts_oracle_answer_and_ulp_noise():
    got, expected, k = _knn_case()
    assert oracles.check_knn(got, expected, k) is None
    noisy = got.assign(dist_m=got["dist_m"] * (1 + 1e-15))
    assert oracles.check_knn(noisy, expected, k) is None


def test_knn_check_rejects_swapped_rank():
    got, expected, k = _knn_case()
    swapped = got.copy()
    a, b = swapped.index[0], swapped.index[1]
    swapped.loc[[a, b], "image_id"] = swapped.loc[[b, a], "image_id"].to_numpy()
    assert oracles.check_knn(swapped, expected, k) is not None


def test_knn_check_rejects_wrong_distance_and_missing_rank():
    got, expected, k = _knn_case()
    far = got.copy()
    far.loc[far.index[3], "dist_m"] += 1e-3
    assert oracles.check_knn(far, expected, k) is not None
    assert oracles.check_knn(got.drop(got.index[k - 1]), expected, k) is not None


def test_knn_check_allows_ids_to_differ_only_at_a_kth_place_tie():
    ids = np.array(["a", "b", "c", "d"], dtype=object)
    lat = np.array([0.0, 0.0, 0.0, 0.0])
    lng = np.array([0.001, 0.002, -0.002, 0.003])  # b and c tie at rank 2
    q = pd.DataFrame({"query_id": ["q"], "lat": [0.0], "lng": [0.0]})
    expected = oracles.knn_expected(lat, lng, ids, q, 2)
    d = oracles.haversine_m(0.0, 0.0, lat, lng)
    tie = pd.DataFrame({"query_id": "q", "image_id": ["a", "c"], "dist_m": [d[0], d[2]], "rank": [1, 2]})
    assert oracles.check_knn(tie, expected, 2) is None
    wrong = pd.DataFrame({"query_id": "q", "image_id": ["b", "a"], "dist_m": [d[0], d[1]], "rank": [1, 2]})
    assert oracles.check_knn(wrong, expected, 2) is not None


# --- tiling, cell sets, resume ------------------------------------------------


def test_tile_check_rejects_corrupted_mean():
    px = inputs.image_pixels(5, 0, 50, 16)
    ids = np.array([f"i{j:03d}" for j in range(50)], dtype=object)
    expected = oracles.tile_expected(ids, px, 8)
    assert len(expected) == 50 * 4
    cell = (1 << 59) | (15 << 52) | 0x12345
    got = expected.assign(cell=cell).sample(frac=1.0, random_state=0)
    assert oracles.check_tiles(got, expected, 15) is None
    bad = got.copy()
    bad.loc[bad.index[7], "mean_g"] += 1 / 64
    assert oracles.check_tiles(bad, expected, 15) is not None
    assert oracles.check_tiles(got.iloc[1:], expected, 15) is not None
    assert oracles.check_tiles(got.assign(cell=cell & ~(15 << 52) | (9 << 52)), expected, 15) is not None


def test_cell_set_check_rejects_missing_extra_and_duplicate_cells():
    want = np.arange(100, 200, dtype=np.int64)
    assert oracles.check_cell_set("polyfill", want[::-1], want) is None
    assert oracles.check_cell_set("polyfill", want[1:], want) is not None
    assert oracles.check_cell_set("polyfill", np.append(want, 7), want) is not None
    assert oracles.check_cell_set("polyfill", np.append(want, want[0]), want) is not None


def test_same_rows_check_rejects_a_changed_row():
    a = pd.DataFrame({"doc_id": [1, 2, 3], "keep": [1, 0, 1]})
    assert oracles.check_same_rows("keep", a, a.iloc[::-1]) is None
    assert oracles.check_same_rows("keep", a, a.assign(keep=[1, 1, 1])) is not None
    assert oracles.check_same_rows("keep", a, a.iloc[:2]) is not None


# --- dedup --------------------------------------------------------------------


def _dedup_case():
    docs, exact, near = inputs.dedup_corpus(11, 0, 60, 5, 5)
    pairs = pd.DataFrame(
        [(min(p), max(p), 1.0) for p in exact] + [(min(p), max(p), 0.9) for p in near],
        columns=["id_a", "id_b", "est_jaccard"],
    )
    ids = docs["doc_id"].to_numpy()
    comp = oracles.components(ids, pairs[["id_a", "id_b"]].to_numpy())
    keep = pd.DataFrame({"doc_id": ids, "keep": [int(comp[int(i)] == i) for i in ids]})
    return ids, pairs, keep, exact


def test_dedup_check_accepts_consistent_answer():
    ids, pairs, keep, exact = _dedup_case()
    assert oracles.check_dedup(ids, pairs, keep, exact, 0.7) is None


def test_dedup_check_rejects_dropped_exact_pair():
    ids, pairs, keep, exact = _dedup_case()
    a, b = min(exact[0]), max(exact[0])
    dropped = pairs[~((pairs["id_a"] == a) & (pairs["id_b"] == b))]
    keep2 = keep.copy()
    keep2.loc[keep2["doc_id"] == b, "keep"] = 1  # consistent with the dropped pair
    assert oracles.check_dedup(ids, dropped, keep2, exact, 0.7) is not None


def test_dedup_check_rejects_low_pair_and_bad_keep_list():
    ids, pairs, keep, exact = _dedup_case()
    low = pairs.copy()
    low.loc[low.index[-1], "est_jaccard"] = 0.5
    assert oracles.check_dedup(ids, low, keep, exact, 0.7) is not None
    two = keep.copy()
    two.loc[two["doc_id"] == max(exact[0]), "keep"] = 1  # two rows kept in one component
    assert oracles.check_dedup(ids, pairs, two, exact, 0.7) is not None
    assert oracles.check_dedup(ids, pairs, keep.iloc[1:], exact, 0.7) is not None


def test_union_find_components_take_the_minimum_id():
    comp = oracles.components(np.array([1, 2, 3, 4, 5]), np.array([[3, 4], [4, 2], [5, 5]]))
    assert comp == {1: 1, 2: 2, 3: 2, 4: 2, 5: 5}


# --- seeded inputs ------------------------------------------------------------


GENERATORS = [
    ("image_table", lambda s: inputs.image_table(s, 2, 3_000, 4).to_pandas()),
    ("knn_queries", lambda s: inputs.knn_queries(s, 4)),
    ("city_polygons", lambda s: pd.DataFrame(
        [(k, v[0]) for k, v in inputs.city_polygons(s, 1).items()])),
    ("continent_ring", lambda s: pd.DataFrame(inputs.continent_ring(s, 3))),
    ("compact_polygon", lambda s: pd.DataFrame(inputs.compact_polygon(s, 3))),
    ("dedup_corpus", lambda s: inputs.dedup_corpus(s, 1, 200, 10, 10)[0]),
]


@pytest.mark.parametrize("name,gen", GENERATORS, ids=[g[0] for g in GENERATORS])
def test_same_seed_gives_identical_inputs(name, gen):
    pd.testing.assert_frame_equal(gen(17), gen(17))


@pytest.mark.parametrize("name,gen", GENERATORS, ids=[g[0] for g in GENERATORS])
def test_different_seeds_give_different_inputs(name, gen):
    assert not gen(17).equals(gen(18))


def test_captions_parse_back_to_the_generated_coordinates():
    table = inputs.image_table(9, 0, 5_000, 4)
    lat, lng = oracles.parse_captions(table.column("caption"))
    want_lat, want_lng = inputs.image_points(9, 0, 5_000)
    assert np.array_equal(lat, want_lat) and np.array_equal(lng, want_lng)


def test_knn_batches_have_a_fixed_shape_and_ocean_queries_are_isolated():
    for i in range(5):
        q = inputs.knn_queries(1, i)
        assert len(q) == inputs.KNN_METRO_QUERIES + inputs.KNN_OCEAN_QUERIES
    lat, lng = inputs.image_points(1, 0, 50_000)
    for alat, alng in inputs.OCEAN_ANCHORS:
        near = (np.abs(lat - alat) <= inputs.OCEAN_EXCLUSION_DEG) & (
            np.abs(lng - alng) <= inputs.OCEAN_EXCLUSION_DEG
        )
        assert not near.any()


def test_exact_duplicates_are_verbatim_and_near_ones_are_not():
    docs, exact, near = inputs.dedup_corpus(2, 0, 300, 10, 10)
    text = dict(zip(docs["doc_id"], docs["text"]))
    assert all(text[a] == text[b] for a, b in exact)
    assert all(text[a] != text[b] for a, b in near)
    assert docs["doc_id"].is_unique


# --- the closed loop ----------------------------------------------------------


class _FakeWorkload:
    """Two operations per unit; the check of op b fails on unit 2."""

    name, seed = "fake", 0

    def ops(self, i):
        def op(name):
            def check():
                if name == "b" and i == 2:
                    raise workloads.CheckFailed("b call 2: corrupted on purpose")
            return lambda: (10, check)
        return [("a", op("a")), ("b", op("b"))]


class _FakeTracer:
    enabled = False


def test_traced_loop_interleaves_modes_and_counts_failed_checks():
    done, attempted, failed = run._measure(_FakeWorkload(), _FakeTracer(), 0.0, True)
    assert attempted == 8 and failed == 1
    assert done[False] == [("c0", 20), ("c3", 20)]
    assert done[True] == [("c1", 20)]  # unit 2 failed its check, so it is not timed


def test_untraced_loop_times_every_passing_unit_untraced():
    done, attempted, failed = run._measure(_FakeWorkload(), _FakeTracer(), 0.0, False)
    assert (attempted, failed) == (4, 0)
    assert done == {False: [("c0", 20), ("c1", 20)], True: []}


class _WarmWorkload(workloads.Workload):
    """Records the operation calls; no Spark."""

    OPS = ("knn", "pip")
    WARM_UNITS = 2
    WARM_EXTRA = ("knn",)

    def __init__(self):  # noqa: D107 (no session needed)
        self.calls = []

    def _knn(self, i):
        self.calls.append(("knn", i))
        return 1, lambda: None

    def _pip(self, i):
        self.calls.append(("pip", i))
        return 1, lambda: None


def test_warm_up_runs_the_units_then_the_extra_operations():
    wl = _WarmWorkload()
    wl.warm_up()
    w = workloads.WARM_INDEX
    assert wl.calls == [("knn", w), ("pip", w), ("knn", w + 1), ("pip", w + 1), ("knn", w + 2)]
    assert [what for what, _ in wl.warm_checks] == [f"{op} call {i}" for op, i in wl.calls]
