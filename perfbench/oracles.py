"""Output checks for every timed call.

Each oracle recomputes the answer without running the code under test,
and returns None when the engine's answer matches or a short text naming
the first differing rows. Two checks use package code by design:
`polyfill_distributed` and `compact_cells_df` are compared with the
driver kernels `h3core.regions.polyfill` and `h3core.hierarchy.compact`,
separate implementations pinned by the package's golden vectors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

EARTH_RADIUS_M = 6371007.180918475
# kNN distances: the engine computes haversine with JVM trig, the oracle
# with numpy; the two differ in the last ulp, far below this.
KNN_DIST_TOL_M = 1e-6
# Tile means are sums of at most 64 uint8 values divided by a power of
# two, exact in float64 on both sides; the tolerance only absorbs a
# different summation order.
TILE_MEAN_TOL = 1e-9


def parse_captions(captions) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lng) from '... at <lat>,<lng>' captions (correctly rounded
    decimal to double, as the JVM's cast does)."""
    caps = pa.array(captions, pa.string()) if not isinstance(captions, pa.ChunkedArray) else captions
    tail = pc.list_element(pc.split_pattern(caps, " at ", max_splits=1, reverse=True), 1)
    parts = pc.split_pattern(tail, ",", max_splits=1)
    lat = pc.cast(pc.list_element(parts, 0), pa.float64())
    lng = pc.cast(pc.list_element(parts, 1), pa.float64())
    return np.asarray(lat), np.asarray(lng)


# --- point in polygon ---------------------------------------------------------


def _crossings(x: np.ndarray, y: np.ndarray, ring) -> np.ndarray:
    """Even-odd count of edges of `ring` ((lng, lat) vertices, open or
    closed) crossed by the ray from each point towards +x (east)."""
    r = np.asarray(ring, dtype=np.float64)
    if not np.array_equal(r[0], r[-1]):
        r = np.vstack([r, r[:1]])
    odd = np.zeros(x.shape, dtype=bool)
    for (xa, ya), (xb, yb) in zip(r[:-1], r[1:]):
        if ya == yb:
            continue
        lo, hi = (ya, yb) if ya < yb else (yb, ya)
        span = (y >= lo) & (y < hi)
        xs = xa + (y[span] - ya) * (xb - xa) / (yb - ya)
        hit = np.zeros(x.shape, dtype=bool)
        hit[span] = x[span] < xs
        odd ^= hit
    return odd


def pip_expected(lat: np.ndarray, lng: np.ndarray, polygons: dict) -> dict:
    """{polygon_id: number of points inside}, planar (lng, lat) with the
    even-odd rule over the exterior and every hole."""
    out = {}
    for pid, (ext, holes, _res) in polygons.items():
        e = np.asarray(ext, dtype=np.float64)
        box = (
            (lng >= e[:, 0].min()) & (lng <= e[:, 0].max())
            & (lat >= e[:, 1].min()) & (lat <= e[:, 1].max())
        )
        x, y = lng[box], lat[box]
        inside = _crossings(x, y, ext)
        for hole in holes or []:
            inside &= ~_crossings(x, y, hole)
        out[pid] = int(inside.sum())
    return out


def check_pip_counts(got: dict, expected: dict) -> str | None:
    """Every polygon with a match must report its exact count; polygons
    with no match must be absent or zero."""
    bad = [
        (pid, got.get(pid, 0), n)
        for pid, n in sorted(expected.items())
        if got.get(pid, 0) != n
    ]
    extra = sorted(set(got) - set(expected))
    if bad or extra:
        return f"pip counts differ (polygon, engine, oracle): {bad[:5]}; unknown ids {extra[:5]}"
    return None


# --- kNN ----------------------------------------------------------------------


def haversine_m(lat1, lng1, lat2, lng2) -> np.ndarray:
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lng2 - lng1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def knn_expected(
    img_lat: np.ndarray, img_lng: np.ndarray, img_ids: np.ndarray,
    queries: pd.DataFrame, k: int,
) -> dict:
    """{query_id: (ids, dists, kth_tie_ids)} brute force, ordered by
    (dist, image_id). kth_tie_ids: every id whose distance is within
    KNN_DIST_TOL_M of the k-th distance (any of them may take the tied
    last places)."""
    out = {}
    for q in queries.itertuples(index=False):
        d = haversine_m(q.lat, q.lng, img_lat, img_lng)
        top = np.argpartition(d, k)[: k + 64] if len(d) > k + 64 else np.arange(len(d))
        order = top[np.lexsort((img_ids[top], d[top]))]
        kth = d[order[k - 1]]
        ties = np.flatnonzero(np.abs(d - kth) <= KNN_DIST_TOL_M)
        out[q.query_id] = (img_ids[order[:k]], d[order[:k]], set(img_ids[ties]))
    return out


def check_knn(got: pd.DataFrame, expected: dict, k: int) -> str | None:
    """got: (query_id, image_id, dist_m, rank). Ranks must be 1..k,
    distances must match rank by rank within KNN_DIST_TOL_M, and ids
    must match except at places tied with the k-th distance."""
    for qid, (ids, dists, kth_ties) in expected.items():
        g = got[got["query_id"] == qid].sort_values("rank")
        if list(g["rank"]) != list(range(1, k + 1)):
            return f"knn {qid}: ranks {list(g['rank'])[:12]} instead of 1..{k}"
        gd = g["dist_m"].to_numpy(dtype=np.float64)
        gi = g["image_id"].to_numpy()
        off = np.flatnonzero(np.abs(gd - dists) > KNN_DIST_TOL_M)
        if off.size:
            j = off[0]
            return (
                f"knn {qid} rank {j + 1}: engine ({gi[j]}, {gd[j]!r}) "
                f"oracle ({ids[j]}, {dists[j]!r})"
            )
        for j in np.flatnonzero(gi != ids):
            tied = gi[j] in kth_ties and ids[j] in kth_ties
            if not tied:
                return (
                    f"knn {qid} rank {j + 1}: engine {gi[j]} oracle {ids[j]} "
                    f"(dist {gd[j]!r}, not a tie at the k-th place)"
                )
    extra = set(got["query_id"]) - set(expected)
    if extra:
        return f"knn: unknown query ids {sorted(extra)[:5]}"
    return None


# --- tiling -------------------------------------------------------------------


def tile_expected(ids: np.ndarray, pixels: np.ndarray, tile_px: int) -> pd.DataFrame:
    """(image_id, tile_x, tile_y, mean_r, mean_g, mean_b) from raw pixels
    (n, h, w, 3), rows ordered by (image_id, tile_y, tile_x)."""
    n, h, w, _ = pixels.shape
    ny, nx = h // tile_px, w // tile_px
    rows = []
    acc = pixels[:, : ny * tile_px, : nx * tile_px, :].astype(np.int64)
    for ty in range(ny):
        for tx in range(nx):
            block = acc[:, ty * tile_px:(ty + 1) * tile_px, tx * tile_px:(tx + 1) * tile_px, :]
            sums = block.sum(axis=(1, 2))
            rows.append(
                pd.DataFrame(
                    {
                        "image_id": ids, "tile_x": tx, "tile_y": ty,
                        "mean_r": sums[:, 0] / tile_px**2,
                        "mean_g": sums[:, 1] / tile_px**2,
                        "mean_b": sums[:, 2] / tile_px**2,
                    }
                )
            )
    out = pd.concat(rows, ignore_index=True)
    return out.sort_values(["image_id", "tile_y", "tile_x"], ignore_index=True)


def check_tiles(got: pd.DataFrame, expected: pd.DataFrame, res: int) -> str | None:
    got = got.sort_values(["image_id", "tile_y", "tile_x"], ignore_index=True)
    if len(got) != len(expected):
        return f"tiles: engine {len(got)} rows, oracle {len(expected)}"
    key = ["image_id", "tile_x", "tile_y"]
    same_key = (got[key].to_numpy() == expected[key].to_numpy()).all(axis=1)
    if not same_key.all():
        j = int(np.flatnonzero(~same_key)[0])
        return f"tiles row {j}: engine {got.loc[j, key].tolist()} oracle {expected.loc[j, key].tolist()}"
    for c in ("mean_r", "mean_g", "mean_b"):
        diff = np.abs(got[c].to_numpy() - expected[c].to_numpy())
        if (diff > TILE_MEAN_TOL).any():
            j = int(np.argmax(diff))
            return f"tiles {c} row {j} {got.loc[j, key].tolist()}: engine {got.loc[j, c]!r} oracle {expected.loc[j, c]!r}"
    cells = got["cell"].to_numpy(dtype=np.int64)
    cell_res = (cells >> 52) & 0xF
    mode = (cells >> 59) & 0xF
    if (cell_res != res).any() or (mode != 1).any():
        j = int(np.flatnonzero((cell_res != res) | (mode != 1))[0])
        return f"tiles row {j}: cell {cells[j]:#x} is not a res-{res} cell index"
    return None


# --- cell sets ----------------------------------------------------------------


def check_cell_set(name: str, got: np.ndarray, expected: np.ndarray) -> str | None:
    got = np.asarray(got, dtype=np.int64)
    expected = np.asarray(expected, dtype=np.int64)
    if len(np.unique(got)) != len(got):
        return f"{name}: engine returned duplicate cells"
    missing = np.setdiff1d(expected, got)
    extra = np.setdiff1d(got, expected)
    if missing.size or extra.size:
        return (
            f"{name}: {len(got)} cells vs oracle {len(expected)}; missing "
            f"{[hex(c) for c in missing[:3]]} extra {[hex(c) for c in extra[:3]]}"
        )
    return None


# --- dedup --------------------------------------------------------------------


def components(ids: np.ndarray, pairs: np.ndarray) -> dict:
    """{id: smallest id of its connected component} by union-find."""
    parent = {int(i): int(i) for i in ids}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


def check_dedup(
    doc_ids: np.ndarray, pairs: pd.DataFrame, keep: pd.DataFrame,
    exact_pairs: list, threshold: float,
) -> str | None:
    """pairs: (id_a, id_b, est_jaccard); keep: (doc_id, keep)."""
    a = pairs["id_a"].to_numpy(dtype=np.int64)
    b = pairs["id_b"].to_numpy(dtype=np.int64)
    if (a >= b).any():
        return f"dedup: pair not ordered id_a < id_b: {pairs[a >= b].head(3).values.tolist()}"
    known = set(doc_ids.tolist())
    unknown = [x for x in np.concatenate([a, b]) if int(x) not in known]
    if unknown:
        return f"dedup: pairs name unknown ids {unknown[:5]}"
    low = pairs["est_jaccard"].to_numpy() < threshold
    if low.any():
        return f"dedup: pairs below threshold {threshold}: {pairs[low].head(3).values.tolist()}"
    found = set(zip(a.tolist(), b.tolist()))
    lost = [p for p in exact_pairs if (min(p), max(p)) not in found]
    if lost:
        return f"dedup: exact duplicate pairs not recovered: {lost[:5]}"
    if sorted(keep["doc_id"].tolist()) != sorted(known):
        return f"dedup: keep list has {len(keep)} rows for {len(known)} docs"
    comp = components(doc_ids, np.column_stack([a, b]))
    want = {i for i, c in comp.items() if i == c}
    kept = set(keep.loc[keep["keep"] == 1, "doc_id"].astype(np.int64).tolist())
    if kept != want:
        diff = sorted(kept ^ want)[:5]
        return f"dedup: keep list differs from one-per-component at ids {diff}"
    return None


def check_same_rows(name: str, first: pd.DataFrame, again: pd.DataFrame) -> str | None:
    cols = sorted(first.columns)
    x = first[cols].sort_values(cols, ignore_index=True)
    y = again[sorted(again.columns)].sort_values(cols, ignore_index=True)
    if list(x.columns) != list(y.columns) or len(x) != len(y):
        return f"{name}: resumed output has {len(y)} rows/{list(y.columns)}, first run {len(x)}/{list(x.columns)}"
    ne = ~(x == y).all(axis=1)
    if ne.any():
        j = int(np.flatnonzero(ne.to_numpy())[0])
        return f"{name}: resumed row {j} {y.iloc[j].tolist()} != {x.iloc[j].tolist()}"
    return None
