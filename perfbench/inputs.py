"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of (seed, stream): the same seed gives
byte-identical inputs, a different seed gives different ones. Nothing in
this module calls the package under test, so the engine only ever sees
rows built here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Metro cores (lat, lng) the image rows cluster around, with equal shares.
# All of them sit well away from the antimeridian and the poles, so every
# polygon below is planar in (lng, lat). The seed moves points and shapes,
# never the amount of work: every seed puts the same share of rows at each
# metro, and city polygons of the same size at the same metros.
METROS = [
    (37.76, -122.44),   # San Francisco
    (-33.87, 151.21),   # Sydney
    (40.71, -74.01),    # New York
    (51.51, -0.13),     # London
    (35.68, 139.69),    # Tokyo
]
METRO_SIGMA_DEG = 0.05
WORLD_SHARE = 0.30

# Isolated kNN queries sit near these deep-ocean anchors. No image row is
# generated within OCEAN_EXCLUSION_DEG of any anchor, so every ocean query
# sees the same empty neighbourhood and needs the same number of kNN
# expansion rounds from call to call.
OCEAN_ANCHORS = [(-47.0, -125.0), (-40.0, -20.0), (-30.0, 90.0), (10.0, -150.0)]
OCEAN_EXCLUSION_DEG = 4.0

_STREAMS = {
    "images": 1, "polygons": 2, "knn": 3, "continent": 4, "corpus": 5,
    "compact": 6,
}

IMAGE_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)


def rng(seed: int, stream: str, index: int = 0) -> np.random.Generator:
    return np.random.default_rng([int(seed), _STREAMS[stream], int(index)])


# --- images -----------------------------------------------------------------


def _world_points(g: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Uniform points on the sphere outside the ocean exclusion caps."""
    lat = np.empty(0)
    lng = np.empty(0)
    while lat.size < n:
        m = 2 * (n - lat.size) + 16
        la = np.degrees(np.arcsin(g.uniform(-0.97, 0.97, m)))
        ln = g.uniform(-179.0, 179.0, m)
        keep = np.ones(m, dtype=bool)
        for alat, alng in OCEAN_ANCHORS:
            keep &= (np.abs(la - alat) > OCEAN_EXCLUSION_DEG) | (
                np.abs(ln - alng) > OCEAN_EXCLUSION_DEG
            )
        lat = np.concatenate([lat, la[keep]])
        lng = np.concatenate([lng, ln[keep]])
    return lat[:n], lng[:n]


def image_points(seed: int, block: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lng) of one image block, rounded to the caption's 1e-6 grid."""
    g = rng(seed, "images", block)
    weights = np.full(len(METROS), (1.0 - WORLD_SHARE) / len(METROS))
    pick = g.choice(len(METROS) + 1, size=n, p=np.append(weights, WORLD_SHARE))
    centers = np.array(METROS + [(0.0, 0.0)])
    lat = centers[pick, 0] + g.normal(0.0, METRO_SIGMA_DEG, n)
    lng = centers[pick, 1] + g.normal(0.0, METRO_SIGMA_DEG, n)
    world = pick == len(METROS)
    lat[world], lng[world] = _world_points(g, int(world.sum()))
    return np.round(lat, 6), np.round(lng, 6)


def image_ids(block: int, n: int) -> pa.Array:
    """Unique, zero-padded ids: lexical order is row order."""
    num = pc.utf8_lpad(pc.cast(pa.array(np.arange(n)), pa.string()), 8, "0")
    return pc.binary_join_element_wise(f"im{block:05d}x", num, "")


def image_pixels(seed: int, block: int, n: int, side: int) -> np.ndarray:
    """(n, side, side, 3) uint8 pixels of one image block."""
    g = rng(seed, "images", 1_000_000 + block)
    return g.integers(0, 256, size=(n, side, side, 3), dtype=np.uint8)


def _fmt6(x: np.ndarray) -> pa.Array:
    """Exact %.6f text of values already on the 1e-6 grid (vectorized)."""
    micro = np.rint(np.abs(x) * 1e6).astype(np.int64)
    sign = pa.array(np.where(x < 0, "-", ""))
    whole = pc.cast(pa.array(micro // 1_000_000), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(micro % 1_000_000), pa.string()), 6, "0")
    return pc.binary_join_element_wise(sign, whole, ".", frac, "")


def image_table(seed: int, block: int, n: int, side: int) -> pa.Table:
    """One block of raw image rows in the engine's `images` input schema
    (no cell column: the engine derives it from the caption)."""
    lat, lng = image_points(seed, block, n)
    ids = image_ids(block, n)
    px = image_pixels(seed, block, n, side)
    size = side * side * 3
    offsets = pa.py_buffer(np.arange(n + 1, dtype=np.int32) * size)
    payload = pa.Array.from_buffers(
        pa.binary(), n, [None, offsets, pa.py_buffer(px.reshape(-1))]
    )
    caption = pc.binary_join_element_wise(
        "photo at ", _fmt6(lat), ",", _fmt6(lng), ""
    )
    g = rng(seed, "images", 2_000_000 + block)
    return pa.Table.from_arrays(
        [
            ids,
            payload,
            pa.array(np.full(n, side, dtype=np.int32)),
            pa.array(np.full(n, side, dtype=np.int32)),
            pa.array(["rgb24"] * n, pa.string()),
            caption,
            pa.array(g.integers(0, 2**62, n, dtype=np.int64)),
        ],
        schema=IMAGE_SCHEMA,
    )


def write_table(table: pa.Table, path: str, files: int) -> None:
    """Write `table` as a directory of `files` parquet files, so a scan
    gets at least that many splits."""
    import os

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for f in range(files):
        part = table.slice(f * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{f:05d}.parquet"))


# --- polygons -----------------------------------------------------------------


def star_polygon(
    g: np.random.Generator, lat0: float, lng0: float, radius_deg: float,
    n_vertices: int,
) -> list[tuple[float, float]]:
    """Simple star-shaped (lng, lat) ring around (lat0, lng0). Vertex
    coordinates carry a 0.5e-7 offset so they never lie on the 1e-6 grid
    the image coordinates use: no point can sit exactly on a vertex's
    latitude, which keeps even-odd ray crossing free of tie cases."""
    ang = (np.arange(n_vertices) + g.uniform(0.1, 0.9, n_vertices)) * (
        2 * np.pi / n_vertices
    )
    r = radius_deg * g.uniform(0.6, 1.0, n_vertices)
    lng = np.round(lng0 + r * np.cos(ang), 6) + 0.5e-7
    lat = np.round(lat0 + r * np.sin(ang), 6) + 0.5e-7
    return [(float(x), float(y)) for x, y in zip(lng, lat)]


def city_polygons(seed: int, index: int, count: int = 3, res: int = 9) -> dict:
    """One seeded res-`res` city polygon at each of the first `count` metro
    cores, in the engine's {polygon_id: (exterior, holes, res)} form."""
    g = rng(seed, "polygons", index)
    polys = {}
    for j in range(count):
        lat0, lng0 = METROS[j]
        ext = star_polygon(
            g, lat0 + g.normal(0, 0.01), lng0 + g.normal(0, 0.01),
            0.06, 16,
        )
        polys[f"p{index}_{j}"] = (ext, [], res)
    return polys


def continent_ring(seed: int, index: int) -> list[tuple[float, float]]:
    """A seeded large ring (about 200 km across) for polyfill. Its centre
    stays in one latitude band, so its cell count varies little."""
    g = rng(seed, "continent", index)
    lat0 = g.uniform(20.0, 30.0)
    lng0 = g.uniform(-150.0, 150.0)
    return star_polygon(g, lat0, lng0, 1.0, 24)


def compact_polygon(seed: int, index: int) -> list[tuple[float, float]]:
    """A seeded ring whose res-9 polyfill is compact_cells_df's input."""
    g = rng(seed, "compact", index)
    lat0, lng0 = METROS[index % len(METROS)]
    return star_polygon(g, lat0 + g.normal(0, 0.05), lng0 + g.normal(0, 0.05), 0.08, 12)


# --- kNN queries --------------------------------------------------------------

KNN_METRO_QUERIES = 28
KNN_OCEAN_QUERIES = 4
KNN_QUERY_SIGMA_DEG = 0.005


def knn_queries(seed: int, index: int) -> pd.DataFrame:
    """A fixed-shape query batch: KNN_METRO_QUERIES points tight around
    metro cores (dense, so k neighbours are always within the first ring)
    plus one query near each ocean anchor (empty neighbourhood, so each
    needs the same expansion from call to call)."""
    g = rng(seed, "knn", index)
    m = np.arange(KNN_METRO_QUERIES) % len(METROS)
    centers = np.array(METROS)[m]
    lat = centers[:, 0] + g.normal(0, KNN_QUERY_SIGMA_DEG, KNN_METRO_QUERIES)
    lng = centers[:, 1] + g.normal(0, KNN_QUERY_SIGMA_DEG, KNN_METRO_QUERIES)
    anchors = np.array(OCEAN_ANCHORS)
    lat = np.concatenate([lat, anchors[:, 0] + g.uniform(-0.01, 0.01, len(anchors))])
    lng = np.concatenate([lng, anchors[:, 1] + g.uniform(-0.01, 0.01, len(anchors))])
    n = len(lat)
    return pd.DataFrame(
        {
            "query_id": [f"q{index:05d}_{j:02d}" for j in range(n)],
            "lat": np.round(lat, 6),
            "lng": np.round(lng, 6),
        }
    )


# --- dedup corpus -------------------------------------------------------------

_VOCAB_SIZE = 5000


def dedup_corpus(
    seed: int, index: int, n_docs: int, n_exact: int, n_near: int,
    words: int = 40,
) -> tuple[pd.DataFrame, list[tuple[int, int]], list[tuple[int, int]]]:
    """(docs, exact_pairs, near_pairs). docs has (doc_id long, text).
    The last n_exact + n_near docs copy an earlier distinct doc: exact
    copies verbatim, near copies with one word replaced."""
    g = rng(seed, "corpus", index)
    vocab = np.array([f"w{v:04d}" for v in range(_VOCAB_SIZE)], dtype=object)
    n_base = n_docs - n_exact - n_near
    toks = g.integers(0, _VOCAB_SIZE, size=(n_base, words))
    texts = [" ".join(vocab[row]) for row in toks]
    src = g.choice(n_base, size=n_exact + n_near, replace=False)
    base_id = index * 10_000_000
    exact, near = [], []
    for j, s in enumerate(src):
        new_id = base_id + n_base + j
        if j < n_exact:
            texts.append(texts[s])
            exact.append((base_id + int(s), new_id))
        else:
            row = toks[s].copy()
            row[int(g.integers(words))] = _VOCAB_SIZE + j  # a word no doc has
            texts.append(" ".join(f"w{v:04d}" for v in row))
            near.append((base_id + int(s), new_id))
    docs = pd.DataFrame(
        {"doc_id": np.arange(n_docs, dtype=np.int64) + base_id, "text": texts}
    )
    return docs, exact, near
