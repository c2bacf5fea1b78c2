"""Seeded input generator: numpy arrays -> GeoParquet files.

Every workload gets three tables on the same lon/lat plane:

- ``points``: ``id``, ``key`` (dissolve group), ``val`` (aggregated
  payload), ``geom`` (WKB POINT) and ``zone`` (WKB box paired with the
  point, for the elementwise predicates), in ``POINT_FILES`` files;
- ``polys``: ``pid`` and ``geom`` (WKB POLYGON) -- one convex
  quadrilateral per cell of a regular grid, each corner pulled in from
  its cell corner by a random inset, so polygons never touch, a point
  lies in at most one of them, and a bounding-box hit is not always a
  match (the join's refine step has real work);
- ``sites``: ``sid`` and ``geom`` (WKB POINT) -- the right side of the
  nearest join.

``dup`` draws the points from a small set of distinct locations and
assigns each location a Zipf-skewed key; ``unique`` draws every point
independently and spreads keys uniformly. Nothing else differs, so the
two workloads exercise the same code on inputs that differ only in
duplication and skew.

WKB is written here with numpy (little-endian ISO WKB) and the ``geo``
footer is written here with pyarrow: the engine under test only ever
receives the finished files.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# lon/lat plane (valid for EPSG:3857) and the polygon tiling over it
X0, X1 = 0.0, 20.0
Y0, Y1 = 40.0, 60.0
TILES = 50               # TILES x TILES polygons
N_KEYS = 16
ROW_GROUP = 8192


# The largest size at which every query still runs three times in a run
# of about a minute; see the size sweep in BASELINE.md.
N_POINTS = 20_000
# The points are written as this many files, one scan partition each:
# a single small file would be read, and run, as one task.
POINT_FILES = 4
N_SITES = 4_000
N_LOCATIONS = 2_000       # distinct point locations in the dup workload


@dataclass
class Inputs:
    """Generated columns (kept for the reference answers) + file paths."""
    px: np.ndarray
    py: np.ndarray
    key: np.ndarray
    val: np.ndarray
    zone: np.ndarray       # (n, 4) xmin, ymin, xmax, ymax
    tiles: np.ndarray      # (TILES * TILES, 4, 2) CCW corners, index == pid
    sx: np.ndarray
    sy: np.ndarray
    paths: dict
    stats: dict


def point_wkb(x: np.ndarray, y: np.ndarray) -> pa.BinaryArray:
    n = len(x)
    rec = np.zeros(n, dtype=[("bo", "u1"), ("t", "<u4"),
                             ("x", "<f8"), ("y", "<f8")])
    rec["bo"] = 1
    rec["t"] = 1
    rec["x"] = x
    rec["y"] = y
    return _binary(rec.tobytes(), n, 21)


def quad_wkb(q: np.ndarray) -> pa.BinaryArray:
    """(n, 4, 2) CCW corners -> WKB POLYGON with one closed ring."""
    n = len(q)
    rec = np.zeros(n, dtype=[("bo", "u1"), ("t", "<u4"), ("nr", "<u4"),
                             ("np", "<u4"), ("c", "<f8", (5, 2))])
    rec["bo"] = 1
    rec["t"] = 3
    rec["nr"] = 1
    rec["np"] = 5
    rec["c"] = np.concatenate([q, q[:, :1]], axis=1)
    return _binary(rec.tobytes(), n, 93)


def box_corners(b: np.ndarray) -> np.ndarray:
    """(n, 4) xmin, ymin, xmax, ymax -> (n, 4, 2) CCW corners."""
    x0, y0, x1, y1 = b.T
    return np.stack([np.stack([x0, y0], 1), np.stack([x1, y0], 1),
                     np.stack([x1, y1], 1), np.stack([x0, y1], 1)], axis=1)


def _binary(data: bytes, n: int, width: int) -> pa.BinaryArray:
    offsets = np.arange(n + 1, dtype=np.int32) * width
    return pa.BinaryArray.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)])


def _write(table: pa.Table, path: str, geom_types: dict, bboxes: dict):
    geo = {"version": "1.1.0", "primary_column": "geom", "columns": {
        c: {"encoding": "WKB", "geometry_types": t,
            "bbox": [float(v) for v in bboxes[c]]}
        for c, t in geom_types.items()}}
    md = dict(table.schema.metadata or {})
    md[b"geo"] = json.dumps(geo).encode()
    pq.write_table(table.replace_schema_metadata(md), path,
                   row_group_size=ROW_GROUP, compression="snappy")


def _bbox(x0, y0, x1, y1):
    return [np.min(x0), np.min(y0), np.max(x1), np.max(y1)]


def generate(kind: str, seed: int, out_dir: str) -> Inputs:
    """Write the three GeoParquet tables of workload ``kind`` ('dup' or
    'unique') for ``seed`` under ``out_dir``; same seed, same bytes."""
    rng = np.random.default_rng([seed, 0 if kind == "dup" else 1])
    n = N_POINTS
    if kind == "dup":
        lx = rng.uniform(X0, X1, N_LOCATIONS)
        ly = rng.uniform(Y0, Y1, N_LOCATIONS)
        # Zipf(1.1) weights over the keys, one key per location
        w = 1.0 / np.arange(1, N_KEYS + 1) ** 1.1
        lkey = rng.choice(N_KEYS, size=N_LOCATIONS, p=w / w.sum())
        loc = rng.integers(0, N_LOCATIONS, n)
        px, py, key = lx[loc], ly[loc], lkey[loc]
    elif kind == "unique":
        px = rng.uniform(X0, X1, n)
        py = rng.uniform(Y0, Y1, n)
        key = rng.integers(0, N_KEYS, n)
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    key = key.astype(np.int64)
    val = rng.integers(0, 1000, n).astype(np.int64)
    # zone: a small box near the point; about half of them contain it
    cx = px + rng.normal(0.0, 0.01, n)
    cy = py + rng.normal(0.0, 0.01, n)
    hw = rng.uniform(0.004, 0.02, n)
    hh = rng.uniform(0.004, 0.02, n)
    zone = np.stack([cx - hw, cy - hh, cx + hw, cy + hh], axis=1)

    tw, th = (X1 - X0) / TILES, (Y1 - Y0) / TILES
    gx, gy = np.meshgrid(np.arange(TILES), np.arange(TILES), indexing="xy")
    gx, gy = gx.ravel(), gy.ravel()
    # corner k of cell (gx, gy) sits at cell corner (gx + cx_k, gy + cy_k),
    # pulled inwards by an inset of 2-25% of the cell on each axis
    cx_k = np.array([0, 1, 1, 0])
    cy_k = np.array([0, 0, 1, 1])
    inset = rng.uniform(0.02, 0.25, (TILES * TILES, 4, 2))
    tiles = np.stack([
        X0 + (gx[:, None] + cx_k + (1 - 2 * cx_k) * inset[:, :, 0]) * tw,
        Y0 + (gy[:, None] + cy_k + (1 - 2 * cy_k) * inset[:, :, 1]) * th],
        axis=2)

    sx = rng.uniform(X0, X1, N_SITES)
    sy = rng.uniform(Y0, Y1, N_SITES)

    paths = {"points": os.path.join(out_dir, "points"),
             "polys": os.path.join(out_dir, "polys.parquet"),
             "sites": os.path.join(out_dir, "sites.parquet")}
    os.makedirs(paths["points"], exist_ok=True)
    for i, r in enumerate(np.array_split(np.arange(n), POINT_FILES)):
        _write(pa.table({"id": r.astype(np.int64), "key": key[r],
                         "val": val[r], "geom": point_wkb(px[r], py[r]),
                         "zone": quad_wkb(box_corners(zone[r]))}),
               os.path.join(paths["points"], f"part-{i:05d}.parquet"),
               {"geom": ["Point"], "zone": ["Polygon"]},
               {"geom": _bbox(px[r], py[r], px[r], py[r]),
                "zone": _bbox(*zone[r].T)})
    _write(pa.table({"pid": np.arange(len(tiles), dtype=np.int64),
                     "geom": quad_wkb(tiles)}),
           paths["polys"], {"geom": ["Polygon"]},
           {"geom": [tiles[..., 0].min(), tiles[..., 1].min(),
                     tiles[..., 0].max(), tiles[..., 1].max()]})
    _write(pa.table({"sid": np.arange(N_SITES, dtype=np.int64),
                     "geom": point_wkb(sx, sy)}),
           paths["sites"], {"geom": ["Point"]},
           {"geom": _bbox(sx, sy, sx, sy)})

    counts = np.bincount(key, minlength=N_KEYS)
    stats = {
        "points.rows": int(n),
        "points.distinct_locations": int(
            len(np.unique(np.stack([px, py], axis=1), axis=0))),
        "points.keys": int((counts > 0).sum()),
        # share of rows in the hottest key, against the uniform share
        "points.key_skew": round(float(counts.max() / (n / N_KEYS)), 3),
        "polys.rows": int(len(tiles)),
        "sites.rows": N_SITES,
        "bytes": {t: sum(os.path.getsize(f) for f in
                         glob.glob(os.path.join(p, "*.parquet")) or [p])
                  for t, p in paths.items()},
    }
    return Inputs(px, py, key, val, zone, tiles, sx, sy, paths, stats)
