"""Seeded inputs and the expected outputs they imply.

Every input table is a function of the seed: the page id range starts
at a seed-derived offset, and a page's point is derived from its id by
the engine's public column functions (`pages.lon_col` / `lat_col`,
`cells.cell_encode_col`), as `entry()` does. The tables are written
with pyarrow, without Spark, so they can be written while the JVM
starts; the engine only ever sees these parquet files.

Expected values are computed independently on the driver with numpy
(convex half-plane tests on the admin fixture, the mercator tile
formulas) or, for registry queries, by the query's DuckDB oracle.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gdal_spark.sources import admin, pages

#: lon_col repeats every 360e6 ids and lat_col every 160e6, so the
#: (lon, lat) of an id repeats with this joint period
PERIOD = 1_440_000_000
#: points per square degree over one id period (360 x 160 degrees)
_DENSITY = PERIOD / (360.0 * 160.0)


def id_base(seed: int, n: int) -> int:
    """First page id for `seed`; ids [base, base + n) stay below PERIOD."""
    return (seed * 7_919_993) % (PERIOD - n)


def lonlat_np(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of pages.lon_col / lat_col (same integer and IEEE ops)."""
    ids = ids.astype(np.int64)
    lon = (ids * pages.LON_MULT % 360_000_000) / 1_000_000.0 - 180.0
    lat = ((ids * pages.LAT_MULT + pages.LAT_ADD) % 160_000_000) / 1_000_000.0 - 80.0
    return lon, lat


def _inside_convex(ring: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Points strictly left of every edge of a closed CCW convex ring."""
    inside = np.ones(len(x), dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        inside &= (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1) > 0.0
    return inside


def hot_ids(n_hot: int, seed: int) -> np.ndarray:
    """`n_hot` page ids whose derived points all fall in one seeded box
    lying inside the ring (not just the bbox) of the largest admin
    polygon. Ids are shifted by one PERIOD, so they never collide with
    the [0, PERIOD) range of ordinary ids and map to the same points."""
    rng = np.random.default_rng(seed)
    rings = admin.admin_rings()
    ring = max(rings, key=lambda r: np.ptp(r[2][:, 0]) * np.ptp(r[2][:, 1]))[2]
    side = math.sqrt(2.0 * n_hot / _DENSITY)
    cx, cy = ring[:-1, 0].mean(), ring[:-1, 1].mean()
    reach = 0.5 * min(np.ptp(ring[:, 0]), np.ptp(ring[:, 1]))
    for _ in range(1000):
        x0 = cx + rng.uniform(-reach, reach)
        y0 = cy + rng.uniform(-reach, reach)
        xs = np.array([x0, x0 + side, x0, x0 + side])
        ys = np.array([y0, y0, y0 + side, y0 + side])
        if _inside_convex(ring, xs, ys).all():
            break
    else:
        raise RuntimeError("no hot box fits inside the polygon")
    inv = pow(pages.LON_MULT, -1, 360_000_000)
    lraw = np.arange(math.ceil((x0 + 180.0) * 1e6),
                     math.floor((x0 + side + 180.0) * 1e6), dtype=np.int64)
    ids = ((lraw * inv) % 360_000_000)[:, None] + 360_000_000 * np.arange(4)
    ids = ids.ravel()
    lon, lat = lonlat_np(ids)
    keep = (lon > x0) & (lon < x0 + side) & (lat > y0) & (lat < y0 + side)
    ids = ids[keep]
    if len(ids) < n_hot:
        raise RuntimeError(f"hot box holds {len(ids)} ids, need {n_hot}")
    ids = np.sort(rng.choice(ids, n_hot, replace=False)) + PERIOD
    lon, lat = lonlat_np(ids)
    if not _inside_convex(ring, lon, lat).all():
        raise RuntimeError("hot point outside the polygon ring")
    return ids


def page_ids(seed: int, n: int, n_hot: int = 0) -> np.ndarray:
    base = id_base(seed, n)
    ids = np.arange(base, base + n, dtype=np.int64)
    if n_hot:
        ids = np.concatenate([ids, hot_ids(n_hot, seed)])
    return ids


def _lang(ids: np.ndarray) -> np.ndarray:
    return np.where(ids % 10 < 7, "en", np.where(ids % 10 < 9, "de", "fr"))


def _write(table: pa.Table, path: str, n_files: int) -> None:
    """Write `table` as a directory of `n_files` parquet files."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def write_pages(path: str, seed: int, n: int, n_files: int = 4) -> None:
    """pages(doc_id, url, lang) over n seeded ids. Points are not stored;
    readers derive them from doc_id."""
    ids = page_ids(seed, n)
    url = pc.binary_join_element_wise(
        "https://synth.example.com/p/", pa.array(ids).cast(pa.string()), "")
    _write(pa.table({"doc_id": ids, "url": url, "lang": _lang(ids)}), path, n_files)


def write_documents(path: str, seed: int, n: int, n_hot: int) -> None:
    """documents(doc_id, text, lang, source, n_chars) in the registry's
    schema, over the same seeded id set as write_pages."""
    ids = page_ids(seed, n, n_hot)
    text = pc.binary_join_element_wise(
        "synthetic page body ", pa.array(ids).cast(pa.string()), "")
    source = pc.binary_join_element_wise(
        "src", pa.array(ids % 7).cast(pa.string()), "")
    _write(pa.table({"doc_id": ids, "text": text, "lang": _lang(ids),
                     "source": source, "n_chars": pc.utf8_length(text).cast(pa.int64())}),
           path, 2)


def write_lineitem(path: str, seed: int, n: int) -> None:
    """lineitem in the TPC-H column layout with seeded values. Prices and
    rates are two-decimal doubles, as the registry's exact-decimal
    oracles expect."""
    rng = np.random.default_rng(seed)
    row = np.arange(n, dtype=np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship_day = rng.integers(0, 2500, n)
    _write(pa.table({
        "l_orderkey": row // 4,
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": (row % 4 + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (rng.integers(0, 100_000, n) / 100.0 + 900.0), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array((694_224_000 + ship_day * 86_400) * 1_000_000,
                               pa.timestamp("us")),
    }), path, 2)


# ---------------------------------------------------------------- oracles

def _tile_y_np(lat: np.ndarray, zoom: int) -> np.ndarray:
    """XYZ tile row with the operand order of mercator.tile_y_col."""
    n = 1 << zoom
    r, shift = 6378137.0, math.pi * 6378137.0
    lat_c = np.clip(lat, -85.05112877980659, 85.05112877980659)
    my = np.log(np.tan((90.0 + lat_c) * (math.pi / 360.0))) * r
    tms = np.clip(np.floor((my + shift) / (2.0 * shift) * float(n)), 0, n - 1)
    return (n - 1 - tms).astype(np.int64)


def _tile_x_np(lon: np.ndarray, zoom: int) -> np.ndarray:
    n = 1 << zoom
    return np.clip(np.floor((lon + 180.0) / 360.0 * float(n)), 0, n - 1).astype(np.int64)


def geotag_expected(ids: np.ndarray, zoom: int) -> dict[int, tuple[int, int, int]]:
    """{poly_id: (n_tiles, n_pages, tile_key_sum)} of the (poly, tile)
    rollup at `zoom`, from convex half-plane tests on the fixture."""
    lon, lat = lonlat_np(ids)
    out = {}
    for pid, _name, ring in admin.admin_rings():
        box = ((lon >= ring[:, 0].min()) & (lon <= ring[:, 0].max())
               & (lat >= ring[:, 1].min()) & (lat <= ring[:, 1].max()))
        idx = np.nonzero(box)[0]
        idx = idx[_inside_convex(ring, lon[idx], lat[idx])]
        if len(idx) == 0:
            continue
        keys = np.unique(_tile_x_np(lon[idx], zoom) * (1 << zoom)
                         + _tile_y_np(lat[idx], zoom))
        out[pid] = (len(keys), len(idx), int(keys.sum()))
    return out


def occupied_tiles(ids: np.ndarray, zoom: int, tile: int = 256) -> int:
    """Distinct base-zoom tiles holding at least one point, with the
    pixel formulas of raster.density.global_pixel_cols_3857."""
    lon, lat = lonlat_np(ids)
    n = (1 << zoom) * tile
    shift = math.pi * 6378137.0
    gx = np.clip(np.floor((lon + 180.0) / 360.0 * float(n)), 0, n - 1)
    lat_c = np.clip(lat, -85.05112877980659, 85.05112877980659)
    my = np.log(np.tan((90.0 + lat_c) * (math.pi / 360.0))) * 6378137.0
    gy = np.clip(np.floor((shift - my) / (2.0 * shift) * float(n)), 0, n - 1)
    keys = (gy // tile).astype(np.int64) * (1 << zoom) + (gx // tile).astype(np.int64)
    return len(np.unique(keys))


def canonical_rows(cols: list[str], rows) -> list[tuple]:
    """Order-insensitive, bit-exact form of a result (floats by repr)."""
    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)
