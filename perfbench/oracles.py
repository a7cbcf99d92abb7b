"""Expected answers, computed without the operators under test.

Every op's output is reduced to an order-free integer checksum
``(rows, sum over rows of h(row))`` with ``m = pmod(c1*P1 + c2*P2 + ..., M)``
and ``h = m*m mod M``: squaring makes the sum see which values share a
row, not only each column's total. Spark computes
it with ``observe`` during the op's own noop write (no second job);
numpy and DuckDB compute it from the same generated inputs, by brute
force or by plain SQL.
"""

from __future__ import annotations

import duckdb
import numpy as np
from pyspark.sql import functions as F

from pythongis_spark import fixtures as FX
from pythongis_spark.geometry import core as G
from pythongis_spark.geometry import wkb as W

PRIMES = (1_000_003, 7_919, 104_729, 15_485_863)
MOD = 2_147_483_647


# ------------------------------------------------------------------
# checksums
# ------------------------------------------------------------------

def spark_checksum(cols: list[str]) -> list:
    """Aggregate expressions for ``DataFrame.observe``. Columns must be
    non-negative integers below ~1e9 so no product overflows a long."""
    mix = F.pmod(
        sum(F.col(c).cast("long") * F.lit(p) for c, p in zip(cols, PRIMES)),
        F.lit(MOD),
    )
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.pmod(mix * mix, F.lit(MOD))), F.lit(0)).alias("checksum"),
    ]


def np_checksum(*arrays) -> tuple[int, int]:
    mix = np.zeros(len(arrays[0]), dtype=np.int64)
    for a, p in zip(arrays, PRIMES):
        mix += np.asarray(a, dtype=np.int64) * p
    mix = np.mod(mix, MOD)
    return len(mix), int(np.mod(mix * mix, MOD).sum())


def duck_checksum_sql(cols: list[str]) -> str:
    mix = " + ".join(f"CAST({c} AS BIGINT) * {p}" for c, p in zip(cols, PRIMES))
    m = f"(({mix}) % {MOD})"
    return f"COUNT(*) AS rows, COALESCE(SUM(({m} * {m}) % {MOD}), 0) AS checksum"


# ------------------------------------------------------------------
# SQL routes (DuckDB)
# ------------------------------------------------------------------

def quadkey_sql(lon: str, lat: str, z: int) -> str:
    """Morton tile id at level ``z`` (x bits even, y bits odd) in plain
    SQL: the digit-by-digit definition, no bit operators."""
    n = 1 << z
    tx = f"CAST(FLOOR(({lon} + 180.0) / 360.0 * {n}) AS BIGINT)"
    ty = f"CAST(FLOOR((90.0 - {lat}) / 180.0 * {n}) AS BIGINT)"
    terms = [
        f"(((CAST(FLOOR({ty} / {1 << b}) AS BIGINT) % 2) * 2"
        f" + (CAST(FLOOR({tx} / {1 << b}) AS BIGINT) % 2)) * {4 ** b})"
        for b in range(z)
    ]
    return "(" + " + ".join(terms) + ")"


def duck_query(sql: str) -> tuple:
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchone()
    finally:
        con.close()


def tagged_tile_counts_sql(parquet_glob: str, z: int) -> str:
    """(zone, tile) counts of a point batch over the oracle rectangle
    zones, with the per-group checksum and the total count."""
    zone = FX.zone_id_sql("lon", "lat")
    tile = quadkey_sql("lon", "lat", z)
    return f"""
        WITH g AS (
          SELECT {zone} AS zone_id, {tile} AS tile, COUNT(*) AS n
          FROM read_parquet('{parquet_glob}') GROUP BY 1, 2
        )
        SELECT {duck_checksum_sql(['zone_id', 'tile', 'n'])},
               CAST(SUM(n) AS BIGINT) AS total
        FROM g
    """


def tile_counts_sql(parquet_glob: str, z: int) -> str:
    tile = quadkey_sql("lon", "lat", z)
    return f"""
        WITH g AS (
          SELECT {tile} AS tile, COUNT(*) AS n
          FROM read_parquet('{parquet_glob}') GROUP BY 1
        )
        SELECT {duck_checksum_sql(['tile', 'n'])} FROM g
    """


# ------------------------------------------------------------------
# brute force (numpy), per zone layer
# ------------------------------------------------------------------

def _zone_geoms(zones_pdf):
    return [
        (int(r.zone_id), W.decode_wkb(bytes(r.geom)),
         (r.bbox_xmin, r.bbox_ymin, r.bbox_xmax, r.bbox_ymax))
        for r in zones_pdf.itertuples()
    ]


def _contained(px, py, zones):
    """(point index, zone id) of every point inside every zone, by
    bbox cull then ray-cast parity over all rings."""
    pi, zi = [], []
    for zid, g, (x0, y0, x1, y1) in zones:
        cand = np.flatnonzero((px >= x0) & (px <= x1) & (py >= y0) & (py <= y1))
        if len(cand) == 0:
            continue
        hit = cand[G.points_in_polygon(px[cand], py[cand], g)]
        pi.append(hit)
        zi.append(np.full(len(hit), zid, dtype=np.int64))
    if not pi:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    return np.concatenate(pi), np.concatenate(zi)


def _top_k(d, k: int):
    """Column indices of each row's k smallest values, ordered by (value,
    index) -- a stable argsort's first k columns, without sorting whole
    rows."""
    if d.shape[1] <= k + 1:
        return np.argsort(d, axis=1, kind="stable")[:, :k]
    part = np.argpartition(d, k, axis=1)[:, :k + 1]
    vals = np.take_along_axis(d, part, axis=1)
    order = np.lexsort((part, vals), axis=-1)
    part = np.take_along_axis(part, order, axis=1)
    vals = np.take_along_axis(vals, order, axis=1)
    # a tie across the k-th place may hide an equal value with a smaller
    # index outside the partition: sort those rows in full
    tie = vals[:, k - 1] == vals[:, k]
    if tie.any():
        part[tie, :k] = np.argsort(d[tie], axis=1, kind="stable")[:, :k]
    return part[:, :k]


def raster_values(w: int, h: int, bands: int):
    """The ``fixtures.raster_cells`` grid in tenths (val = m / 10), with
    its nodata mask, as (band, y, x) arrays."""
    b, y, x = np.meshgrid(
        np.arange(bands), np.arange(h), np.arange(w), indexing="ij"
    )
    m = (x * 7 + y * 13 + b * 17) % 1000
    valid = (x * 31 + y * 29 + b) % 20 != 0
    return m, valid


def layer_expectations(zones_pdf, centers_pdf, ev_id, ev_lon, ev_lat, rd,
                       bands: int, k: int) -> dict:
    """Checksums of pip, kNN, zonal statistics and rasterize for one
    zone layer."""
    zones = _zone_geoms(zones_pdf)
    exp = {}

    # point-in-polygon: (event_id, zone_id) pairs
    pi, zi = _contained(ev_lon, ev_lat, zones)
    exp["pip"] = np_checksum(ev_id[pi], zi)

    # kNN to zone centres: (event_id, zone_id, rank) plus summed distance;
    # targets sorted by id so a stable sort breaks ties by id
    order = np.argsort(centers_pdf["zone_id"].to_numpy(), kind="stable")
    tid = centers_pdf["zone_id"].to_numpy()[order]
    tx = centers_pdf["cx"].to_numpy(np.float64)[order]
    ty = centers_pdf["cy"].to_numpy(np.float64)[order]
    ids, nbr, rank, dsum = [], [], [], 0.0
    for s in range(0, len(ev_id), 8192):
        dx = ev_lon[s:s + 8192, None] - tx[None, :]
        dy = ev_lat[s:s + 8192, None] - ty[None, :]
        d = np.sqrt(dx * dx + dy * dy)
        idx = _top_k(d, k)
        ids.append(np.repeat(ev_id[s:s + 8192], k))
        nbr.append(tid[idx].ravel())
        rank.append(np.tile(np.arange(1, k + 1), len(idx)))
        dsum += float(np.take_along_axis(d, idx, axis=1).sum())
    exp["knn"] = np_checksum(
        np.concatenate(ids), np.concatenate(nbr), np.concatenate(rank)
    )
    exp["knn_dist"] = dsum

    # cover rule: a cell belongs to a zone when its centre is inside
    cx, cy = np.meshgrid(np.arange(rd.width), np.arange(rd.height), indexing="ij")
    cx, cy = cx.ravel(), cy.ravel()
    gx = rd.xoffset + (cx + 0.5) * rd.xscale
    gy = rd.yoffset + (cy + 0.5) * rd.yscale
    ci, czone = _contained(gx, gy, zones)
    x, y = cx[ci], cy[ci]

    # rasterize(valuekey=zone_id, stat=sum): one row per covered cell
    key = x * rd.height + y
    cells, inv = np.unique(key, return_inverse=True)
    burn = np.bincount(inv, weights=czone).astype(np.int64)
    exp["rasterize"] = np_checksum(cells // rd.height, cells % rd.height, burn)

    # zonal statistics: (zone, band, count, sum in tenths, min, max)
    m, valid = raster_values(rd.width, rd.height, bands)
    # every covered cell has a row in each band, nodata included, so a
    # zone whose cells are all nodata still yields a row with count 0
    rows = []
    zone_ids = np.unique(czone)
    for band in range(bands):
        ok = valid[band, y, x]
        mv = m[band, y, x]
        for zid in zone_ids:
            v = mv[(czone == zid) & ok]
            if len(v):
                rows.append((zid, band, len(v), int(v.sum()), int(v.min()), int(v.max())))
            else:
                rows.append((zid, band, 0, 0, 0, 0))
    rows = np.array(rows, dtype=np.int64).T
    exp["zonal"] = np_checksum(rows[0], rows[1], rows[2], rows[3])
    exp["zonal_minmax"] = (int(rows[4].sum()), int(rows[5].sum()))
    return exp
