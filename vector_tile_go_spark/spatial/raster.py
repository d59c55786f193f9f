"""Raster <-> vector tile conversion (north-rule operator).

rasterize: point features of a z tile -> a (2^steps x 2^steps) occupancy /
count grid stored as a binary column (uint16 little-endian, row-major) —
the raster twin of the reference's zoom-reduction sub-cell logic
(feature_reduce.go:193-207 dedups points by occupancy of a z+8 sub-tile;
the raster keeps the counts instead of dropping duplicates).

vectorize: occupied raster cells -> center-point features (lng/lat of the
sub-cell center via the inverse projection, read_feature_lazy.go:54-63) —
so raster tiles re-enter the vector pipeline losslessly at sub-cell
resolution.

Both are applyInPandas/mapInPandas numpy kernels over Arrow batches.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import tilemath as tm

STEPS = 8  # 256 x 256 grid: matches feature_reduce default_steps (go:10)

# Raster wire format: 1 tag byte + payload.
#   tag 0 (sparse): uint32 n, then n x uint32 cell_idx, n x uint32 count
#   tag 1 (dense):  side*side x uint16 counts, row-major
# Sparse wins below ~1/6 occupancy — at web scale most tiles are sparse and
# a dense grid would move side^2*2 bytes per tile through every shuffle.
_DENSE_TAG = b"\x01"
_SPARSE_TAG = b"\x00"


def pack_raster(cells: np.ndarray, counts: np.ndarray, side: int) -> bytes:
    if len(cells) * 8 < side * side * 2 // 6:
        return (_SPARSE_TAG + np.uint32(len(cells)).tobytes()
                + cells.astype("<u4").tobytes() + counts.astype("<u4").tobytes())
    dense = np.zeros(side * side, dtype="<u2")
    dense[cells] = np.minimum(counts, 65535)
    return _DENSE_TAG + dense.tobytes()


def unpack_raster(buf: bytes, side: int) -> tuple[np.ndarray, np.ndarray]:
    """-> (occupied cell indices, counts)."""
    tag, payload = buf[:1], buf[1:]
    if tag == _SPARSE_TAG:
        n = int(np.frombuffer(payload, "<u4", 1)[0])
        cells = np.frombuffer(payload, "<u4", n, 4).astype(np.int64)
        counts = np.frombuffer(payload, "<u4", n, 4 + 4 * n).astype(np.int64)
        return cells, counts
    dense = np.frombuffer(payload, "<u2", side * side)
    cells = np.flatnonzero(dense)
    return cells, dense[cells].astype(np.int64)


def rasterize(entities: DataFrame, steps: int = STEPS) -> DataFrame:
    """(z, x, y, lat, lng) -> (z, x, y, raster binary, n_points, n_occupied).

    Sub-cell index comes from the z+steps slippy tile of each point minus
    the tile origin — identical cell boundaries to the reduce operator, so
    n_occupied == reduce_points.n_kept exactly."""
    side = 1 << steps

    def raster_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # streaming group-by over partition-sorted batches (same pattern as
        # the tile encoder: one Python call per Arrow batch, not per tile)
        pending: pd.DataFrame | None = None

        def raster_slice(pdf, starts, ends):
            zv = pdf["z"].to_numpy()
            xv = pdf["x"].to_numpy()
            yv = pdf["y"].to_numpy()
            sx, sy = tm.lnglat_to_tile(pdf["lng"].to_numpy(),
                                       pdf["lat"].to_numpy(), zv + steps)
            ix = np.clip(sx - xv * side, 0, side - 1)
            iy = np.clip(sy - yv * side, 0, side - 1)
            flat = (iy * side + ix).astype(np.int64)
            rows = []
            for s, e in zip(starts, ends):
                cells, cnts = np.unique(flat[s:e], return_counts=True)
                rows.append((int(zv[s]), int(xv[s]), int(yv[s]),
                             pack_raster(cells, cnts, side), int(e - s),
                             len(cells)))
            return pd.DataFrame(rows, columns=["z", "x", "y", "raster",
                                               "n_points", "n_occupied"])

        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            change = np.zeros(len(pdf) - 1, dtype=bool)
            for c in ("z", "x", "y"):
                v = pdf[c].to_numpy()
                change |= v[1:] != v[:-1]
            b = np.flatnonzero(change) + 1
            starts = np.concatenate([[0], b])
            ends = np.concatenate([b, [len(pdf)]])
            if len(starts) > 1:
                yield raster_slice(pdf, starts[:-1], ends[:-1])
            pending = pdf.iloc[starts[-1]:]
        if pending is not None and len(pending):
            yield raster_slice(pending.reset_index(drop=True),
                               np.array([0]), np.array([len(pending)]))

    df = entities.select("z", "x", "y", "lat", "lng")
    return (df.repartition("z", "x", "y")
            .sortWithinPartitions("z", "x", "y")
            .mapInPandas(raster_batches,
                         "z int, x bigint, y bigint, raster binary, "
                         "n_points int, n_occupied int"))


def vectorize(rasters: DataFrame, steps: int = STEPS) -> DataFrame:
    """(z, x, y, raster) -> one point row per occupied sub-cell, at the
    sub-cell center, carrying the count."""
    side = 1 << steps

    def vec_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for z, x, y, buf in zip(pdf["z"], pdf["x"], pdf["y"], pdf["raster"]):
                occ, occ_counts = unpack_raster(bytes(buf), side)
                if not len(occ):
                    continue
                iy, ix = np.divmod(occ, side)
                # sub-cell centers via inverse projection at z+steps with a
                # virtual extent of 2 (center = coordinate 1 of 0..2)
                lng, lat = tm.project_tile_to_lnglat(
                    np.ones(len(occ)), np.ones(len(occ)),
                    z + steps, x * side + ix, y * side + iy, 2)
                out.append(pd.DataFrame({
                    "z": int(z), "x": int(x), "y": int(y),
                    "sub_ix": ix.astype(np.int64), "sub_iy": iy.astype(np.int64),
                    "lng": lng, "lat": lat,
                    "n_points": occ_counts.astype(np.int64)}))
            yield (pd.concat(out) if out else pd.DataFrame(
                columns=["z", "x", "y", "sub_ix", "sub_iy", "lng", "lat",
                         "n_points"]))

    return rasters.mapInPandas(
        vec_batch, "z int, x bigint, y bigint, sub_ix bigint, sub_iy bigint, "
                   "lng double, lat double, n_points bigint")
