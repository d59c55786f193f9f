"""Codec kernel probes for the traced run, timed in the benchmark process.

Each probe times, in this process, the kernel a Spark operator runs in its
Python workers, on a fixed seeded sample: the point sample is the start of
the point-mention generator, the geometry sample the start of the polygon
generator. Each kernel runs ``repeats`` times; the median is reported.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import inputs
import reference

from vector_tile_go_spark.codec.decode import (bulk_point_layer,
                                               bulk_point_tile_stats,
                                               decode_feature, parse_tile)
from vector_tile_go_spark.codec.encode_fast import (encode_geom_tiles_bulk,
                                                    encode_point_tiles_bulk,
                                                    flatten_geom_rows)

# decode_tile_stats sends tiles up to this size through the cross-tile
# stats kernel and larger ones through the per-layer bulk point decode
BULK_STATS_MAX_TILE = 4096


def _median_time(fn, repeats: int) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _groups(keys: np.ndarray):
    bounds = np.flatnonzero(np.diff(keys)) + 1
    return np.concatenate([[0], bounds]), np.concatenate([bounds, [len(keys)]])


def point_probe(seed: int, n: int = 20_000, zoom: int = 8, repeats: int = 3):
    p = inputs.point_mentions(seed, n)
    x, y = reference.tile_xy(p["lng"], p["lat"], zoom)
    # the encode operator's sort: tile, then feature id, then props
    order = np.lexsort((p["mention_idx"], p["doc_id"], y, x))
    x, y = x[order], y[order]
    lng, lat, ids = p["lng"][order], p["lat"][order], p["doc_id"][order]
    props = {"url": p["url"][order],
             "mention_idx": p["mention_idx"][order].astype(str).astype(object)}
    starts, ends = _groups(x * (1 << zoom) + y)
    zs = np.full(n, zoom, np.int32)

    def encode():
        return encode_point_tiles_bulk(zs, x, y, lng, lat, ids, props, starts,
                                       ends, "geo", 4096)

    enc_s = _median_time(encode, repeats)
    bufs = encode()
    small = [b for b in bufs if len(b) <= BULK_STATS_MAX_TILE]
    large = [b for b in bufs if len(b) > BULK_STATS_MAX_TILE]

    def decode():
        bulk_point_tile_stats(small, "url")
        for b in large:
            for lf in parse_tile(b):
                bulk_point_layer(lf)

    dec_s = _median_time(decode, repeats)
    return {"encode_us_per_feature": 1e6 * enc_s / n,
            "decode_us_per_feature": 1e6 * dec_s / n,
            "bytes": sum(len(b) for b in bufs), "features": n}


def geom_probe(seed: int, n: int = 1_500, repeats: int = 3):
    g = inputs.geometries(seed, n, 0)
    d = g["poly"]
    order = np.lexsort((d["feature_id"], d["y"], d["x"]))
    x, y, ids = d["x"][order], d["y"][order], d["feature_id"][order]
    rows = [d["rings"][i] for i in order]
    props = {k: np.array([d["props"][i][k] for i in order], dtype=object)
             for k in ("kind", "name")}
    starts, ends = _groups(x * (1 << g["zoom"]) + y)
    zs = np.full(n, g["zoom"], np.int32)
    n_vertices = sum(len(r) for rings in rows for r in rings)

    def encode():
        verts, ring_lens, ring_feat, firsts = flatten_geom_rows("Polygon", rows)
        return encode_geom_tiles_bulk(zs, x, y, ids, props, starts, ends,
                                      "polys", "Polygon", verts, ring_lens,
                                      ring_feat, firsts)[0]

    enc_s = _median_time(encode, repeats)
    bufs = encode()

    def decode():
        # decode_tiles' walk for non-point layers: tile ints per feature
        for b in bufs:
            for lf in parse_tile(b):
                for span in lf.feature_spans:
                    decode_feature(lf, span, mode="int")

    dec_s = _median_time(decode, repeats)
    return {"encode_us_per_vertex": 1e6 * enc_s / n_vertices,
            "decode_us_per_vertex": 1e6 * dec_s / n_vertices,
            "bytes": sum(len(b) for b in bufs), "features": n}


def codec_metrics(seed: int) -> dict[str, float]:
    pt = point_probe(seed)
    gm = geom_probe(seed)
    return {
        "codec.point_encode_us_per_feature": pt["encode_us_per_feature"],
        "codec.point_decode_us_per_feature": pt["decode_us_per_feature"],
        "codec.geom_encode_us_per_vertex": gm["encode_us_per_vertex"],
        "codec.geom_decode_us_per_vertex": gm["decode_us_per_vertex"],
        "codec.wire_bytes_per_feature":
            (pt["bytes"] + gm["bytes"]) / (pt["features"] + gm["features"]),
    }
