"""Differential guard for the one layer decode (codec.decode.
decode_layer_columns) and the decode UDFs that project it.

One mixed tile set: a conforming encoder point layer, a foreign uniform
point layer (keys in a different order per feature, out-of-range tag
indices, a repeated key, an absent id), a layer with ids >= 2^63, a
Polygon + LineString tile, a two-frame salted tile, a point tile over the
4 KB size router, a tile whose last feature is truncated and a corrupt
tile. Without Spark the layer columns must equal a decode_feature walk of
each layer; through Spark every decode_tiles variant must equal rows
built from that walk, and the fused decoders and the header scan the
matching groupBy over decode_tiles.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_tile_go_spark import tilemath as tm
from vector_tile_go_spark.codec.decode import (bulk_point_layer,
                                               decode_feature,
                                               decode_layer_columns,
                                               parse_tile)
from vector_tile_go_spark.codec.encode import encode_layer
from vector_tile_go_spark.codec.values import write_value
from vector_tile_go_spark.codec.wire import encode_varint
from vector_tile_go_spark.sparkops.udfs import (decode_tile_point_agg,
                                                decode_tile_stats,
                                                decode_tiles, tile_stats)

Z, X, Y = 12, 701, 1635


def _lnglat(i, k=0):
    w, s, e, n = tm.tile_bounds(Z, X + k, Y)
    return [w + (e - w) * (0.1 + 0.003 * (i % 250)),
            s + (n - s) * (0.2 + 0.002 * (i % 300))]


def _points(k, ids, name="geo"):
    return encode_layer(
        [{"id": fid, "type": "Point", "coordinates": _lnglat(i, k),
          "properties": {"url": f"u{i % 3}", "mention_idx": str(i)}}
         for i, fid in enumerate(ids)], Z, X + k, Y, name)


def _field(tag, payload):
    return bytes([tag]) + encode_varint(len(payload)) + payload


def _packed(vals):
    return b"".join(encode_varint(v) for v in vals)


def _zz(v):
    return 2 * v if v >= 0 else -2 * v - 1


def _foreign_points():
    """A uniform point layer (bulk_point_layer takes it) that no encoder
    here writes: keys in a different order per feature, out-of-range key
    and value indices, a repeated key and an absent id."""
    tags = [[0, 0, 1, 1],   # url=a, kind=b
            [1, 2, 0, 3],   # kind=c, url=7
            [5, 0, 0, 9],   # out-of-range key -> "", value -> ""
            [0, 1, 0, 2]]   # repeated url: the last value wins
    feats = b"".join(_field(0x12, (
        b"\x08" + encode_varint(fid) + _field(0x12, _packed(t))
        + b"\x18\x01" + _field(0x22, _packed([9, _zz(10 * fid), _zz(3)]))))
        for fid, t in zip([1, 2, 3, 0], tags))
    body = (_field(0x0A, b"foreign") + feats + _field(0x1A, b"url")
            + _field(0x1A, b"kind")
            + b"".join(write_value(v) for v in ("a", "b", "c", 7))
            + b"\x28" + encode_varint(4096) + b"\x78\x02")
    return _field(0x1A, body)


def _truncated_feature():
    """A walk layer whose last feature ends the buffer mid-field."""
    good = _field(0x12, b"\x08\x05\x18\x01" + _field(0x22, _packed([9, 4, 6])))
    body = (_field(0x0A, b"cut") + b"\x28" + encode_varint(4096) + good
            + _field(0x12, b"\x08"))
    return _field(0x1A, body)


def _polygon_line_tile(k):
    w, s, e, n = tm.tile_bounds(Z, X + k, Y)

    def p(fx, fy):
        return [w + (e - w) * fx, s + (n - s) * fy]

    ring = [p(.1, .1), p(.1, .4), p(.4, .4), p(.4, .1), p(.1, .1)]
    hole = [p(.2, .2), p(.3, .2), p(.3, .3), p(.2, .3), p(.2, .2)]
    other = [p(.6, .6), p(.6, .9), p(.9, .9), p(.9, .6), p(.6, .6)]
    polys = encode_layer([
        {"id": 11, "type": "Polygon", "coordinates": [ring, hole],
         "properties": {"kind": "building", "levels": 3, "tall": False}},
        {"id": 12, "type": "MultiPolygon",
         "coordinates": [[ring], [other]], "properties": {"kind": "park"}},
    ], Z, X + k, Y, "polys")
    lines = encode_layer([
        {"id": 21, "type": "LineString",
         "coordinates": [p(.1, .9), p(.5, .5), p(.9, .1)],
         "properties": {"speed": 30.5, "name": "road"}},
        {"id": 22, "type": "MultiLineString",
         "coordinates": [[p(.1, .1), p(.2, .2)], [p(.7, .7), p(.8, .9)]],
         "properties": {}},
    ], Z, X + k, Y, "lines")
    return polys + lines


GOOD = [
    _points(0, range(1, 9)),                       # conforming, bulk
    _foreign_points(),                             # foreign, bulk
    _points(2, [-1, 5, 2**63 + 7]),                # ids >= 2^63: walk
    _polygon_line_tile(3),                         # two walk layers
    _points(4, [1, 2, 3]) + _points(4, [4, 5]),    # two-frame salted tile
    _points(5, range(1, 401)),                     # > 4 KB: size router
]
BAD = [_truncated_feature(), b"\x1a\x05\x0a\x84"]  # feature / tile error


def _walk(lf, mode):
    out, errors = [], 0
    for span in lf.feature_spans:
        try:
            out.append(decode_feature(lf, span, mode=mode))
        except Exception:  # noqa: BLE001 — counted, compared below
            errors += 1
    return out, errors


def _same(a, b):
    return (a == b and type(a) is type(b)) or (
        isinstance(a, float) and math.isnan(a) and math.isnan(b))


def test_layer_columns_equal_the_walk():
    assert len(GOOD[5]) > 4096
    bulk_layers = 0
    for buf in GOOD + BAD[:1]:
        for lf in parse_tile(buf):
            bulk_layers += bulk_point_layer(lf) is not None
            for mode in ("int", "props"):
                lc = decode_layer_columns(lf, mode)
                feats, errors = _walk(lf, mode)
                assert len(lc.errors) == errors
                assert len(lc.ids) == len(feats) == len(lc.offsets) - 1
                assert lc.extent == lf.extent
                for i, f in enumerate(feats):
                    assert int(lc.ids[i]) == (f.feature_id or 0)
                    assert lc.geom_type[i] == f.geom_type
                    assert lc.geojson_type[i] == f.geojson_type
                    first = ((f.xs[0], f.ys[0]) if len(f.xs)
                             else (math.nan, math.nan))
                    assert _same(float(lc.px[i]), float(first[0]))
                    assert _same(float(lc.py[i]), float(first[1]))
                    o0, o1 = lc.offsets[i], lc.offsets[i + 1]
                    got = dict(zip(lc.keys[o0:o1], lc.values[o0:o1]))
                    assert o1 - o0 == len(got) == len(f.properties)
                    for k, v in f.properties.items():
                        assert _same(got[k], v), (lf.name, i, k)
    # conforming, foreign, salted (2) and the > 4 KB tile take the bulk path
    assert bulk_layers == 5
    lc = decode_layer_columns(parse_tile(GOOD[1])[0])
    props = [dict(zip(lc.keys[a:b], lc.values[a:b]))
             for a, b in zip(lc.offsets[:-1], lc.offsets[1:])]
    assert props == [{"url": "a", "kind": "b"}, {"kind": "c", "url": 7},
                     {"": "a", "url": ""}, {"url": "c"}]


def _tiles_df(spark, bufs):
    # plus a null tile, which every decoder skips
    return spark.createDataFrame(
        [(Z, X + k, Y, b) for k, b in enumerate([*bufs, None])],
        "z int, x bigint, y bigint, tile_pbf binary")


def _error_row(x, prop_cols):
    return (Z, x, Y, None, None, None, None, None, None,
            {} if prop_cols is None else (None,) * len(prop_cols), True)


def _expected_rows(bufs, mode, prop_cols):
    """decode_tiles' rows built from the per-feature walk."""
    rows = []
    for k, buf in enumerate(bufs):
        x = X + k
        try:
            frames = parse_tile(buf)
        except Exception:  # noqa: BLE001 — a parse error row
            rows.append(_error_row(x, prop_cols))
            continue
        for lf in frames:
            feats, errors = _walk(lf, "props" if mode == "props" else "int")
            for f in feats:
                fid = f.feature_id
                if fid is not None and fid >= 2**63:
                    fid -= 2**64
                lng = lat = None
                if mode != "props" and len(f.xs):
                    lng, lat = float(f.xs[0]), float(f.ys[0])
                    if mode == "lnglat":
                        a, b = tm.project_tile_to_lnglat(
                            np.array([lng]), np.array([lat]), Z, x, Y,
                            lf.extent)
                        lng, lat = float(a[0]), float(b[0])
                props = {k: str(v) for k, v in f.properties.items()}
                if prop_cols is not None:
                    props = tuple(props.get(c) for c in prop_cols)
                rows.append((Z, x, Y, lf.name, fid, f.geom_type,
                             f.geojson_type, lng, lat, props, False))
            rows += [_error_row(x, prop_cols)] * errors
    return rows


def _key(r):
    return tuple(repr(v) for v in r)


def _got_rows(df, prop_cols, quarantine):
    # no coordinates read as null lng/lat, as from the pandas UDF before
    out = []
    for r in df.collect():
        d = r.asDict()
        props = (d["properties"] if prop_cols is None
                 else tuple(d[c] for c in prop_cols))
        out.append((d["z"], d["x"], d["y"], d["layer"], d["feature_id"],
                    d["geom_type"], d["geojson_type"], d["lng"], d["lat"],
                    props, d["error"] is not None if quarantine else False))
    return out


@pytest.mark.parametrize("mode", ["props", "int", "lnglat"])
def test_decode_tiles_match_the_walk(spark, mode):
    for quarantine, bufs in ((False, GOOD), (True, GOOD + BAD)):
        tiles = _tiles_df(spark, bufs)
        for prop_cols in (None, (), ("url", "kind", "missing")):
            got = _got_rows(decode_tiles(tiles, mode=mode,
                                         prop_cols=prop_cols,
                                         quarantine=quarantine),
                            prop_cols, quarantine)
            want = _expected_rows(bufs, mode, prop_cols)
            assert len(got) == len(want)
            for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
                assert g[:7] + g[9:] == w[:7] + w[9:], (g, w)
                for a, b in zip(g[7:9], w[7:9]):
                    assert (a is None and b is None) or abs(a - b) < 1e-9


def test_fused_decoders_match_decode_tiles_groupby(spark):
    tiles = _tiles_df(spark, GOOD)
    feats = decode_tiles(tiles, mode="props")
    want = {tuple(r[:3]): tuple(r[3:]) for r in feats.groupBy("z", "x", "y")
            .agg(F.count("*"),
                 F.countDistinct(F.col("properties")["url"])).collect()}
    got = {tuple(r[:3]): tuple(r[3:])
           for r in decode_tile_stats(tiles).collect()}
    assert got == want

    def agg(z, x, y, pxs, pys, exts):
        ok = ~np.isnan(pxs)
        return (len(pxs), int(ok.sum()), float(pxs[ok].sum()),
                float(pys[ok].sum()), float(exts.max()))

    ints = decode_tiles(tiles, mode="int")
    want = {tuple(r[:3]): tuple(r[3:]) for r in ints.groupBy("z", "x", "y")
            .agg(F.count("*"), F.count("lng"), F.sum("lng"), F.sum("lat"),
                 F.lit(4096.0)).collect()}
    got = {tuple(r[:3]): tuple(r[3:]) for r in decode_tile_point_agg(
        tiles, agg, "n bigint, n_xy bigint, sx double, sy double, "
                    "ext double").collect()}
    assert got == want

    want = {tuple(r[:2]): r[2] for r in
            feats.groupBy("x", "layer").count().collect()}
    got = {tuple(r[:2]): r[2] for r in tile_stats(tiles).groupBy(
        "x", "layer").agg(F.sum("n_features")).collect()}
    assert got == want


def test_decode_tile_stats_quarantines_bad_tiles(spark):
    tiles = _tiles_df(spark, GOOD + BAD)
    out = {r["x"]: r for r in
           decode_tile_stats(tiles, quarantine=True).collect()}
    assert len(out) == len(GOOD + BAD)
    for k in range(len(GOOD), len(GOOD + BAD)):
        assert out[X + k]["error"] and out[X + k]["n_features"] == 0
    good = decode_tile_stats(_tiles_df(spark, GOOD)).collect()
    assert {r["x"]: r["n_features"] for r in good} == {
        x: r["n_features"] for x, r in out.items() if r["error"] is None}
