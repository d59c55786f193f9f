"""Geobuf codec tests: feature round-trip, stream framing, and transcode
parity with the direct GeoJSON->MVT encode path (the reference's
WriteLayerGeobuf contract, write_layer.go:218-267 / write_feature.go:214-351).
"""

import numpy as np
import pytest

from vector_tile_go_spark.codec import geobuf as gb
from vector_tile_go_spark.codec.decode import decode_tile
from vector_tile_go_spark.codec.encode import encode_layer

FEATURES = [
    {"type": "Point", "coordinates": [-122.41, 37.77],
     "properties": {"name": "sf", "pop": 873965, "flag": True}, "id": 7},
    {"type": "MultiPoint", "coordinates": [[10.1, 20.2], [30.3, -40.4]],
     "properties": {"k": 1.5}},
    {"type": "LineString",
     "coordinates": [[0.0, 0.0], [1.0, 1.0], [2.0, 0.5]],
     "properties": {"hwy": "a1"}},
    {"type": "MultiLineString",
     "coordinates": [[[0, 0], [5, 5]], [[1, 1], [2, 3], [4, 4]]],
     "properties": {}},
    {"type": "Polygon",
     "coordinates": [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
                     [[2, 2], [3, 2], [3, 3], [2, 2]]],
     "properties": {"area": "x"}},
    {"type": "MultiPolygon",
     "coordinates": [[[[0, 0], [4, 0], [4, 4], [0, 0]]],
                     [[[20, 20], [24, 20], [24, 24], [20, 20]]]],
     "properties": {"z": 9}},
]


def _flat(c):
    out = []

    def rec(x):
        if isinstance(x, (int, float)):
            out.append(float(x))
        else:
            for y in x:
                rec(y)
    rec(c)
    return np.array(out)


@pytest.mark.parametrize("feat", FEATURES, ids=[f["type"] for f in FEATURES])
def test_feature_roundtrip(feat):
    b = gb.encode_geobuf_feature(feat["type"], feat["coordinates"],
                                 feat.get("properties"), feat.get("id"))
    fid, props, gt, coords = gb.decode_geobuf_feature(b)
    assert gt == feat["type"]
    assert fid == feat.get("id")
    # 1e7 quantization: coordinates survive to ~1e-7 degrees
    assert np.allclose(_flat(feat["coordinates"]), _flat(coords), atol=1e-6)
    for k, v in feat.get("properties", {}).items():
        if isinstance(v, float):
            assert abs(props[k] - v) < 1e-9
        else:
            assert props[k] == v


def test_stream_framing():
    msgs = [gb.encode_geobuf_feature(f["type"], f["coordinates"],
                                     f.get("properties"), f.get("id"))
            for f in FEATURES]
    blob = gb.frame_stream(msgs)
    assert list(gb.iter_stream(blob)) == msgs


def test_transcode_matches_direct_encode():
    """Geobuf->MVT transcode must be byte-identical to directly encoding the
    quantized features (the reference routes both through the same cursor
    builders, write_feature.go:317-341)."""
    msgs = [gb.encode_geobuf_feature(f["type"], f["coordinates"],
                                     f.get("properties"), f.get("id"))
            for f in FEATURES]
    layer_t = gb.transcode_geobuf_layer(gb.frame_stream(msgs), 0, 0, 0, "l")
    qfeats = []
    for m in msgs:
        fid, props, gt, coords = gb.decode_geobuf_feature(m)
        qfeats.append({"type": gt, "coordinates": coords,
                       "properties": props, "id": fid})
    assert layer_t == encode_layer(qfeats, 0, 0, 0, "l")
    feats = decode_tile(layer_t, 0, 0, 0)
    assert len(feats) == len(FEATURES)


def test_value_variant_preserved_through_transcode():
    """Each of the 7 MVT value wire types survives geobuf->MVT->decode."""
    props = {"s": "str", "f32": np.float32(1.25), "f64": 2.5,
             "i": -3, "u": np.uint64(9), "b": False}
    m = gb.encode_geobuf_feature("Point", [1.0, 2.0], props, 1)
    layer = gb.transcode_geobuf_layer(gb.frame_stream([m]), 0, 0, 0, "l")
    ((_, feat),) = decode_tile(layer, 0, 0, 0)
    got = feat.properties
    assert got["s"] == "str" and got["f64"] == 2.5
    assert abs(float(got["f32"]) - 1.25) < 1e-6
    assert got["i"] == -3 and got["u"] == 9 and got["b"] is False


def test_transcode_tiles_skips_null_row(spark):
    """A null geobuf row is skipped, as every decoder skips a null tile;
    the other rows are transcoded unchanged."""
    from vector_tile_go_spark.sparkops.udfs import transcode_geobuf_tiles
    blobs = [gb.frame_stream([gb.encode_geobuf_feature(
        "Point", [1.0 + i, 2.0], {"k": str(i)}, i + 1)]) for i in range(2)]
    df = spark.createDataFrame(
        [(0, 0, 0, blobs[0], 1), (0, 1, 0, None, 3), (0, 2, 0, blobs[1], 1)],
        "z int, x bigint, y bigint, geobuf binary, n_features int")
    got = {r["x"]: (bytes(r["tile_pbf"]), r["n_features"])
           for r in transcode_geobuf_tiles(df, "l").collect()}
    assert got == {
        0: (gb.transcode_geobuf_layer(blobs[0], 0, 0, 0, "l"), 1),
        2: (gb.transcode_geobuf_layer(blobs[1], 0, 2, 0, "l"), 1)}
