"""Distributed generic-geometry codec: encode_geojson_tiles /
decode_tile_vertices over the Spark path (LineString + Polygon + Multi*),
plus LoadGeometryScaled semantics (read_feature_lazy.go:342-396)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from vector_tile_go_spark.sparkops.udfs import (decode_tile_vertices,
                                                encode_geojson_tiles)


def _mk_df(spark, rows, nesting=3):
    schema = ("z int, x bigint, y bigint, feature_id bigint, "
              "coords array<array<array<double>>>, props map<string,string>")
    return spark.createDataFrame(rows, schema)


def test_polygon_winding_and_closure(spark):
    # counter-clockwise input ring (screen coords): encoder must reverse it
    ring = [[10.0, 10.0], [20.0, 10.0], [15.0, 20.0]]
    df = _mk_df(spark, [(0, 0, 0, 7, [ring], {"k": "v"})])
    tiles = encode_geojson_tiles(df, "Polygon", layer_name="t")
    v = decode_tile_vertices(tiles).toPandas().sort_values("pt_idx")
    assert list(v["geojson_type"].unique()) == ["Polygon"]
    assert len(v) == 4  # 3 vertices + explicit closing point
    assert v.iloc[0]["ix"] == v.iloc[3]["ix"]
    assert v.iloc[0]["iy"] == v.iloc[3]["iy"]
    # exterior must decode clockwise in tile coords (y down): shoelace > 0
    pts = v[["ix", "iy"]].to_numpy(np.float64)
    w = np.sum((pts[1:, 0] - pts[:-1, 0]) * (pts[1:, 1] + pts[:-1, 1]))
    assert w > 0


def test_linestring_zero_delta_drop(spark):
    # two consecutive identical points: LinePoint drops the duplicate
    line = [[0.0, 0.0], [10.0, 10.0], [10.0, 10.0], [20.0, 0.0]]
    df = _mk_df(spark, [(0, 0, 0, 3, [line], {})])
    tiles = encode_geojson_tiles(df, "LineString", layer_name="t")
    v = decode_tile_vertices(tiles).toPandas()
    assert list(v["geojson_type"].unique()) == ["LineString"]
    assert len(v) == 3  # duplicate dropped (write_geometry.go:116-125)


def test_scaled_decode_round_half_away(spark):
    line = [[-10.0, -10.0], [10.0, 10.0], [30.0, -5.0]]
    df = _mk_df(spark, [(0, 0, 0, 3, [line], {})])
    tiles = encode_geojson_tiles(df, "LineString", layer_name="t")
    v = decode_tile_vertices(tiles, scale_dim=16.0).toPandas()
    for _, r in v.iterrows():
        for a, b in (("ix", "sx"), ("iy", "sy")):
            f = r[a] / 16.0
            expect = int(np.sign(f) * np.floor(abs(f) + 0.5))
            assert r[b] == expect


def test_feature_id_zero_is_absent(spark):
    df = _mk_df(spark, [(0, 0, 0, 0, [[[1.0, 1.0], [2.0, 2.0]]], {})])
    tiles = encode_geojson_tiles(df, "LineString", layer_name="t")
    v = decode_tile_vertices(tiles).toPandas()
    # id 0 is "no id" on the wire (read_tile.go:342-343)
    assert v["feature_id"].isna().all()


def test_feature_id_rule_on_every_encoder(spark):
    """One feature-id rule on every encoder, read back by decode_tiles:
    -1 goes on the wire as its uint64 bits and comes back as -1, 0 is
    absent (null), 2**40 is unchanged."""
    from vector_tile_go_spark.sparkops.udfs import (decode_tiles,
                                                    encode_point_tiles)
    ids = [-1, 0, 2**40]
    points = spark.createDataFrame(pd.DataFrame({
        "z": [8] * 3, "x": [100] * 3, "y": [97] * 3,
        "lng": [-38.0, -38.01, -38.02], "lat": [40.0] * 3, "doc_id": ids,
        "url": ["u"] * 3, "mention_idx": ["0"] * 3}))
    lines = _mk_df(spark, [(6, 10, 20, i, [[[1.0, 1.0], [2.0, 2.0 + i]]],
                            {"k": "v"}) for i in range(3)])
    lines = lines.withColumn(
        "feature_id", F.element_at(F.array(*map(F.lit, ids)),
                                   F.col("feature_id").cast("int") + 1))
    for tiles in (encode_point_tiles(points),
                  encode_geojson_tiles(lines, "LineString")):
        got = decode_tiles(tiles, mode="props").toPandas()["feature_id"]
        assert sorted(got.dropna().astype("int64")) == [-1, 2**40]
        assert got.isna().sum() == 1


def test_multi_features_share_tile_sorted_by_id(spark):
    rows = [(5, 10, 12, 2, [[[1.0, 1.0], [2.0, 2.0]]], {"n": "b"}),
            (5, 10, 12, 1, [[[3.0, 3.0], [4.0, 4.0]]], {"n": "a"})]
    df = _mk_df(spark, rows)
    tiles = encode_geojson_tiles(df, "LineString", layer_name="t")
    assert tiles.count() == 1
    v = decode_tile_vertices(tiles).toPandas()
    assert sorted(v["feature_id"].unique()) == [1, 2]


def test_decode_prop_cols_projection(spark):
    """decode_tiles prop_cols: flat string columns instead of the map, and
    () drops properties entirely — the lazy property projection."""
    import pandas as pd

    from vector_tile_go_spark.sparkops.udfs import (decode_tiles,
                                                    encode_point_tiles)
    pdf = pd.DataFrame({
        "z": [8] * 4, "x": [100, 100, 101, 101], "y": [97] * 4,
        "lng": [-38.0, -38.01, -36.6, -36.61], "lat": [40.0, 40.01, 40.0, 40.01],
        "doc_id": [1, 2, 3, 4],
        "url": [f"https://www.ex.org/doc/{i}" for i in range(4)],
        "mention_idx": ["0", "1", "0", "1"]})
    df = spark.createDataFrame(pdf)
    tiles = encode_point_tiles(df, layer_name="geo",
                               prop_cols=("url", "mention_idx"))
    flat = decode_tiles(tiles, mode="props",
                        prop_cols=("url",)).toPandas()
    assert "url" in flat.columns and "properties" not in flat.columns
    assert sorted(flat["url"]) == sorted(pdf["url"])
    none = decode_tiles(tiles, mode="props", prop_cols=()).toPandas()
    assert "properties" not in none.columns and "url" not in none.columns
    assert len(none) == 4
    full = decode_tiles(tiles, mode="props").toPandas()
    assert sorted(p["url"] for p in full["properties"]) == sorted(pdf["url"])


def test_multilinestring_roundtrip(spark):
    lines = [[[0.0, 0.0], [10.0, 10.0]], [[20.0, 0.0], [30.0, 5.0], [40.0, 0.0]]]
    df = _mk_df(spark, [(0, 0, 0, 3, lines, {})])
    tiles = encode_geojson_tiles(df, "MultiLineString", layer_name="t")
    v = decode_tile_vertices(tiles).toPandas()
    assert list(v["geojson_type"].unique()) == ["MultiLineString"]
    assert sorted(v.groupby("ring_idx").size().tolist()) == [2, 3]


def test_decode_quarantine_corrupt_tiles(spark):
    """quarantine=True: corrupt tile bytes become error rows instead of
    failing the stage (the reference's per-tile panic/recover,
    read_tile.go:79-84, at distributed scale)."""
    import pandas as pd

    from vector_tile_go_spark.codec.encode import encode_layer
    from vector_tile_go_spark.sparkops.udfs import decode_tiles
    good = encode_layer([{"type": "Point", "coordinates": [1.0, 1.0],
                          "properties": {"k": "v"}, "id": 7}], 0, 0, 0, "t")
    # frame claims 5 body bytes but the buffer ends mid-varint -> IndexError
    corrupt = b"\x1a\x05\x0a\x84"
    pdf = pd.DataFrame({"z": [0, 0], "x": [0, 1], "y": [0, 0],
                        "tile_pbf": [good, corrupt]})
    tiles = spark.createDataFrame(pdf)
    out = decode_tiles(tiles, mode="props", quarantine=True).toPandas()
    ok = out[out["error"].isna()]
    bad = out[out["error"].notna()]
    assert len(ok) == 1 and ok.iloc[0]["feature_id"] == 7
    assert len(bad) == 1 and bad.iloc[0]["x"] == 1


def test_bulk_geom_stream_multi_tile_batches(spark):
    """Regression (round 5): the bulk stream's mid-batch emit must trim
    trailing pending rows — with few partitions a single Arrow batch
    carries MANY tiles plus a partial tail, which crashed the kernel's
    exact-coverage assumption before the fix."""
    import pandas as pd
    from pyspark.sql import functions as F

    import vector_tile_go_spark.tilemath as tm
    from vector_tile_go_spark.codec.encode import encode_layer
    from vector_tile_go_spark.sparkops.udfs import encode_geojson_tiles
    z = 6
    rows = []
    for t in range(12):           # 12 tiles, 3 triangles each
        x, y = 10 + t, 20
        w, s, e, n = map(float, tm.tile_bounds(z, x, y))
        for i in range(3):
            tri = [[w + (0.1 + 0.05 * i) * (e - w), s + 0.1 * (n - s)],
                   [w + 0.6 * (e - w), s + (0.2 + 0.1 * i) * (n - s)],
                   [w + 0.3 * (e - w), s + 0.8 * (n - s)]]
            rows.append((z, x, y, i + 1, [tri], {"nk": str(i)}))
    df = spark.createDataFrame(
        rows, "z int, x long, y long, feature_id long, "
              "coords array<array<array<double>>>, "
              "props map<string,string>")
    out = {(r["x"]): r for r in
           encode_geojson_tiles(df, "Polygon", layer_name="g",
                                n_partitions=2).collect()}
    assert len(out) == 12
    for t in range(12):
        x, y = 10 + t, 20
        w, s, e, n = tm.tile_bounds(z, x, y)
        feats = [{"type": "Polygon",
                  "coordinates": [[[w + (0.1 + 0.05 * i) * (e - w),
                                    s + 0.1 * (n - s)],
                                   [w + 0.6 * (e - w),
                                    s + (0.2 + 0.1 * i) * (n - s)],
                                   [w + 0.3 * (e - w), s + 0.8 * (n - s)]]],
                  "properties": {"nk": str(i)}, "id": i + 1}
                 for i in range(3)]
        want = encode_layer(feats, z, x, y, "g", extent_clamp=False)
        assert bytes(out[x]["tile_pbf"]) == want
        assert out[x]["n_features"] == 3


def test_bulk_geom_stream_nonuniform_props_fallback(spark):
    """Rows with differing prop-key sets share one tile through the bulk
    stream UDF — output bytes equal encode_layer."""
    from pyspark.sql import functions as F  # noqa: F401

    import vector_tile_go_spark.tilemath as tm
    from vector_tile_go_spark.codec.encode import encode_layer
    from vector_tile_go_spark.sparkops.udfs import encode_geojson_tiles
    z, x, y = 6, 10, 20
    w, s, e, n = map(float, tm.tile_bounds(z, x, y))
    tri1 = [[w + .1 * (e - w), s + .1 * (n - s)],
            [w + .6 * (e - w), s + .2 * (n - s)],
            [w + .3 * (e - w), s + .8 * (n - s)]]
    tri2 = [[w + .2 * (e - w), s + .1 * (n - s)],
            [w + .7 * (e - w), s + .3 * (n - s)],
            [w + .4 * (e - w), s + .9 * (n - s)]]
    rows = [(z, x, y, 1, [tri1], {"nk": "0"}),
            (z, x, y, 2, [tri2], {"other": "1"})]   # different key set
    df = spark.createDataFrame(
        rows, "z int, x long, y long, feature_id long, "
              "coords array<array<array<double>>>, "
              "props map<string,string>")
    out = encode_geojson_tiles(df, "Polygon", layer_name="g").collect()
    assert len(out) == 1
    feats = [{"type": "Polygon", "coordinates": [tri1],
              "properties": {"nk": "0"}, "id": 1},
             {"type": "Polygon", "coordinates": [tri2],
              "properties": {"other": "1"}, "id": 2}]
    want = encode_layer(feats, z, x, y, "g", extent_clamp=False)
    assert bytes(out[0]["tile_pbf"]) == want


def _encode_batch(monkeypatch, geom_type, rows, coords_type):
    """No Spark: rows (z, x, y, feature_id, coords, props dict or None),
    sorted by tile (one z and y), as one batch of complete tile groups
    through the encode UDF's batch body. Returns (output columns,
    encode_geom_tiles_bulk call count)."""
    import pyarrow as pa

    from vector_tile_go_spark.codec import encode_fast
    from vector_tile_go_spark.sparkops import udfs
    calls = []
    kernel = encode_fast.encode_geom_tiles_bulk

    def counting(*a, **k):
        calls.append(1)
        return kernel(*a, **k)

    monkeypatch.setattr(encode_fast, "encode_geom_tiles_bulk", counting)
    rb = pa.RecordBatch.from_arrays([
        pa.array([r[0] for r in rows], pa.int32()),
        pa.array([r[1] for r in rows], pa.int64()),
        pa.array([r[2] for r in rows], pa.int64()),
        pa.array([r[3] for r in rows], pa.int64()),
        pa.array([r[4] for r in rows], coords_type),
        pa.array([r[5] and list(r[5].items()) for r in rows],
                 pa.map_(pa.string(), pa.string()))],
        names=["z", "x", "y", "feature_id", "coords", "props"])
    xs = np.array([r[1] for r in rows])
    starts = np.flatnonzero(np.diff(xs, prepend=-1))
    ends = np.append(starts[1:], len(rows))
    out = udfs._geom_tiles(rb, starts, ends, geom_type, "map", "g", 4096,
                           False).to_pydict()
    return out, len(calls)


def _assert_tiles_match_scalar(out, geom_type, rows, to_geojson):
    from vector_tile_go_spark.codec.encode import encode_layer
    for z, x, y, buf in zip(out["z"], out["x"], out["y"], out["tile_pbf"]):
        feats = [{"type": geom_type, "coordinates": to_geojson(r[4]),
                  "properties": r[5], "id": r[3] or None}
                 for r in rows if r[:3] == (z, x, y)]
        assert buf == encode_layer(feats, z, x, y, "g",
                                   extent_clamp=False), (geom_type, x)


def test_nonuniform_tile_falls_back_alone(monkeypatch):
    """No Spark: one batch of five tiles whose rows carry different
    prop-key sets goes through ONE encode_geom_tiles_bulk call, and
    every tile equals encode_layer: a tile with two key sets, keys
    indexed by first appearance across features ({b} then {a, b}), a
    null map beside keyed rows, and feature id 0 absent. A LineString
    batch with an aborted (degenerate) feature in a non-uniform tile and
    a 4-level MultiPolygon batch take one call each too."""
    import pyarrow as pa

    import vector_tile_go_spark.tilemath as tm
    from vector_tile_go_spark.codec.decode import parse_tile
    z, y = 6, 20
    props = {10: [{"k": "a"}, {"k": "b"}],
             11: [{"k": "a"}, {"other": "1"}],        # two key sets
             12: [{"k": "c", "m": "x"}, {"m": "y", "k": "c"}],
             13: [{"b": "1"}, {"a": "2", "b": "3"}],  # keys: b, then a
             14: [None, {"k": "a"}]}                  # null map: no tags
    polys, lines, mpolys = [], [], []
    for x, ps in props.items():
        w, s, e, n = map(float, tm.tile_bounds(z, x, y))

        def pt(fx, fy):
            return [w + fx * (e - w), s + fy * (n - s)]

        for i, p in enumerate(ps):
            tri = [pt(.1 + .1 * i, .1), pt(.6, .2), pt(.3, .8)]
            hole = [pt(.25, .3), pt(.35, .3), pt(.3, .4)]
            fid = i + (x not in (10, 11))              # ids 0 too
            polys.append((z, x, y, fid, [tri], p))
            line = [pt(.1 * i, .2), pt(.5, .1 * (i + 2))]
            if x == 11 and not i:                      # degenerate: aborted
                line = [pt(.1, .1), pt(.1 + 1e-12, .1)]
            lines.append((z, x, y, fid, [line], p))
            mpolys.append((z, x, y, fid, [[tri, hole], [tri]], p))
    l3 = pa.list_(pa.list_(pa.list_(pa.float64())))
    out, calls = _encode_batch(monkeypatch, "Polygon", polys, l3)
    assert calls == 1
    assert out["n_features"] == [2, 2, 2, 2, 2]
    _assert_tiles_match_scalar(out, "Polygon", polys, lambda c: c)
    (layer,) = parse_tile(out["tile_pbf"][3])
    assert layer.keys == ["b", "a"]
    out, calls = _encode_batch(monkeypatch, "LineString", lines, l3)
    assert calls == 1
    _assert_tiles_match_scalar(out, "LineString", lines, lambda c: c[0])
    (layer,) = parse_tile(out["tile_pbf"][1])
    assert len(layer.feature_spans) == 1
    assert layer.keys == ["k", "other"]  # the aborted feature's key stays
    out, calls = _encode_batch(monkeypatch, "MultiPolygon", mpolys,
                               pa.list_(l3))
    assert calls == 1
    _assert_tiles_match_scalar(out, "MultiPolygon", mpolys, lambda c: c)


def test_persisted_encode_is_coalesced(spark):
    """A persisted encode of a few tiles is sized by its shuffle bytes:
    AQE coalesces the un-numbered repartition even on a cached plan, so it
    holds fewer partitions than spark.sql.shuffle.partitions, and its
    tiles are byte-identical to a pinned two-partition encode."""
    rows = [(6, 10 + t, 20, i + 1, [[[0.1 * t, 0.2 * i], [0.3, 0.4 + t]]],
             {"nk": str(i)}) for t in range(12) for i in range(3)]
    df = _mk_df(spark, rows)
    tiles = encode_geojson_tiles(df, "LineString", layer_name="g").persist()
    try:
        assert tiles.count() == 12
        assert tiles.rdd.getNumPartitions() < int(
            spark.conf.get("spark.sql.shuffle.partitions"))
        pinned = encode_geojson_tiles(df, "LineString", layer_name="g",
                                      n_partitions=2)
        got = sorted(tuple(r) for r in tiles.collect())
        assert got == sorted(tuple(r) for r in pinned.collect())
    finally:
        tiles.unpersist()
