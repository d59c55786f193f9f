"""Physical-plan invariants over the registered queries (PLANS.md):

- No CartesianProduct / BroadcastNestedLoopJoin anywhere.
- Python appears only at the codec/kernel boundary: every Python node is
  Arrow-batched (MapInArrow / MapInPandas / FlatMapGroupsInPandas /
  ArrowEvalPython) — never a row-at-a-time BatchEvalPython.
- The generic-geometry encoder is one mapInArrow route for every geometry
  type and both props schemas.
- Every encode shuffle (and rasterize's) is un-numbered, so AQE sizes it
  by bytes, unless the caller pins ``n_partitions``.
- Every decoder (decode_tiles in each mode, prop_cols and quarantine
  variant, the fused decoders, vertex, typed-props and header decode, and
  the geobuf transcode) is a mapInArrow, with no MapInPandas.

Queries whose *construction* triggers driver actions (the escalating kNN
rounds, streaming runs, stateful ops) are exercised by their own tests and
the oracle gate; this test covers the declaratively-built plans.
"""

import pytest

SKIP = {
    # construction runs driver actions / streams; plan string not one tree
    "knn", "hex_knn", "events_stream_windows", "events_stateful_totals",
}

BAD_NODES = ("CartesianProduct", "BroadcastNestedLoopJoin")
ROW_PYTHON = ("BatchEvalPython",)


def _plans(spark, sf_dir):
    from vector_tile_go_spark.queries import QUERIES
    for name, fn in QUERIES.items():
        if name in SKIP:
            continue
        df = fn(spark, sf_dir)
        yield name, df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_or_nested_loop_joins(spark, sf_dir):
    offenders = []
    for name, plan in _plans(spark, sf_dir):
        for bad in BAD_NODES:
            if bad in plan:
                offenders.append((name, bad))
    assert not offenders, offenders


def test_python_only_at_arrow_batched_boundaries(spark, sf_dir):
    offenders = []
    for name, plan in _plans(spark, sf_dir):
        for bad in ROW_PYTHON:
            if bad in plan:
                offenders.append((name, bad))
    assert not offenders, offenders


@pytest.mark.parametrize("props_type", ["map<string,string>", "string"])
def test_geojson_encode_is_one_map_in_arrow(spark, props_type):
    from vector_tile_go_spark.sparkops.udfs import encode_geojson_tiles
    kinds = {"Point": 3, "MultiPoint": 3, "LineString": 3,
             "MultiLineString": 3, "Polygon": 3, "MultiPolygon": 4}
    offenders = []
    for geom_type, depth in kinds.items():
        for levels in {3, depth}:
            coords = "array<" * levels + "double" + ">" * levels
            df = spark.createDataFrame(
                [], f"z int, x long, y long, feature_id long, "
                    f"coords {coords}, props {props_type}")
            plan = encode_geojson_tiles(df, geom_type)._jdf \
                .queryExecution().executedPlan().toString()
            if ("MapInArrow" not in plan or "FlatMapGroupsInPandas" in plan
                    or "MapInPandas" in plan):
                offenders.append((geom_type, levels))
    assert not offenders, offenders


def _decode_plans(spark):
    from vector_tile_go_spark.sparkops import udfs
    tiles = spark.createDataFrame(
        [], "z int, x bigint, y bigint, tile_pbf binary")
    for mode in ("props", "int", "lnglat"):
        for prop_cols in (None, (), ("url",)):
            for quarantine in (False, True):
                yield (mode, prop_cols, quarantine), udfs.decode_tiles(
                    tiles, mode=mode, prop_cols=prop_cols,
                    quarantine=quarantine)
    for quarantine in (False, True):
        yield "decode_tile_stats", udfs.decode_tile_stats(
            tiles, quarantine=quarantine)
    yield "decode_tile_point_agg", udfs.decode_tile_point_agg(
        tiles, lambda z, x, y, xs, ys, exts: (len(xs),), "n bigint")
    for scale_dim in (None, 16.0):
        yield "decode_tile_vertices", udfs.decode_tile_vertices(
            tiles, scale_dim=scale_dim)
    yield "decode_tile_props_typed", udfs.decode_tile_props_typed(
        tiles, {"nk": "bigint", "name": "string"})
    yield "tile_stats", udfs.tile_stats(tiles)
    yield "transcode_geobuf_tiles", udfs.transcode_geobuf_tiles(
        spark.createDataFrame(
            [], "z int, x bigint, y bigint, geobuf binary, n_features int"))


def test_decoders_are_map_in_arrow(spark):
    offenders = []
    for name, df in _decode_plans(spark):
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "MapInArrow" not in plan or "MapInPandas" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_encode_shuffles_sized_by_aqe(spark):
    """Every encoder's repartition (and rasterize's) is un-numbered, so
    AQE may coalesce it; an explicit ``n_partitions`` pins a numbered one."""
    from vector_tile_go_spark.sparkops import udfs
    from vector_tile_go_spark.spatial.raster import rasterize
    pts = spark.createDataFrame(
        [], "z int, x bigint, y bigint, lng double, lat double, "
            "doc_id bigint, url string, mention_idx int")
    feats = spark.createDataFrame(
        [], "z int, x bigint, y bigint, feature_id bigint, "
            "coords array<array<array<double>>>, props map<string,string>")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    for name, df in (
            ("point", udfs.encode_point_tiles(pts)),
            ("salted", udfs.encode_point_tiles_salted(pts)),
            ("geobuf", udfs.encode_geobuf_tiles(pts)),
            ("geojson", udfs.encode_geojson_tiles(feats, "LineString")),
            ("raster", rasterize(pts))):
        p = plan(df)
        assert "REPARTITION_BY_COL" in p and "REPARTITION_BY_NUM" not in p, \
            (name, p)
    for name, df in (
            ("point", udfs.encode_point_tiles(pts, n_partitions=2)),
            ("geobuf", udfs.encode_geobuf_tiles(pts, n_partitions=2)),
            ("geojson", udfs.encode_geojson_tiles(feats, "LineString",
                                                  n_partitions=2))):
        assert "REPARTITION_BY_NUM" in plan(df), name
