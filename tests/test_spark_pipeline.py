"""End-to-end Spark pipeline tests at sf0.001: pages -> extraction -> tiles
-> MVT encode -> decode, plus the driver-contract entry points."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_pages_shape(spark, sf_dir):
    from vector_tile_go_spark.text.pages import build_pages
    pages = build_pages(spark, sf_dir)
    assert [f.name for f in pages.schema.fields] == \
        ["url", "warc_ts", "html", "text", "lang"]
    row = pages.filter(F.col("url").endswith("/doc/2")).first()
    h = row.html.decode("utf-8")
    assert h.startswith("<html><head><title>Doc 2</title>")
    assert f'<p class="main">{row.text}</p>' in h
    assert "<script>" in h and "<nav>" in h and "&amp;" in h
    assert " geo: lat=" in row.text


def test_html_to_text_strip(spark, sf_dir):
    """html_to_text drops script/style/nav/footer subtrees, strips tags,
    decodes entities AFTER stripping, collapses whitespace."""
    from vector_tile_go_spark.text.pages import build_pages, html_to_text
    out = html_to_text(build_pages(spark, sf_dir)) \
        .filter(F.col("url").endswith("/doc/2")).first()
    t = out["extracted_text"]
    assert t.startswith("Doc 2 Doc 2 ")
    assert t.endswith(' Rated 4/5 & "good" <3')
    assert "track(" not in t and "Home" not in t and "color" not in t
    assert "<p" not in t and "&amp;" not in t and "  " not in t
    # entity-encoded markup never becomes live markup
    row = spark.createDataFrame(
        pd.DataFrame({"html": [
            "&lt;script&gt;evil()&lt;/script&gt; ok".encode()]}))
    got = html_to_text(row).first()["extracted_text"]
    assert got == "<script>evil()</script> ok"


def test_extraction_deterministic(spark, sf_dir):
    """Per-row invariant: extracted mention text is byte-identical per url
    across runs (BASELINE.json input_hint)."""
    from vector_tile_go_spark.text.pages import build_pages, extract_geo_entities
    e1 = extract_geo_entities(build_pages(spark, sf_dir)) \
        .orderBy("doc_id", "mention_idx").toPandas()
    e2 = extract_geo_entities(build_pages(spark, sf_dir)) \
        .orderBy("doc_id", "mention_idx").toPandas()
    pd.testing.assert_frame_equal(e1, e2)
    # formula cross-check in python ints
    from vector_tile_go_spark.text import geo
    for _, r in e1.head(20).iterrows():
        lat_udeg = (r.doc_id * geo.LAT_MULT_DOC + r.mention_idx * geo.LAT_MULT_J) \
            % geo.LAT_MOD - geo.LAT_OFF
        assert r.lat == lat_udeg / 1e6


def test_encode_decode_spark_roundtrip(spark, sf_dir):
    from vector_tile_go_spark.queries import entities_df
    from vector_tile_go_spark.sparkops.udfs import decode_tiles, encode_point_tiles
    e = entities_df(spark, sf_dir)
    n_in = e.count()
    tiles = encode_point_tiles(e, prop_cols=("url", "mention_idx"))
    tiles.cache()
    assert tiles.select(F.sum("n_features")).first()[0] == n_in
    feats = decode_tiles(tiles, mode="props")
    assert feats.count() == n_in
    # decoded properties carry the url back out
    sample = feats.limit(5).toPandas()
    assert all(p["url"].startswith("https://") for p in sample["properties"])
    tiles.unpersist()


def test_salted_encode_equivalent(spark, sf_dir):
    """Salted (skew-resistant) encode yields tiles that decode to the same
    feature multiset as the plain encode."""
    from vector_tile_go_spark.queries import entities_df
    from vector_tile_go_spark.sparkops.udfs import (decode_tiles,
                                                    encode_point_tiles,
                                                    encode_point_tiles_salted)
    e = entities_df(spark, sf_dir).filter(F.col("doc_id") < 400)
    plain = decode_tiles(encode_point_tiles(e), mode="props") \
        .select("z", "x", "y", F.col("properties")["url"].alias("url"),
                F.col("properties")["mention_idx"].alias("mi"))
    salted = decode_tiles(encode_point_tiles_salted(e, n_salts=4), mode="props") \
        .select("z", "x", "y", F.col("properties")["url"].alias("url"),
                F.col("properties")["mention_idx"].alias("mi"))
    pd.testing.assert_frame_equal(
        plain.orderBy("z", "x", "y", "url", "mi").toPandas(),
        salted.orderBy("z", "x", "y", "url", "mi").toPandas())


def test_entry_contract(spark):
    import __spark_entry__ as em
    df = em.entry(spark)
    assert df.count() > 0
    qs = em.queries()
    os_ = em.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 10


def test_tile_stats_lazy_scan(spark, sf_dir):
    from vector_tile_go_spark.queries import entities_df
    from vector_tile_go_spark.sparkops.udfs import encode_point_tiles, tile_stats
    e = entities_df(spark, sf_dir)
    tiles = encode_point_tiles(e)
    s = tile_stats(tiles).toPandas()
    assert (s["n_keys"] == 2).all()
    assert (s["extent"] == 4096).all()
    assert (s["version"] == 2).all()


def _point_layers(rows, prop_cols):
    """encode_layer per tile for (z, x, y, lng, lat, doc_id, props...)
    rows in encode_point_tiles' sort order (nulls first); props rendered
    as str()."""
    from vector_tile_go_spark.codec.encode import encode_layer

    def order(r):
        return (r["z"], r["x"], r["y"], r["doc_id"],
                *((r[c] is not None, "" if r[c] is None else r[c])
                  for c in prop_cols))

    tiles = {}
    for r in sorted(rows, key=order):
        tiles.setdefault((r["z"], r["x"], r["y"]), []).append(
            {"type": "Point", "coordinates": [r["lng"], r["lat"]],
             "id": r["doc_id"] or None,
             "properties": {c: str(r[c]) for c in prop_cols}})
    return {k: encode_layer(f, *k, "geo", extent_clamp=True)
            for k, f in tiles.items()}


def test_encode_point_tiles_match_encode_layer(spark, sf_dir):
    """The mapInArrow point encoder (sorted-batch carry + bulk kernel)
    must produce, per tile, the bytes of the scalar encode_layer over the
    same features in the plan's sort order."""
    from pyspark.sql import functions as F
    from vector_tile_go_spark.queries import entities_df
    from vector_tile_go_spark.sparkops.udfs import encode_point_tiles

    e = entities_df(spark, sf_dir).filter(F.col("doc_id") < 500)
    got = {(r["z"], r["x"], r["y"]): bytes(r["tile_pbf"])
           for r in encode_point_tiles(
               e, prop_cols=("url", "mention_idx"), n_partitions=2)
           .collect()}
    rows = [r.asDict() for r in e.select(
        "z", "x", "y", "lng", "lat", "doc_id", "url", "mention_idx")
        .collect()]
    assert got == _point_layers(rows, ("url", "mention_idx")) and got


def test_encode_null_props_match_encode_layer(spark):
    """Null property values encode as the string 'None' (pandas
    astype(str) rendering), byte-identical to encode_layer over str()
    values, and decode back as 'None' — review finding r2."""
    import pandas as pd
    from vector_tile_go_spark import tilemath as tm
    from vector_tile_go_spark.sparkops.udfs import (decode_tiles,
                                                    encode_point_tiles)
    z, x, y = 12, 701, 1635
    w, s, e, n = tm.tile_bounds(z, x, y)
    pdf = pd.DataFrame({
        "z": z, "x": x, "y": y,
        "lng": [w + 0.1 * (e - w) * i for i in range(1, 5)],
        "lat": [s + 0.1 * (n - s) * i for i in range(1, 5)],
        "doc_id": [1, 2, 3, 4],
        "url": ["u1", None, "u3", None],
        "mention_idx": ["0", "1", None, "2"]})
    df = spark.createDataFrame(pdf)
    tiles = encode_point_tiles(df, prop_cols=("url", "mention_idx"))
    got = tiles.collect()
    want = _point_layers(pdf.to_dict("records"), ("url", "mention_idx"))
    assert len(got) == 1
    assert bytes(got[0]["tile_pbf"]) == want[(z, x, y)]
    feats = decode_tiles(tiles, mode="props").collect()
    assert sorted(f["properties"]["url"] for f in feats) == \
        ["None", "None", "u1", "u3"]


def _null_id_entities(spark):
    return spark.createDataFrame(
        [(12, 701, 1635, -38.0, 40.0, 1, "u1", "0"),
         (12, 701, 1635, -38.01, 40.01, None, "u2", "1")],
        "z int, x bigint, y bigint, lng double, lat double, doc_id bigint, "
        "url string, mention_idx string")


@pytest.mark.parametrize("encoder", ["encode_point_tiles",
                                     "encode_point_tiles_salted"])
def test_point_encoders_reject_null_id(spark, encoder):
    """A null doc_id has no int64 feature id to write: the job fails with
    ``null doc_id`` instead of writing -2^63."""
    from vector_tile_go_spark.sparkops import udfs
    tiles = getattr(udfs, encoder)(_null_id_entities(spark))
    with pytest.raises(Exception, match="null doc_id"):
        tiles.collect()


def test_upsert_splice_multirow_existing_keys(spark):
    """An existing table with SEVERAL rows per tile key (per-layer rows)
    must splice the adds exactly once per key and keep the other layer's
    features — review finding r2."""
    import pandas as pd
    from pyspark.sql import functions as F
    from vector_tile_go_spark import tilemath as tm
    from vector_tile_go_spark.sparkops.compositing import upsert_features
    from vector_tile_go_spark.sparkops.udfs import decode_tiles, encode_point_tiles

    z, x, y = 12, 701, 1635
    w, s, e, n = tm.tile_bounds(z, x, y)

    def ents(ids, zoff=0.0):
        return spark.createDataFrame(pd.DataFrame({
            "z": z, "x": x, "y": y,
            "lng": [w + (0.05 * i + zoff) * (e - w) for i in ids],
            "lat": [s + 0.4 * (n - s)] * len(ids),
            "doc_id": ids, "mention_idx": [str(i % 3) for i in ids]}))

    geo = encode_point_tiles(ents([1, 2]), layer_name="geo",
                             prop_cols=("mention_idx",))
    roads = encode_point_tiles(ents([10, 11], 0.3), layer_name="roads",
                               prop_cols=("mention_idx",))
    existing = geo.unionByName(roads)  # two rows, same (z, x, y)
    new = ents([20, 21], 0.6)
    merged = upsert_features(existing, new, layer_name="geo",
                             prop_cols=("mention_idx",), mode="splice")
    rows = merged.collect()
    # per-layer rows survive the upsert: the roads row passes through
    # verbatim with its own label, only the geo row is spliced (ADVICE r2 —
    # the layer column must keep identifying frames)
    assert len(rows) == 2
    by_row_layer = {r["layer"]: r for r in rows}
    assert set(by_row_layer) == {"geo", "roads"}
    roads_orig = roads.collect()[0]["tile_pbf"]
    assert bytes(by_row_layer["roads"]["tile_pbf"]) == bytes(roads_orig)
    from vector_tile_go_spark.codec.decode import parse_tile
    geo_frames = parse_tile(bytes(by_row_layer["geo"]["tile_pbf"]))
    assert all(lf.name == "geo" for lf in geo_frames)
    feats = decode_tiles(merged).collect()
    by_layer = {}
    for f in feats:
        by_layer.setdefault(f["layer"], set()).add(f["feature_id"])
    # adds appended exactly once to geo; roads untouched
    assert by_layer["geo"] == {1, 2, 20, 21}
    assert by_layer["roads"] == {10, 11}
