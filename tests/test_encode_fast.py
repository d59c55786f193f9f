"""The one bulk encoder (encode_geom_tiles_bulk, and the point adapter
encode_point_tiles_bulk on top of it) must be byte-identical to the
canonical per-feature encoder (encode.encode_layer with sorted keys and
id 0 passed as absent)."""

import numpy as np
import pytest

from vector_tile_go_spark.codec.encode import encode_layer
from vector_tile_go_spark.codec.encode_fast import encode_point_tiles_bulk
from vector_tile_go_spark import tilemath as tm


@pytest.mark.parametrize("seed", [1, 7])
def test_bulk_matches_canonical(seed):
    rng = np.random.default_rng(seed)
    n_tiles, z = 20, 12
    rows = []
    for t in range(n_tiles):
        tx = int(rng.integers(0, 1 << z))
        ty = int(rng.integers(0, 1 << z))
        w, s, e, n = tm.tile_bounds(z, tx, ty)
        k = int(rng.integers(1, 8))
        if t == 0:  # top-left corner (bare MoveTo header), and clamped
            for lng, lat in ((w, n), (e + (e - w) / 20, s - (n - s) / 20)):
                rows.append((tx, ty, float(lng), float(lat), 0, "u0", "0"))
        for i in range(k):
            lng = w + (e - w) * rng.random()
            lat = s + (n - s) * rng.random()
            rows.append((tx, ty, float(lng), float(lat),
                         int(rng.integers(0, 50)),  # ids incl. 0 (absent)
                         f"u{rng.integers(0, 5)}", str(int(rng.integers(0, 3)))))
    rows.sort(key=lambda r: (r[0], r[1], r[4], r[5], r[6]))
    xs = np.array([r[0] for r in rows], dtype=np.int64)
    ys = np.array([r[1] for r in rows], dtype=np.int64)
    lng = np.array([r[2] for r in rows])
    lat = np.array([r[3] for r in rows])
    ids = np.array([r[4] for r in rows], dtype=np.int64)
    urls = np.array([r[5] for r in rows], dtype=object)
    mis = np.array([r[6] for r in rows], dtype=object)

    key = xs * (1 << 32) + ys
    b = np.flatnonzero(np.diff(key) != 0) + 1
    starts = np.concatenate([[0], b])
    ends = np.concatenate([b, [len(rows)]])

    bulk = encode_point_tiles_bulk(z, xs, ys, lng, lat, ids,
                                   {"url": urls, "mention_idx": mis},
                                   starts, ends, "geo")
    for gi, (s_, e_) in enumerate(zip(starts, ends)):
        feats = [{"id": int(ids[i]), "type": "Point",
                  "coordinates": [float(lng[i]), float(lat[i])],
                  "properties": {"url": urls[i], "mention_idx": mis[i]}}
                 for i in range(s_, e_)]
        # canonical path: id=0 must be passed as absent (None)
        for f in feats:
            if f["id"] == 0:
                f["id"] = None
        expected = encode_layer(feats, z, int(xs[s_]), int(ys[s_]), "geo",
                                extent_clamp=True)
        assert bulk[gi] == expected, f"tile group {gi} differs"


def test_bulk_noncontiguous_slices_and_array_z():
    """The streaming encoder passes per-row z arrays and holds back the
    trailing incomplete group, so starts/ends may not cover all rows —
    the bulk encoder must gather exactly the referenced rows."""
    rng = np.random.default_rng(3)
    z = 12
    rows = []
    for t in range(6):
        tx, ty = int(rng.integers(0, 1 << z)), int(rng.integers(0, 1 << z))
        w, s, e, n = tm.tile_bounds(z, tx, ty)
        for i in range(5):
            rows.append((tx, ty, w + (e - w) * rng.random(),
                         s + (n - s) * rng.random(),
                         int(rng.integers(1, 50)), f"u{i}", str(i % 3)))
    rows.sort(key=lambda r: (r[0], r[1], r[4]))
    xs = np.array([r[0] for r in rows], dtype=np.int64)
    ys = np.array([r[1] for r in rows], dtype=np.int64)
    lng = np.array([r[2] for r in rows])
    lat = np.array([r[3] for r in rows])
    ids = np.array([r[4] for r in rows], dtype=np.int64)
    urls = np.array([r[5] for r in rows], dtype=object)
    mis = np.array([r[6] for r in rows], dtype=object)
    z_arr = np.full(len(rows), z, dtype=np.int64)

    key = xs * (1 << 32) + ys
    b = np.flatnonzero(np.diff(key) != 0) + 1
    starts_all = np.concatenate([[0], b])
    ends_all = np.concatenate([b, [len(rows)]])
    # drop the last group (streaming carry) -> non-contiguous coverage
    starts, ends = starts_all[:-1], ends_all[:-1]

    got = encode_point_tiles_bulk(z_arr, xs, ys, lng, lat, ids,
                                  {"url": urls, "mention_idx": mis},
                                  starts, ends, "geo")
    full = encode_point_tiles_bulk(z, xs, ys, lng, lat, ids,
                                   {"url": urls, "mention_idx": mis},
                                   starts_all, ends_all, "geo")
    assert got == full[:-1]


def _bulk_vs_scalar(geom_type, rows_by_tile, props_by_tile, ids_by_tile,
                    extent_clamp=False):
    """Encode the same features via encode_layer (scalar Cursor path, id 0
    passed as absent) and encode_geom_tiles_bulk, whose properties are
    flat per-feature entries, so features may carry different key sets;
    return (scalar bytes list, bulk bytes list). A Point row is one
    [lng, lat] pair."""
    import numpy as np

    from vector_tile_go_spark.codec.encode import encode_layer
    from vector_tile_go_spark.codec.encode_fast import (
        encode_geom_tiles_bulk, flatten_geom_rows)
    tiles = sorted(rows_by_tile)
    scalar = []
    for t in tiles:
        feats = [{"type": geom_type, "coordinates": c, "properties": pr,
                  "id": fid or None}
                 for c, pr, fid in zip(rows_by_tile[t], props_by_tile[t],
                                       ids_by_tile[t])]
        scalar.append(encode_layer(feats, t[0], t[1], t[2], "g",
                                   extent_clamp=extent_clamp))
    all_rows, all_props, all_ids, xs, ys, zs = [], [], [], [], [], []
    starts, ends = [], []
    for t in tiles:
        starts.append(len(all_rows))
        all_rows.extend(rows_by_tile[t])
        all_props.extend(props_by_tile[t])
        all_ids.extend(ids_by_tile[t])
        ends.append(len(all_rows))
        zs.extend([t[0]] * len(rows_by_tile[t]))
        xs.extend([t[1]] * len(rows_by_tile[t]))
        ys.extend([t[2]] * len(rows_by_tile[t]))
    # flat entries in each dict's own key order: the kernel sorts them
    entries = [list((p or {}).items()) for p in all_props]
    keys = np.array([k for e in entries for k, _ in e], dtype=object)
    vals = np.empty(len(keys), dtype=object)
    vals[:] = [v for e in entries for _, v in e]
    offs = np.cumsum([0] + [len(e) for e in entries])
    verts, ring_lens, ring_feat, firsts = (
        flatten_geom_rows("MultiPoint", [[c] for c in all_rows])
        if geom_type == "Point" else flatten_geom_rows(geom_type, all_rows))
    bulk, nf = encode_geom_tiles_bulk(
        np.array(zs), np.array(xs), np.array(ys), np.array(all_ids),
        (keys, vals, offs), starts, ends, "g", geom_type, verts, ring_lens,
        ring_feat, firsts, clamp=extent_clamp)
    return scalar, bulk


def test_geom_bulk_byte_identity():
    """encode_geom_tiles_bulk == encode_layer byte-for-byte across every
    geometry type: winding reversal, unclosed rings, holes, zero-delta
    drops, degenerate truncation/abort, shared dictionaries, multi-tile,
    a point on the tile's top-left corner, and id 0 written as absent."""
    import vector_tile_go_spark.tilemath as tm
    z, x, y = 7, 41, 53
    w, s, e, n = tm.tile_bounds(z, x, y)

    def pt(fx, fy, dx=0, dy=0):
        return [w + fx * (e - w) + dx, s + fy * (n - s) + dy]

    tri = [pt(.1, .1), pt(.5, .1), pt(.3, .5)]            # open ring
    tri_rev = [pt(.1, .1), pt(.3, .5), pt(.5, .1)]        # opposite winding
    hole = [pt(.25, .2), pt(.35, .2), pt(.3, .3)]
    eps = 1e-9                                            # sub-quantum
    cases = {
        "Point": [pt(.1, .1), pt(0, 1), pt(.5, .5)],      # (0, 1): corner
        "MultiPoint": [[pt(.1, .1), pt(.1, .1), pt(.6, .2)], [pt(0, 1)]],
        "LineString": [
            [pt(.1, .1), pt(.2, .2), pt(.2 + eps, .2 + eps), pt(.4, .1)],
            [pt(.6, .6), pt(.6 + eps, .6)],               # aborted
            [pt(.7, .2), pt(.9, .9)],
        ],
        "MultiLineString": [
            [[pt(.1, .1), pt(.3, .3)], [pt(.5, .5), pt(.5 + eps, .5)],
             [pt(.6, .1), pt(.8, .2)]],                    # middle truncated
        ],
        "Polygon": [
            [tri, hole], [tri_rev], [tri + [tri[0]]],      # closed input
        ],
        "MultiPolygon": [
            [[tri, hole], [[pt(.6, .6), pt(.9, .6), pt(.75, .9)]]],
        ],
    }
    for gt, rows in cases.items():
        rows_by_tile = {(z, x, y): rows, (z, x + 1, y): rows[:1],
                        (z, x + 2, y): rows[:1] * 2}
        props = {(z, x, y): [{"nk": str(i % 2), "m": "x"}
                             for i in range(len(rows))],
                 (z, x + 1, y): [{"nk": "9", "m": "x"}],
                 (z, x + 2, y): [{"nk": "9", "m": "x"}] * 2}
        ids = {(z, x, y): list(range(1, len(rows) + 1)),
               (z, x + 1, y): [7], (z, x + 2, y): [0, 5]}
        scalar, bulk = _bulk_vs_scalar(gt, rows_by_tile, props, ids)
        assert len(bulk) == 3
        for i, (sb, bb) in enumerate(zip(scalar, bulk)):
            assert sb == bb, f"{gt} tile {i}: bulk diverges from scalar"


def test_geom_bulk_clamped_and_noprops():
    z, x, y = 5, 9, 11
    import vector_tile_go_spark.tilemath as tm
    w, s, e, n = tm.tile_bounds(z, x, y)
    line = [[w - 5.0, s + 1.0], [e + 5.0, n - 1.0], [w + 1.0, s + 0.5]]
    rows_by_tile = {(z, x, y): [line]}
    scalar, bulk = _bulk_vs_scalar("LineString", rows_by_tile,
                                   {(z, x, y): [{}]}, {(z, x, y): [3]},
                                   extent_clamp=True)
    assert scalar[0] == bulk[0]


def test_geom_bulk_fuzz_byte_identity():
    """Randomized byte-identity: random geometries (tiny sub-quantum
    segments, out-of-tile coords, mixed winding, open/closed rings,
    wraparound ids) and per-feature random key subsets of {a, b, c}, the
    empty one included, with typed values (str, int, True/1/1.0, None,
    0.0/-0.0) must encode identically on the scalar and bulk paths."""
    import numpy as np

    import vector_tile_go_spark.tilemath as tm
    rng = np.random.default_rng(42)
    z = 6
    pool = ["s0", "s1", 3, True, 1, 1.0, None, 0.0, -0.0]
    for trial in range(10):
        gt = ["LineString", "MultiLineString", "Polygon",
              "MultiPolygon", "MultiPoint"][trial % 5]
        x = int(rng.integers(0, 2**z))
        y = int(rng.integers(0, 2**z))
        w, s, e, n = tm.tile_bounds(z, x, y)

        def rpt():
            fx, fy = rng.uniform(-0.3, 1.3, 2)   # some outside the tile
            return [w + fx * (e - w), s + fy * (n - s)]

        def ring(min_pts=3):
            k = int(rng.integers(min_pts, 8))
            r = [rpt() for _ in range(k)]
            if rng.random() < 0.3:
                r.append(list(r[0]))             # pre-closed
            if rng.random() < 0.3:               # sub-quantum duplicate
                r.insert(1, [r[0][0] + 1e-12, r[0][1]])
            return r

        rows = []
        for _ in range(12):
            if gt == "LineString":
                c = ring(2)
                if rng.random() < 0.25:          # degenerate -> abort
                    p = rpt()
                    c = [p, [p[0] + 1e-12, p[1]]]
                rows.append(c)
            elif gt == "MultiLineString":
                rows.append([ring(2) for _ in range(int(rng.integers(1, 4)))])
            elif gt == "Polygon":
                rows.append([ring() for _ in range(int(rng.integers(1, 3)))])
            elif gt == "MultiPoint":
                pts = [rpt() for _ in range(int(rng.integers(1, 6)))]
                if rng.random() < 0.4:           # sub-quantum duplicate
                    pts.insert(1, [pts[0][0] + 1e-12, pts[0][1]])
                rows.append(pts)
            else:
                rows.append([[ring() for _ in range(int(rng.integers(1, 3)))]
                             for _ in range(int(rng.integers(1, 3)))])
        ids = [int(rng.integers(-2, 2**40)) for _ in rows]
        props = [{k: pool[int(rng.integers(0, len(pool)))]
                  for k in "cab" if rng.random() < 0.5} for _ in rows]
        rows_by_tile = {(z, x, y): rows}
        scalar, bulk = _bulk_vs_scalar(
            gt, rows_by_tile, {(z, x, y): props}, {(z, x, y): ids},
            extent_clamp=bool(trial % 2))
        assert scalar[0] == bulk[0], f"{gt} trial {trial} diverges"


def test_geom_bulk_degenerate_inputs_raise_like_scalar():
    """Round-5 review: empty rings / zero-ring polygons must RAISE on the
    bulk path (the scalar builders raise too), never silently encode."""
    import numpy as np
    import pytest

    from vector_tile_go_spark.codec.encode_fast import (
        encode_geom_tiles_bulk, flatten_geom_rows)
    with pytest.raises(ValueError, match="empty Polygon"):
        flatten_geom_rows("Polygon", [[]])
    with pytest.raises(ValueError, match="empty polygon in MultiPolygon"):
        flatten_geom_rows("MultiPolygon", [[[], [[[0.0, 0.0], [1.0, 0.0],
                                                  [0.5, 1.0]]]]])
    with pytest.raises(ValueError, match="empty ring"):
        flatten_geom_rows("MultiLineString", [[[]]])
    with pytest.raises(ValueError, match="empty ring"):
        encode_geom_tiles_bulk(
            np.array([5]), np.array([9]), np.array([11]), np.array([1]),
            {}, [0], [1], "g", "Polygon", np.zeros((3, 2)),
            np.array([3, 0]), np.array([0, 0]), np.array([True, False]))


def test_geom_bulk_multipoint_byte_identity():
    """MultiPoint through the bulk kernel: one MoveTo header with the
    ORIGINAL point count, zero-delta duplicates dropped from the stream
    (write_geometry.go:338-344) — byte-identical to the scalar path."""
    import vector_tile_go_spark.tilemath as tm
    z, x, y = 7, 41, 53
    w, s, e, n = tm.tile_bounds(z, x, y)

    def pt(fx, fy):
        return [w + fx * (e - w), s + fy * (n - s)]

    rows = [
        [pt(.1, .1), pt(.5, .5), pt(.5 + 1e-12, .5), pt(.9, .2)],  # dup
        [pt(.3, .3)],
        [pt(.2, .8), pt(.2, .8), pt(.7, .7)],                       # dup
    ]
    rows_by_tile = {(z, x, y): rows, (z, x + 1, y): rows[:1]}
    props = {(z, x, y): [{"nk": str(i)} for i in range(len(rows))],
             (z, x + 1, y): [{"nk": "9"}]}
    ids = {(z, x, y): [1, 2, 3], (z, x + 1, y): [7]}
    scalar, bulk = _bulk_vs_scalar("MultiPoint", rows_by_tile, props, ids)
    for i, (sb, bb) in enumerate(zip(scalar, bulk)):
        assert sb == bb, f"MultiPoint tile {i} diverges"


def _tile_pt(z, x, y):
    import vector_tile_go_spark.tilemath as tm
    w, s, e, n = map(float, tm.tile_bounds(z, x, y))
    return lambda fx, fy: [w + fx * (e - w), s + fy * (n - s)]


def test_typed_values_bulk_bytes():
    """The bulk value dictionary is keyed like LayerEncoder._value_idx —
    (type name, value) — so every MVT Value type encodes as the scalar
    path does: bool, int, negative int, int >= 2^63, float, str, None (the
    empty-string fallback), and -0.0 sharing the entry of an earlier 0.0
    (and the reverse) within a tile."""
    z, x, y = 7, 41, 53
    pt = _tile_pt(z, x, y)
    vals = [True, False, 7, -5, 2**63, 2**64 + 3, 1.5, 0.0, -0.0, "s",
            None, "", "7"]
    rows = [[pt(.1 + .05 * i, .2)] for i in range(len(vals))]
    rows_by_tile = {(z, x, y): rows, (z, x + 1, y): rows[:3]}
    props = {(z, x, y): [{"v": v, "w": "k"} for v in vals],
             (z, x + 1, y): [{"v": -0.0, "w": "k"}, {"v": 0.0, "w": 1},
                             {"v": None, "w": None}]}
    ids = {(z, x, y): list(range(1, len(vals) + 1)),
           (z, x + 1, y): [1, 2, 3]}
    scalar, bulk = _bulk_vs_scalar("MultiPoint", rows_by_tile, props, ids)
    assert scalar == bulk


def test_typed_values_one_true_one_point_zero_stay_apart():
    """1, True and 1.0 compare equal in Python but are three MVT values
    (int64, bool, double); one tile holding all three gets three
    dictionary entries, as from encode_layer."""
    from vector_tile_go_spark.codec.decode import parse_tile
    z, x, y = 7, 41, 53
    pt = _tile_pt(z, x, y)
    vals = [1, True, 1.0, 1, True, 1.0]
    rows = [[[pt(.1, .1), pt(.2 + .1 * i, .3)]] for i in range(len(vals))]
    scalar, bulk = _bulk_vs_scalar(
        "MultiLineString", {(z, x, y): rows},
        {(z, x, y): [{"v": v} for v in vals]},
        {(z, x, y): list(range(1, len(vals) + 1))})
    assert scalar == bulk
    (layer,) = parse_tile(bulk[0])
    assert [type(v) for v in layer.values] == [int, bool, float]


def test_multipolygon_arrow_columns_3_and_4_level():
    """flatten_geom_arrow reads the geometry straight from the column's
    list offsets: a 3-level MultiPolygon column makes each ring a polygon,
    a 4-level one keeps [polygon][ring] with holes. Both give the arrays
    flatten_geom_rows gives and tiles byte-identical to encode_layer."""
    import pyarrow as pa

    from vector_tile_go_spark.codec.encode_fast import (
        encode_geom_tiles_bulk, flatten_geom_arrow, flatten_geom_rows)
    z, x, y = 7, 41, 53
    pt = _tile_pt(z, x, y)
    tri = [pt(.1, .1), pt(.5, .1), pt(.3, .5)]
    hole = [pt(.25, .2), pt(.35, .2), pt(.3, .3)]
    far = [pt(.6, .6), pt(.9, .6), pt(.75, .9), pt(.6, .6)]
    l3 = pa.list_(pa.list_(pa.list_(pa.float64())))
    cases = {
        3: ([[tri, far], [far]],
            lambda c: [[ring] for ring in c]),
        4: ([[[tri, hole], [far]], [[far, tri]]], lambda c: c),
    }
    for depth, (rows, to_geojson) in cases.items():
        col = pa.array(rows, l3 if depth == 3 else pa.list_(l3))
        geo = [to_geojson(c) for c in rows]
        got = flatten_geom_arrow("MultiPolygon", col)
        for a, b in zip(got, flatten_geom_rows("MultiPolygon", geo)):
            assert np.array_equal(a, b), depth
        bufs, _ = encode_geom_tiles_bulk(
            np.full(2, z), np.full(2, x), np.full(2, y), np.array([1, 2]),
            {}, [0], [2], "g", "MultiPolygon", *got)
        feats = [{"type": "MultiPolygon", "coordinates": c, "id": i + 1}
                 for i, c in enumerate(geo)]
        assert bufs[0] == encode_layer(feats, z, x, y, "g",
                                       extent_clamp=False), depth


def test_flatten_geom_arrow_rejects_bad_columns():
    """One defined behaviour for malformed coords: null values, empty
    rings and non-[x, y] points raise, like the scalar builders; a
    4-level column is MultiPolygon-only."""
    import pyarrow as pa

    from vector_tile_go_spark.codec.encode_fast import flatten_geom_arrow
    l3 = pa.list_(pa.list_(pa.list_(pa.float64())))
    bad = {
        "null coordinate": ("Polygon", pa.array([[[[0.0, None]]]], l3)),
        "empty ring": ("LineString", pa.array([[[]]], l3)),
        "empty Point": ("Point", pa.array([[]], l3)),
        r"\[x, y\] pairs": ("Polygon", pa.array([[[[0.0, 1.0, 2.0]]]], l3)),
        "empty polygon": ("MultiPolygon",
                          pa.array([[[], [[[0.0, 0.0]]]]], pa.list_(l3))),
        "3 list levels": ("Polygon", pa.array([[[[[0.0, 0.0]]]]],
                                              pa.list_(l3))),
    }
    for match, (gt, col) in bad.items():
        with pytest.raises(ValueError, match=match):
            flatten_geom_arrow(gt, col)


def test_geom_batch_rejects_null_feature_id():
    """A null feature_id has no int64 to write: the batch encoder raises
    instead of emitting a garbage id."""
    import pyarrow as pa

    from vector_tile_go_spark.sparkops import udfs
    rb = pa.RecordBatch.from_arrays([
        pa.array([5], pa.int32()), pa.array([9], pa.int64()),
        pa.array([11], pa.int64()), pa.array([None], pa.int64()),
        pa.array([[[[1.0, 2.0], [3.0, 4.0]]]],
                 pa.list_(pa.list_(pa.list_(pa.float64())))),
        pa.array(['{"k": 1}'])],
        names=["z", "x", "y", "feature_id", "coords", "props"])
    with pytest.raises(ValueError, match="null feature_id"):
        udfs._geom_tiles(rb, np.array([0]), np.array([1]), "LineString",
                         "json", "g", 4096, False)


@pytest.mark.parametrize("geom_type", ["LineString", "Point"])
def test_json_props_layers_through_spark(spark, geom_type):
    """JSON-object props ride the bulk mapInArrow route: str/int/float/
    bool/null values become typed MVT values, byte-identical to
    encode_layer over json.loads of the same rows."""
    import json

    from vector_tile_go_spark.sparkops.udfs import encode_geojson_tiles
    z = 7
    props = [{"name": "a", "n": 3, "f": 0.5, "ok": True},
             {"name": "b", "n": -2**40, "f": 1.0, "ok": False},
             {"name": None, "n": 1, "f": -0.0, "ok": True}]
    rows, want = [], {}
    for t in range(4):                    # tile 3: a null props row
        if t == 3:
            props = [None]
        x, y = 41 + t, 53
        pt = _tile_pt(z, x, y)
        feats = []
        for i, p in enumerate(props[:t + 1]):
            line = [pt(.1 * (i + 1), .2), pt(.5, .1 * (i + 2))]
            rows.append((z, x, y, i + 1, [line],
                         None if p is None else json.dumps(p)))
            feats.append({"type": geom_type, "id": i + 1, "properties": p,
                          "coordinates": line[0] if geom_type == "Point"
                          else line})
        want[x] = encode_layer(feats, z, x, y, "g", extent_clamp=False)
    df = spark.createDataFrame(
        rows, "z int, x long, y long, feature_id long, "
              "coords array<array<array<double>>>, props string")
    got = {r["x"]: bytes(r["tile_pbf"]) for r in
           encode_geojson_tiles(df, geom_type, layer_name="g").collect()}
    assert got == want


def test_bench_geom_encode_tool_runs():
    """tools/bench_geom_encode.py keeps running at a tiny size, so its
    three bulk-vs-scalar byte-identity asserts (polygons, JSON-props
    lines through the encode UDF's batch body, points) stay live."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run([sys.executable, "tools/bench_geom_encode.py",
                        "3", "4", "6"], cwd=root, capture_output=True,
                       text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.count("speedup:") == 3
