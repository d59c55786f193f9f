"""Bulk vs scalar encode microbench (BASELINE.md "Round 5: bulk
non-point encoder").

Usage:  python tools/bench_geom_encode.py [ntiles] [feats_per_tile] [verts]

Compares a per-tile loop over the scalar oracle encoder, encode_layer,
against flatten_geom_rows + encode_geom_tiles_bulk on the same synthetic
two-ring (exterior + hole) polygon workload, asserts byte-identity, and
prints per-feature/per-vertex costs. A second case encodes LineStrings
with JSON-typed props (str/int/float/bool/null, one key absent from some
rows) through encode_geojson_tiles' batch body (udfs._geom_tiles: Arrow
column in, json.loads per row, one kernel call over flat property
entries) against encode_layer over json.loads of the same rows, again
asserting byte-identity. A third case encodes Points
with string props (the encode_point_tiles kernel input) through an
encode_layer loop and through encode_point_tiles_bulk, asserting
byte-identity and printing us/feature. Standalone kernel
benches on this host need the malloc thresholds pinned (see CLAUDE.md);
this script sets them for its own numpy allocations where it can, but for
faithful numbers run:

  MALLOC_MMAP_THRESHOLD_=268435456 MALLOC_TRIM_THRESHOLD_=268435456 \
      python tools/bench_geom_encode.py
"""
import json
import sys
import time

import numpy as np
import pyarrow as pa

sys.path.insert(0, ".")

import vector_tile_go_spark.tilemath as tm  # noqa: E402
from vector_tile_go_spark.codec.encode import encode_layer  # noqa: E402
from vector_tile_go_spark.codec.encode_fast import (  # noqa: E402
    encode_geom_tiles_bulk, encode_point_tiles_bulk, flatten_geom_rows)
from vector_tile_go_spark.sparkops import udfs  # noqa: E402


def json_lines_case(ntiles, fpt, vpr, rng):
    """LineStrings with JSON-typed props: scalar encode_layer per tile vs
    the mapInArrow batch body (udfs._geom_tiles) on one Arrow batch."""
    z = 9
    rows = []
    for _ in range(ntiles):
        tx, ty = int(rng.integers(0, 512)), int(rng.integers(100, 400))
        w, s, e, n = map(float, tm.tile_bounds(z, tx, ty))
        for i in range(fpt):
            pts = np.stack([w + rng.random(vpr) * (e - w),
                            s + rng.random(vpr) * (n - s)], 1).tolist()
            props = {"name": f"r{i % 11}", "lanes": int(i % 4),
                     "speed": [30.0, 50.0, 0.0, -0.0][i % 4],
                     "oneway": bool(i % 2), "ref": None if i % 5 else "A1"}
            if i % 3 == 0:  # rows need not share a key set
                del props["lanes"]
            rows.append((tx, ty, i + 1, pts, json.dumps(props)))
    rows.sort(key=lambda r: (r[0], r[1], r[2]))
    t0 = time.perf_counter()
    scalar = {}
    for r in rows:
        scalar.setdefault((r[0], r[1]), []).append(
            {"type": "LineString", "coordinates": r[3],
             "properties": json.loads(r[4]), "id": r[2]})
    scalar = {k: encode_layer(f, z, *k, "g", extent_clamp=False)
              for k, f in scalar.items()}
    t_scalar = time.perf_counter() - t0
    rb = pa.RecordBatch.from_arrays([
        pa.array([z] * len(rows), pa.int32()),
        pa.array([r[0] for r in rows], pa.int64()),
        pa.array([r[1] for r in rows], pa.int64()),
        pa.array([r[2] for r in rows], pa.int64()),
        pa.array([[r[3]] for r in rows],
                 pa.list_(pa.list_(pa.list_(pa.float64())))),
        pa.array([r[4] for r in rows], pa.string())],
        names=["z", "x", "y", "feature_id", "coords", "props"])
    t_bulk = None
    for _ in range(2):  # warm pass, as for the polygons
        t0 = time.perf_counter()
        out = pa.Table.from_batches(list(udfs._sorted_tile_groups(
            iter([rb]), lambda b, s, e: udfs._geom_tiles(
                b, s, e, "LineString", "json", "g", 4096, False))))
        t_bulk = time.perf_counter() - t0
    d = out.to_pydict()
    got = {(x, y): b for x, y, b in zip(d["x"], d["y"], d["tile_pbf"])}
    assert got == scalar, "JSON-props bulk diverges from scalar"
    nfeat = len(rows)
    print(f"json lines: features={nfeat} verts={nfeat * vpr}")
    print(f"scalar: {t_scalar:.3f}s ({1e6 * t_scalar / nfeat:.1f} us/feat)")
    print(f"bulk:   {t_bulk:.3f}s ({1e6 * t_bulk / nfeat:.1f} us/feat)")
    print(f"speedup: {t_scalar / t_bulk:.1f}x (warm)")


def points_case(ntiles, fpt, rng):
    """Points with string props: an encode_layer loop per tile vs
    encode_point_tiles_bulk over the same sorted rows."""
    z = 9
    xs, ys, lng, lat, starts, ends = [], [], [], [], [], []
    for _ in range(ntiles):
        tx, ty = int(rng.integers(0, 512)), int(rng.integers(100, 400))
        w, s, e, n = map(float, tm.tile_bounds(z, tx, ty))
        starts.append(len(xs))
        xs += [tx] * fpt
        ys += [ty] * fpt
        lng += (w + rng.random(fpt) * (e - w)).tolist()
        lat += (s + rng.random(fpt) * (n - s)).tolist()
        ends.append(len(xs))
    nfeat = len(xs)
    ids = np.arange(1, nfeat + 1)
    props = {"url": np.array([f"https://s{i % 97}.example.org/"
                              for i in range(nfeat)], dtype=object),
             "mention_idx": np.array([str(i % 3) for i in range(nfeat)],
                                     dtype=object)}
    t0 = time.perf_counter()
    scalar = [encode_layer(
        [{"type": "Point", "coordinates": [lng[i], lat[i]], "id": int(ids[i]),
          "properties": {k: props[k][i] for k in sorted(props)}}
         for i in range(starts[t], ends[t])],
        z, xs[starts[t]], ys[starts[t]], "geo") for t in range(ntiles)]
    t_scalar = time.perf_counter() - t0
    t_bulk = None
    for _ in range(2):  # warm pass, as for the polygons
        t0 = time.perf_counter()
        bulk = encode_point_tiles_bulk(
            z, np.array(xs), np.array(ys), np.array(lng), np.array(lat), ids,
            props, starts, ends, "geo")
        t_bulk = time.perf_counter() - t0
    assert bulk == scalar, "point bulk diverges from scalar"
    print(f"points: features={nfeat}")
    print(f"scalar: {t_scalar:.3f}s ({1e6 * t_scalar / nfeat:.1f} us/feat)")
    print(f"bulk:   {t_bulk:.3f}s ({1e6 * t_bulk / nfeat:.2f} us/feat)")
    print(f"speedup: {t_scalar / t_bulk:.1f}x (warm)")


def main():
    ntiles = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    fpt = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    vpr = int(sys.argv[3]) if len(sys.argv) > 3 else 24
    rng = np.random.default_rng(7)
    z = 9
    rows, props, ids, xs, ys, zs, starts, ends = [], [], [], [], [], [], [], []
    for _ in range(ntiles):
        tx, ty = int(rng.integers(0, 512)), int(rng.integers(100, 400))
        w, s, e, n = tm.tile_bounds(z, tx, ty)
        starts.append(len(rows))
        for i in range(fpt):
            cx = w + rng.random() * (e - w)
            cy = s + rng.random() * (n - s)
            ang = np.linspace(0, 2 * np.pi, vpr, endpoint=False)
            r = (e - w) * 0.03
            rows.append(
                [np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)],
                          1).tolist(),
                 np.stack([cx + .4 * r * np.cos(ang),
                           cy + .4 * r * np.sin(ang)], 1).tolist()])
            props.append({"nk": str(i % 7), "cls": "bldg"})
            ids.append(i + 1)
            xs.append(tx)
            ys.append(ty)
            zs.append(z)
        ends.append(len(rows))

    nfeat, nverts = len(rows), len(rows) * vpr * 2
    t0 = time.perf_counter()
    scalar0 = None
    for t in range(ntiles):
        feats = [{"type": "Polygon", "coordinates": rows[i],
                  "properties": props[i], "id": ids[i]}
                 for i in range(starts[t], ends[t])]
        buf = encode_layer(feats, z, xs[starts[t]], ys[starts[t]], "g",
                           extent_clamp=False)
        if t == 0:
            scalar0 = buf
    t_scalar = time.perf_counter() - t0

    pc = {k: np.array([p[k] for p in props], dtype=object)
          for k in ("cls", "nk")}
    t_bulk = None
    for _ in range(2):  # warm pass: cold page faults invert results here
        t0 = time.perf_counter()
        fl = flatten_geom_rows("Polygon", rows)
        bufs, _ = encode_geom_tiles_bulk(
            np.array(zs), np.array(xs), np.array(ys), np.array(ids), pc,
            starts, ends, "g", "Polygon", *fl)
        t_bulk = time.perf_counter() - t0
    assert bufs[0] == scalar0, "bulk diverges from scalar"
    print(f"features={nfeat} verts={nverts}")
    print(f"scalar: {t_scalar:.3f}s ({1e6 * t_scalar / nfeat:.1f} us/feat, "
          f"{1e6 * t_scalar / nverts:.2f} us/vert)")
    print(f"bulk:   {t_bulk:.3f}s ({1e6 * t_bulk / nfeat:.1f} us/feat, "
          f"{1e6 * t_bulk / nverts:.2f} us/vert)")
    print(f"speedup: {t_scalar / t_bulk:.1f}x (warm)")
    json_lines_case(ntiles, fpt, 8, rng)
    points_case(ntiles, fpt, rng)


if __name__ == "__main__":
    main()
