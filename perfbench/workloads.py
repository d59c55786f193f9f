"""The benchmark workloads, and the spatial requests of the traced run.

Each workload builds its inputs from the seed, then runs timed operations
through the engine's public functions only (``text``, ``sparkops``,
``store``, ``spatial``, ``session``) and checks every result against the
numpy references in ``reference.py``. An operation that raises or fails
its check is counted as failed; the run goes on.

An operation is one pass of a workload, or one spatial request in the
traced ``point_tiling`` run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
import reference
from vector_tile_go_spark.sparkops.udfs import (decode_tile_stats,
                                                decode_tiles,
                                                encode_geojson_tiles,
                                                encode_point_tiles)
from vector_tile_go_spark.spatial.knn import knn_join
from vector_tile_go_spark.spatial.pip import pip_join
from vector_tile_go_spark.store.tilestore import read_tiles, write_tiles
from vector_tile_go_spark.text.pages import assign_tiles

POINT_ZOOM = 8


def materialise(df) -> None:
    """Run every column of ``df`` through Spark's ``noop`` sink: unlike a
    bare ``count()``, Catalyst cannot prune any of the projection."""
    df.write.format("noop").mode("overwrite").save()


class Op:
    """One timed operation: its kind, engine seconds, features handled and
    whether it passed its check."""

    __slots__ = ("kind", "seconds", "features", "ok", "span")

    def __init__(self, kind: str):
        self.kind = kind
        self.seconds = 0.0
        self.features = 0
        self.ok = False
        self.span = None


def _guard(op: Op, fn) -> Op:
    """Run ``fn(op)``; an exception marks the op failed instead of ending
    the run."""
    try:
        fn(op)
    except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
        traceback.print_exc()
        op.ok = False
    return op


class Workload:
    name = ""

    def __init__(self, spark, tracer, seed: int, run_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.run_dir = run_dir
        self.n_paths = 0
        self.inputs_cached: list = []

    def build_inputs(self) -> None:
        raise NotImplementedError

    def drop_inputs(self) -> None:
        release(self.inputs_cached)

    def new_path(self, kind: str) -> str:
        self.n_paths += 1
        return os.path.join(self.run_dir, f"{kind}-{self.n_paths}")

    def run_pass(self, label: str) -> list[Op]:
        raise NotImplementedError

    def tile_sizes(self):
        """The workload's tiles, with ``tile_pbf`` and ``n_features``."""
        raise NotImplementedError

    def store_dirs(self) -> list[str]:
        """Tile stores the workload holds when its passes are done."""
        return []

    def request_rounds(self, n: int) -> list[list["Op"]]:
        """Rounds of small requests sent in the traced run, if any."""
        return []


def persist(df, cached: list):
    df = df.persist()
    cached.append(df)
    return df


def release(cached: list) -> None:
    for df in cached:
        df.unpersist()
    cached.clear()


def _table(spark, table: pa.Table, path: str):
    """Hand a table built in this process to Spark as a parquet file: unlike
    ``createDataFrame`` it ships no rows inside the task closures."""
    pq.write_table(table, path)
    return spark.read.parquet(path)


def _points_table(spark, pts: dict, path: str):
    return _table(spark, pa.table({
        "doc_id": pa.array(pts["doc_id"], pa.int64()),
        "mention_idx": pa.array(pts["mention_idx"], pa.int32()),
        "lat": pa.array(pts["lat"], pa.float64()),
        "lng": pa.array(pts["lng"], pa.float64()),
        "url": pa.array(pts["url"], pa.string()),
    }), path)


class PointTiling(Workload):
    """Geo mentions -> z8 tiles -> MVT point layers -> snapshot store ->
    read back -> fused per-tile decode stats."""

    name = "point_tiling"
    n_points = 100_000

    def build_inputs(self) -> None:
        self.pts = inputs.point_mentions(self.seed, self.n_points)
        self.expect = reference.point_tile_stats(
            self.pts["lng"], self.pts["lat"], self.pts["url"], POINT_ZOOM)
        self.ents = persist(_points_table(self.spark, self.pts,
                                          self.new_path("points")),
                            self.inputs_cached)
        materialise(self.ents)
        self.last_store = None

    def run_pass(self, label: str) -> list[Op]:
        op = Op("pass")
        store = self.new_path("store")
        tr = self.tracer
        tmp: list = []

        def body(op: Op) -> None:
            with tr.span(label) as sp:
                op.span = sp
                t0 = time.perf_counter()
                if tr.enabled:
                    # one span per operator action, each on a persisted input
                    with tr.span("text.assign_tiles"):
                        a = persist(assign_tiles(self.ents, POINT_ZOOM), tmp)
                        materialise(a)
                    with tr.span("sparkops.encode_point_tiles"):
                        t = persist(encode_point_tiles(a, layer_name="geo"), tmp)
                        materialise(t)
                    with tr.span("store.write_tiles"):
                        write_tiles(t, store)
                    with tr.span("store.read_tiles"):
                        r = persist(read_tiles(self.spark, store), tmp)
                        materialise(r)
                    with tr.span("sparkops.decode_tile_stats"):
                        got = decode_tile_stats(r).toPandas()
                    release(tmp)
                else:
                    t = encode_point_tiles(assign_tiles(self.ents, POINT_ZOOM),
                                           layer_name="geo")
                    write_tiles(t, store)
                    got = decode_tile_stats(
                        read_tiles(self.spark, store)).toPandas()
                op.seconds = time.perf_counter() - t0
            op.features = 2 * self.n_points
            op.ok = self.check(got)

        _guard(op, body)
        if self.last_store is not None:
            shutil.rmtree(self.last_store, ignore_errors=True)
        self.last_store = store
        return [op]

    def check(self, got) -> bool:
        rows = {(int(x), int(y)): (int(n), int(u)) for z, x, y, n, u in zip(
            got["z"], got["x"], got["y"], got["n_features"], got["n_urls"])
            if int(z) == POINT_ZOOM}
        ok = len(rows) == len(got) and rows == self.expect
        if not ok:
            bad = sum(1 for k, v in self.expect.items() if rows.get(k) != v)
            print(f"point_tiling: {len(got)} tile rows, {bad} tiles differ "
                  "from the reference", file=sys.stderr)
        return ok

    def tile_sizes(self):
        return read_tiles(self.spark, self.last_store)

    def store_dirs(self) -> list[str]:
        return [self.last_store] if self.last_store else []

    def request_rounds(self, n: int) -> list[list["Op"]]:
        return SpatialRequests(self).rounds(n)


def _coords_array(rings_per_feature: list) -> pa.Array:
    """list of features, each a list of (n, 2) rings ->
    array<array<array<double>>>."""
    ring_off, pt_off, flat = [0], [0], []
    for rings in rings_per_feature:
        for r in rings:
            flat.append(r)
            pt_off.append(pt_off[-1] + len(r))
        ring_off.append(ring_off[-1] + len(rings))
    xy = np.concatenate(flat).reshape(-1)
    pts = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(xy) + 1, 2, dtype=np.int32)),
        pa.array(xy, pa.float64()))
    rings = pa.ListArray.from_arrays(pa.array(pt_off, pa.int32()), pts)
    return pa.ListArray.from_arrays(pa.array(ring_off, pa.int32()), rings)


class PolygonRoundtrip(Workload):
    """Polygons with holes (map props, bulk encode) and linestrings with
    JSON-typed props (scalar encode), dense at z12, encoded then decoded."""

    name = "polygon_roundtrip"
    n_poly = 10_000
    n_line = 2_000

    def build_inputs(self) -> None:
        g = inputs.geometries(self.seed, self.n_poly, self.n_line)
        z = g["zoom"]

        def table(kind, props):
            d = g[kind]
            n = len(d["feature_id"])
            return _table(self.spark, pa.table({
                "z": pa.array(np.full(n, z, np.int32)),
                "x": pa.array(d["x"], pa.int64()),
                "y": pa.array(d["y"], pa.int64()),
                "feature_id": pa.array(d["feature_id"], pa.int64()),
                "coords": _coords_array(d["rings"]),
                "props": props,
            }), self.new_path(kind))

        self.polys = persist(table("poly", pa.array(
            [list(p.items()) for p in g["poly"]["props"]],
            pa.map_(pa.string(), pa.string()))), self.inputs_cached)
        self.lines = persist(table("line", pa.array(
            [json.dumps(p, sort_keys=True) for p in g["line"]["props"]],
            pa.string())), self.inputs_cached)
        materialise(self.polys)
        materialise(self.lines)
        keys, tiles, rings = [], [], []
        for layer, kind in (("polys", "poly"), ("lines", "line")):
            d = g[kind]
            keys += [(layer, fid) for fid in d["feature_id"].tolist()]
            tiles.append(np.stack([d["x"], d["y"]], axis=-1))
            rings += [r[0] for r in d["rings"]]
        self.expect = reference.FirstRings(keys, np.concatenate(tiles), rings, z)

    def encode(self):
        """Both layers' tiles, as one table."""
        return encode_geojson_tiles(self.polys, "Polygon", layer_name="polys") \
            .unionByName(encode_geojson_tiles(self.lines, "LineString",
                                              layer_name="lines"))

    def run_pass(self, label: str) -> list[Op]:
        op = Op("pass")
        tr = self.tracer
        tmp: list = []

        def body(op: Op) -> None:
            with tr.span(label) as sp:
                op.span = sp
                t0 = time.perf_counter()
                with tr.span("sparkops.encode_geojson_tiles"):
                    tiles = persist(self.encode(), tmp)
                    materialise(tiles)
                with tr.span("sparkops.decode_tiles"):
                    got = decode_tiles(tiles, mode="lnglat").select(
                        "z", "x", "y", "layer", "feature_id", "lng",
                        "lat").toPandas()
                release(tmp)
                op.seconds = time.perf_counter() - t0
            op.features = 2 * (self.n_poly + self.n_line)
            op.ok = self.check(got)

        return [_guard(op, body)]

    def check(self, got) -> bool:
        keys = list(zip(got["layer"], got["feature_id"].astype("int64").tolist()))
        bad = self.expect.mismatches(
            keys, got["z"].to_numpy(), got[["x", "y"]].to_numpy(),
            got["lng"].to_numpy(), got["lat"].to_numpy())
        if bad:
            print(f"polygon_roundtrip: {bad} of {len(self.expect.keys)} "
                  "features missing or wrong", file=sys.stderr)
        return bad == 0

    def tile_sizes(self):
        return self.encode()


class SpatialRequests:
    """Small requests against point_tiling's mentions and its last committed
    tile store: a tile fetch, a PIP join of a few triangles, a kNN join
    (k=5) of a few query points. The traced point_tiling run sends a few
    rounds of them, so the ``store.tile_fetch`` and ``spatial`` layers
    are measured; the untimed first round warms them up."""

    n_tris = 4
    n_queries = 4
    k = 5
    kinds = ("store.tile_fetch", "spatial.pip_join", "spatial.knn_join")

    def __init__(self, wl: "PointTiling"):
        self.spark = wl.spark
        self.tracer = wl.tracer
        self.seed = wl.seed
        self.pts = wl.pts
        self.store = wl.last_store
        self.points = wl.ents.select("lat", "lng", "doc_id", "mention_idx")
        tx, ty = reference.tile_xy(self.pts["lng"], self.pts["lat"], POINT_ZOOM)
        self.tile_of = tx * (1 << POINT_ZOOM) + ty
        self.tiles = np.unique(self.tile_of)
        # PIP triangles are drawn around these (lng, lat) centres
        k = np.arange(64)
        self.centers = np.stack([inputs.uniform(self.seed, 63, k) * 300 - 150,
                                 inputs.uniform(self.seed, 64, k) * 120 - 60],
                                axis=-1)
        self.n_request = 0

    def rounds(self, n: int) -> list[list[Op]]:
        return [[self.request(kind) for kind in self.kinds] for _ in range(n)]

    def request(self, kind: str) -> Op:
        op = Op(kind)
        self.n_request += 1
        rid = self.n_request

        def body(op: Op) -> None:
            with self.tracer.span(kind) as sp:
                op.span = sp
                t0 = time.perf_counter()
                if kind == "store.tile_fetch":
                    got, check = self.tile_fetch(rid)
                elif kind == "spatial.pip_join":
                    got, check = self.pip(rid)
                else:
                    got, check = self.knn(rid)
                op.seconds = time.perf_counter() - t0
            op.features = len(got)
            op.ok = check(got)

        return _guard(op, body)

    def tile_fetch(self, rid: int):
        n = 1 << POINT_ZOOM
        key = int(self.tiles[inputs.integers(self.seed, 50, np.array([rid]),
                                             len(self.tiles))[0]])
        x, y = key // n, key % n
        tile = read_tiles(self.spark, self.store).filter(
            (F.col("z") == POINT_ZOOM) & (F.col("x") == x) & (F.col("y") == y))
        got = decode_tiles(tile, mode="lnglat", prop_cols=("mention_idx",)) \
            .select("feature_id", "mention_idx", "lng", "lat").toPandas()

        def check(got) -> bool:
            p = self.pts
            idx = np.flatnonzero(self.tile_of == key)
            exp = {(int(p["doc_id"][i]), int(p["mention_idx"][i])): i
                   for i in idx}
            if len(got) != len(exp):
                return False
            keys = list(zip(got["feature_id"].astype("int64").tolist(),
                            got["mention_idx"].astype("int64").tolist()))
            if set(keys) != set(exp):
                return False
            rows = np.array([exp[k] for k in keys], dtype=np.int64)
            ex, ey = reference.tile_units(p["lng"][rows], p["lat"][rows],
                                          POINT_ZOOM, x, y)
            gx, gy = reference.tile_units(got["lng"].to_numpy(),
                                          got["lat"].to_numpy(), POINT_ZOOM, x, y)
            return bool(np.all(np.abs(ex - gx) <= 1.0)
                        and np.all(np.abs(ey - gy) <= 1.0))

        return got, check

    def pip(self, rid: int):
        tris = inputs.triangles(self.seed, rid, self.n_tris, self.centers)
        polys = self.spark.createDataFrame(pa.table({
            "pid": pa.array(np.arange(len(tris)), pa.int64()),
            "xs": pa.array([t[:, 0] for t in tris], pa.list_(pa.float64())),
            "ys": pa.array([t[:, 1] for t in tris], pa.list_(pa.float64())),
            "west": pa.array([t[:, 0].min() for t in tris], pa.float64()),
            "south": pa.array([t[:, 1].min() for t in tris], pa.float64()),
            "east": pa.array([t[:, 0].max() for t in tris], pa.float64()),
            "north": pa.array([t[:, 1].max() for t in tris], pa.float64()),
        }))
        got = pip_join(self.points, polys, point_cols=("doc_id", "mention_idx"),
                       poly_key="pid").select("pid", "doc_id", "mention_idx") \
            .toPandas()

        def check(got) -> bool:
            p = self.pts
            exp = set()
            inside = reference.pip_triangles(tris, p["lng"], p["lat"])
            for pid, idx in enumerate(inside):
                exp.update((pid, int(p["doc_id"][i]), int(p["mention_idx"][i]))
                           for i in idx)
            rows = set(zip(got["pid"].astype("int64").tolist(),
                           got["doc_id"].astype("int64").tolist(),
                           got["mention_idx"].astype("int64").tolist()))
            return len(rows) == len(got) and rows == exp

        return got, check

    def knn(self, rid: int):
        qid = rid * 16 + np.arange(self.n_queries, dtype=np.int64)
        qlng = inputs.uniform(self.seed, 70, qid) * 340.0 - 170.0
        qlat = inputs.uniform(self.seed, 71, qid) * 150.0 - 75.0
        q = self.spark.createDataFrame(pa.table({
            "qid": pa.array(qid, pa.int64()), "qlat": pa.array(qlat),
            "qlng": pa.array(qlng)}))
        got = knn_join(q, self.points, k=self.k).select(
            "qid", "rank", "doc_id", "mention_idx").toPandas()

        def check(got) -> bool:
            p = self.pts
            exp = reference.knn(qlng, qlat, p["lng"], p["lat"], p["doc_id"],
                                p["mention_idx"].astype(np.int64), self.k)
            got = got.sort_values(["qid", "rank"])
            for i, q_ in enumerate(qid.tolist()):
                g = got[got["qid"] == q_]
                pairs = list(zip(g["doc_id"].astype("int64").tolist(),
                                 g["mention_idx"].astype("int64").tolist()))
                if pairs != exp[i]:
                    return False
            return True

        return got, check


WORKLOADS = {w.name: w for w in (PointTiling, PolygonRoundtrip)}
