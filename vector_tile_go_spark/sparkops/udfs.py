"""Spark-facing codec operators: map-batch encode and decode.

The one unavoidable Python boundary in the engine is the MVT byte codec —
everything before (extraction, tile assignment) and after (aggregation,
joins) stays JVM-side. Every UDF is Arrow-batched; no per-row Python
anywhere. The encoders all take the same plan: one repartition on the
tile key, a sortWithinPartitions, then ``mapInArrow`` over one sorted-batch
carry protocol (``_sorted_tile_groups``) feeding a vectorized kernel, so
no pandas frame is built on either side of the encode boundary. The
decoders are ``mapInPandas``.

Scale notes (the 100 TB story):
- encode shuffles once on (z, x, y) — the same explicit boundary the
  reference hits when grouping features into layers (SURVEY.md EP3). Hot
  tiles (urban cells / hot domains) are handled by salting: encode partial
  layers per salt, then binary-concat them — valid because MVT layer bytes
  are self-framing (write_layer.go:172-174) and feature frames within a
  layer are order-independent for readers.
- decode is embarrassingly parallel per tile row; column pruning upstream
  picks the 'props'/'int'/'lnglat' mode so unneeded geometry is never
  decoded (the reference's lazy-read win, README.md:46).
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codec.encode import encode_layer

TILE_SCHEMA = "z int, x bigint, y bigint, layer string, tile_pbf binary, n_features int"

FEATURE_SCHEMA = ("z int, x bigint, y bigint, layer string, feature_id bigint, "
                  "geom_type int, geojson_type string, lng double, lat double, "
                  "properties map<string,string>")


def _sorted_tile_groups(batches, emit):
    """The one sorted-batch carry protocol of every encoder (mapInArrow).

    Rows arrive sorted by the tile key: (z, x, y), plus ``salt`` when the
    batch has that column. Each Arrow batch is cut where the key changes,
    and ``emit(rb, starts, ends)`` gets a RecordBatch holding exactly the
    rows of its complete tile groups (``starts``/``ends`` slice it, one
    group each) and returns an output RecordBatch. The last group may
    continue in the next batch, so it is carried over in front of it. One
    Python call per Arrow batch (thousands of tiles), not one per tile as
    a grouped applyInPandas would pay."""
    pending = None
    for rb in batches:
        if pending is not None:
            rb = pa.RecordBatch.from_arrays(
                [pa.concat_arrays([a, b])
                 for a, b in zip(pending.columns, rb.columns)],
                schema=rb.schema)
            pending = None
        m = rb.num_rows
        if not m:
            continue
        change = np.zeros(m - 1, dtype=bool)
        for c in ("z", "x", "y", "salt"):
            if c in rb.schema.names:
                v = rb.column(c).to_numpy(zero_copy_only=False)
                change |= v[1:] != v[:-1]
        starts = np.concatenate([[0], np.flatnonzero(change) + 1])
        ends = np.append(starts[1:], m)
        if len(starts) > 1:
            yield emit(rb.slice(0, int(starts[-1])), starts[:-1], ends[:-1])
        pending = rb.slice(int(starts[-1]))
    if pending is not None:
        yield emit(pending, np.array([0]), np.array([pending.num_rows]))


def _group_batch(rb, starts, ends, cols: dict):
    """One output row per tile group: the group's key (z int, x/y bigint),
    ``cols`` (name -> pyarrow array), n_features (the group's row count)
    and, when the input has it, salt."""
    idx = pa.array(np.asarray(starts, np.int64))

    def key(c, t):
        return rb.column(c).take(idx).cast(t)

    names = ["z", "x", "y", *cols, "n_features"]
    arrays = [key("z", pa.int32()), key("x", pa.int64()),
              key("y", pa.int64()), *cols.values(),
              pa.array((np.asarray(ends) - np.asarray(starts))
                       .astype(np.int32))]
    if "salt" in rb.schema.names:
        names.append("salt")
        arrays.append(key("salt", pa.int32()))
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _tile_batch(rb, starts, ends, layer_name: str, bufs):
    return _group_batch(rb, starts, ends, {
        "layer": pa.array([layer_name] * len(bufs), pa.string()),
        "tile_pbf": pa.array(bufs, pa.binary())})


def _prop_strings(col) -> np.ndarray:
    """A property column as an object array of str, rendered like pandas'
    ``astype(str)`` (None -> 'None', NaN -> 'nan', an int column with
    nulls -> '1.0'); null-free string columns pass through."""
    vals = col.to_numpy(zero_copy_only=False)
    if pa.types.is_string(col.type) and not col.null_count:
        return vals
    return pd.Series(vals).astype(str).to_numpy()


def _point_tiles(rb, starts, ends, layer_name: str,
                 prop_cols: tuple[str, ...], extent: int, id_col: str):
    from ..codec.encode_fast import encode_point_tiles_bulk

    def col(c):
        return rb.column(c).to_numpy(zero_copy_only=False)

    bufs = encode_point_tiles_bulk(
        col("z"), col("x"), col("y"), col("lng"), col("lat"),
        np.asarray(col(id_col), np.int64),
        {c: _prop_strings(rb.column(c)) for c in prop_cols},
        starts, ends, layer_name, extent)
    return _tile_batch(rb, starts, ends, layer_name, bufs)


def encode_point_tiles(entities: DataFrame, layer_name: str = "geo",
                       prop_cols: tuple[str, ...] = ("url", "mention_idx"),
                       extent: int = 4096, n_partitions: int | None = None,
                       id_col: str = "doc_id") -> DataFrame:
    """(z, x, y, lng, lat, <id_col>, props...) -> one MVT layer per tile.

    Plan: one shuffle — repartition on the tile key + sortWithinPartitions
    (z, x, y, id, props) — then a single streaming mapInArrow UDF that
    encodes every tile of the partition (deterministic feature order from
    the sort). This is the reference's EP3 boundary (SURVEY.md §3) with
    the per-group UDF overhead amortized across whole Arrow batches, and
    no pandas materialization at the boundary (the zero-copy path of
    SURVEY §2.10). Property values are encoded as strings."""
    cols = ["z", "x", "y", "lng", "lat", id_col, *prop_cols]
    df = entities.select(*cols)
    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    df = (df.repartition(n_partitions, "z", "x", "y")
          .sortWithinPartitions("z", "x", "y", id_col, *prop_cols))

    def run(batches):
        return _sorted_tile_groups(batches, lambda rb, s, e: _point_tiles(
            rb, s, e, layer_name, prop_cols, extent, id_col))

    return df.mapInArrow(run, TILE_SCHEMA)


def encode_point_tiles_salted(entities: DataFrame, layer_name: str = "geo",
                              prop_cols: tuple[str, ...] = ("url", "mention_idx"),
                              n_salts: int = 8, id_col: str = "doc_id") -> DataFrame:
    """Skew-resistant encode: hash-salt the tile group key, encode partial
    layers per (tile, salt), then binary-concat partials per tile.

    Concat of serialized layers is a valid multi-layer tile (compositing,
    README.md:142-191); readers that merge same-named layers see one logical
    layer. The final concat is a tiny per-tile agg, so the heavy encode work
    spreads over n_salts times more tasks for hot tiles."""
    cols = ["z", "x", "y", "lng", "lat", id_col, *prop_cols]
    df = entities.select(*cols).withColumn(
        "salt", F.pmod(F.xxhash64(id_col), F.lit(n_salts)).cast("int"))
    n_parts = df.sparkSession.sparkContext.defaultParallelism * 2
    df = (df.repartition(n_parts, "z", "x", "y", "salt")
          .sortWithinPartitions("z", "x", "y", "salt", id_col, *prop_cols))

    def run(batches):
        return _sorted_tile_groups(batches, lambda rb, s, e: _point_tiles(
            rb, s, e, layer_name, prop_cols, 4096, id_col))

    partials = df.mapInArrow(
        run, TILE_SCHEMA + ", salt int").drop("layer")
    # per-tile binary concat of the (few) partials, ordered by salt for
    # determinism; this is the O(1) compositing union — no re-encode.
    # F.aggregate + F.concat stays JVM-side (whole-stage codegen), no
    # Python round-trip for the merge.
    return (partials
            .groupBy("z", "x", "y")
            .agg(F.sort_array(F.collect_list(F.struct("salt", "tile_pbf"))).alias("ps"),
                 F.sum("n_features").cast("int").alias("n_features"))
            .select("z", "x", "y", F.lit(layer_name).alias("layer"),
                    F.aggregate(F.col("ps.tile_pbf"),
                                F.lit(b"").cast("binary"),
                                lambda acc, b: F.concat(acc, b))
                    .alias("tile_pbf"), "n_features"))


def decode_tiles(tiles: DataFrame, mode: str = "lnglat",
                 layers: list[str] | None = None,
                 prop_cols: tuple[str, ...] | None = None,
                 quarantine: bool = False) -> DataFrame:
    """tiles(z, x, y, tile_pbf) -> feature rows. Point-centric projection:
    emits (lng, lat) of the first coordinate for point features; full
    geometry consumers use decode_tile_vertices.

    ``prop_cols``: project named properties to flat string columns instead
    of the map<string,string> — the reference's lazy property projection
    (README.md:34) pushed into the UDF; flat columns skip the Arrow/JVM map
    builders, which dominate wide decodes.

    ``quarantine``: corrupt tiles become rows with the ``error`` column set
    (null feature fields) instead of failing the stage — the distributed
    form of the reference's per-tile panic/recover (read_tile.go:79-84)."""
    want_geom = mode != "props"
    # decode to tile ints; inverse-project the whole Arrow batch in ONE
    # vectorized call (the per-feature Project of the reference,
    # read_feature_lazy.go:54-63, amortized batch-wide)
    inner_mode = "int" if want_geom else "props"

    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .. import tilemath as tm
        from ..codec.decode import bulk_point_layer, decode_feature, parse_tile
        for pdf in batches:
            # Two accumulators, merged IN ORDER at batch end: bulk point
            # layers append whole numpy segments (no per-feature Python —
            # the r4 VERDICT's remaining interpreter cost on full-feature
            # decodes); the per-feature walk and error rows append scalars,
            # flushed into a segment whenever a bulk segment arrives.
            segs: list[dict] = []
            cz, cx, cy, clay, cid, cgt, cgj = [], [], [], [], [], [], []
            cpx, cpy, cext, cprops, cerr = [], [], [], [], []
            pcols = {c: [] for c in (prop_cols or ())}

            def flush_scalar():
                if not cz:
                    return
                seg = {"z": np.asarray(cz, np.int64),
                       "x": np.asarray(cx, np.int64),
                       "y": np.asarray(cy, np.int64),
                       "layer": np.asarray(clay, object),
                       "fid": np.asarray(cid, object),
                       "gt": np.asarray(cgt, object),
                       "gj": np.asarray(cgj, object),
                       "px": np.asarray(cpx, np.float64),
                       "py": np.asarray(cpy, np.float64),
                       "ext": np.asarray(cext, np.int64),
                       "err": np.asarray(cerr, object)}
                if prop_cols is None:
                    seg["props"] = np.asarray(cprops, object)
                else:
                    for c in prop_cols:
                        seg[c] = np.asarray(pcols[c], object)
                segs.append(seg)
                for lst in (cz, cx, cy, clay, cid, cgt, cgj, cpx, cpy,
                            cext, cprops, cerr, *pcols.values()):
                    lst.clear()

            def emit_error(z, x, y, msg):
                # corrupt-tile quarantine (SURVEY.md §4: the reference's
                # panic/recover per-tile isolation, read_tile.go:79-84,
                # becomes an error row instead of a failed job — at 10^12
                # docs one bad tile must not kill the stage)
                cz.append(z)
                cx.append(x)
                cy.append(y)
                clay.append(None)
                cid.append(None)
                cgt.append(None)
                cgj.append(None)
                cpx.append(np.nan)
                cpy.append(np.nan)
                cext.append(4096)
                cerr.append(msg[:200])
                if prop_cols is None:
                    cprops.append({})
                else:
                    for c in prop_cols:
                        pcols[c].append(None)

            for z, x, y, buf in zip(pdf["z"], pdf["x"], pdf["y"], pdf["tile_pbf"]):
                if buf is None:
                    continue
                z, x, y = int(z), int(x), int(y)
                try:
                    frames = parse_tile(bytes(buf))
                except Exception as e:  # noqa: BLE001 — quarantine, not crash
                    if quarantine:
                        emit_error(z, x, y, f"parse: {e!r}")
                        continue
                    raise
                for lf in frames:
                    if layers is not None and lf.name not in layers:
                        continue
                    bulk = bulk_point_layer(lf)
                    if bulk is not None:
                        ids, key_idx, val_idx, px, py, n_props = bulk
                        n = len(ids)
                        # uniform key layout + in-range dictionary indices
                        # required for the vectorized join (our encoder
                        # always satisfies both; foreign tiles fall back)
                        if (n and bool((key_idx == key_idx[0]).all())
                                and bool((key_idx[0] < len(lf.keys)).all())
                                and bool((val_idx < len(lf.values)).all())):
                            flush_scalar()
                            fid_obj = ids.astype(object)
                            fid_obj[ids == 0] = None
                            seg = {
                                "z": np.full(n, z, np.int64),
                                "x": np.full(n, x, np.int64),
                                "y": np.full(n, y, np.int64),
                                "layer": np.full(n, lf.name, object),
                                "fid": fid_obj,
                                "gt": np.full(n, 1, object),
                                "gj": np.full(n, "Point", object),
                                "err": np.full(n, None, object),
                            }
                            if want_geom:
                                seg["px"] = px.astype(np.float64)
                                seg["py"] = py.astype(np.float64)
                                seg["ext"] = np.full(n, lf.extent, np.int64)
                            else:
                                # match the per-feature walk: props mode
                                # never exposes coords (lng/lat = NaN)
                                seg["px"] = np.full(n, np.nan)
                                seg["py"] = np.full(n, np.nan)
                                seg["ext"] = np.full(n, 4096, np.int64)
                            # str() once per DICTIONARY entry, then gather —
                            # O(distinct values), not O(features x props)
                            vals_str = np.array([str(v) for v in lf.values],
                                                dtype=object)
                            names0 = [lf.keys[k] if k < len(lf.keys) else ""
                                      for k in key_idx[0].tolist()]
                            if prop_cols is None:
                                colvals = [vals_str[val_idx[:, j]]
                                           for j in range(n_props)]
                                seg["props"] = np.array(
                                    [{names0[j]: colvals[j][r]
                                      for j in range(n_props)}
                                     for r in range(n)], dtype=object)
                            else:
                                for c in prop_cols:
                                    if c in names0:
                                        j = names0.index(c)
                                        seg[c] = vals_str[val_idx[:, j]]
                                    else:
                                        seg[c] = np.full(n, None, object)
                            segs.append(seg)
                            continue
                    for span in lf.feature_spans:
                        try:
                            f = decode_feature(lf, span, mode=inner_mode)
                        except Exception as e:  # noqa: BLE001
                            if quarantine:
                                emit_error(z, x, y, f"feature: {e!r}")
                                continue
                            raise
                        if f is None:
                            continue
                        cz.append(z)
                        cx.append(x)
                        cy.append(y)
                        clay.append(lf.name)
                        cid.append(f.feature_id)
                        cgt.append(f.geom_type)
                        cgj.append(f.geojson_type)
                        cerr.append(None)
                        if want_geom and len(f.xs):
                            cpx.append(f.xs[0])
                            cpy.append(f.ys[0])
                            cext.append(lf.extent)
                        else:
                            cpx.append(np.nan)
                            cpy.append(np.nan)
                            cext.append(4096)
                        p = f.properties
                        if prop_cols is None:
                            cprops.append({k: str(v) for k, v in p.items()})
                        else:
                            for c in prop_cols:
                                v = p.get(c)
                                pcols[c].append(None if v is None else str(v))
            flush_scalar()
            if not segs:
                continue  # empty batch: yielding nothing beats fighting
                # pandas' float64 default dtype for empty object columns
            col = {k: np.concatenate([s[k] for s in segs])
                   for k in segs[0]}
            if mode == "lnglat":
                lngs, lats = tm.project_tile_to_lnglat(
                    col["px"], col["py"], col["z"],
                    col["x"].astype(np.float64),
                    col["y"].astype(np.float64), col["ext"])
            else:
                lngs, lats = col["px"], col["py"]
            data = {"z": pd.Series(col["z"], dtype="int32"),
                    "x": pd.Series(col["x"], dtype="int64"),
                    "y": pd.Series(col["y"], dtype="int64"),
                    "layer": col["layer"], "feature_id": col["fid"],
                    "geom_type": col["gt"],
                    "geojson_type": col["gj"], "lng": lngs, "lat": lats}
            if prop_cols is None:
                data["properties"] = col["props"]
            else:
                for c in prop_cols:
                    data[c] = col[c]
            if quarantine:
                data["error"] = col["err"]
            yield pd.DataFrame(data)

    if prop_cols is None:
        schema = FEATURE_SCHEMA
    elif prop_cols:
        schema = FEATURE_SCHEMA.replace(
            "properties map<string,string>",
            ", ".join(f"{c} string" for c in prop_cols))
    else:  # properties projected away entirely
        schema = FEATURE_SCHEMA.replace(
            ", properties map<string,string>", "")
    if quarantine:
        schema += ", error string"
    return tiles.mapInPandas(decode_batch, schema)


def decode_tile_stats(tiles: DataFrame, layers: list[str] | None = None,
                      distinct_prop: str = "url",
                      out_col: str = "n_urls",
                      quarantine: bool = False) -> DataFrame:
    """Fused decode+aggregate: per-tile feature count and distinct values of
    one property, computed INSIDE the decode UDF — ~1 output row per tile
    instead of 1 per feature crossing the python->JVM Arrow boundary.

    Semantically identical to
    ``decode_tiles(mode="props").groupBy(z,x,y).agg(count(*),
    countDistinct(properties[distinct_prop]))`` for the count-shaped
    round-trip queries, because the encoders emit exactly one row per
    (z, x, y): the per-tile group is already complete within the row, so
    the aggregation needs no shuffle at all. Multi-frame tiles (salted
    concat / composites) union the distinct sets across frames in Python.

    This is the engine's answer to the decode-return scaling bottleneck
    (BASELINE.md §scaling): the contended Arrow return traffic drops by
    ~features-per-tile (10^3x for dense tiles) for queries that only need
    per-tile aggregates. Null property values are excluded from the
    distinct count (countDistinct semantics).

    ``quarantine``: corrupt tiles become zero-count rows with ``error``
    set instead of failing the stage — same isolation contract as
    ``decode_tiles(quarantine=True)`` (read_tile.go:79-84 at scale)."""

    def tile_counts(buf: bytes) -> tuple[int, int]:
        from ..codec.decode import bulk_point_layer, decode_feature, parse_tile
        n = 0
        vals: set = set()
        for lf in parse_tile(buf):
            if layers is not None and lf.name not in layers:
                continue
            bulk = bulk_point_layer(lf)
            if bulk is not None:
                ids, key_idx, val_idx, _, _, n_props = bulk
                if (len(ids) and bool((key_idx == key_idx[0]).all())
                        and bool((key_idx[0] < len(lf.keys)).all())
                        and bool((val_idx < len(lf.values)).all())):
                    n += len(ids)
                    names0 = [lf.keys[k] for k in key_idx[0].tolist()]
                    if distinct_prop in names0:
                        j = names0.index(distinct_prop)
                        varr = np.asarray(lf.values, dtype=object)
                        # distinct over unique dictionary indices, then map
                        # to values (robust to foreign tiles with
                        # duplicated dictionary entries)
                        for v in varr[np.unique(val_idx[:, j])]:
                            if v is not None:
                                vals.add(str(v))
                    continue
            for span in lf.feature_spans:
                f = decode_feature(lf, span, mode="props")
                if f is None:
                    continue
                n += 1
                v = f.properties.get(distinct_prop)
                if v is not None:
                    vals.add(str(v))
        return n, len(vals)

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        from ..codec.decode import bulk_point_tile_stats
        use_bulk = os.environ.get("SPARK_GRAFT_BULK_DECODE", "1") != "0"
        for pdf in batches:
            # cross-tile fused fast path: one varint pass over the whole
            # batch's conforming tiles (per-tile numpy setup amortized —
            # the decode-side twin of the bulk encoder)
            keep = [(int(z), int(x), int(y), bytes(buf))
                    for z, x, y, buf in zip(pdf["z"], pdf["x"], pdf["y"],
                                            pdf["tile_pbf"])
                    if buf is not None]
            if not keep:
                continue
            bufs = [r[3] for r in keep]
            if use_bulk:
                # The batch kernel wins where the per-tile walk's fixed
                # numpy setup dominates — SPARSE tiles (few features). On
                # dense tiles (KBs of features each) the walk is already
                # amortized and the kernel's big streaming temporaries
                # lose (this sandbox's guest kernel inflates sustained
                # streaming passes ~10x, BASELINE.md r3/r4). Route by
                # tile size; chunk the sparse set by tiles AND bytes so
                # the working set stays cache-resident.
                max_tile = int(os.environ.get(
                    "SPARK_GRAFT_BULK_DECODE_MAX_TILE", "4096"))
                chunk = int(os.environ.get("SPARK_GRAFT_BULK_DECODE_CHUNK",
                                           "1024"))
                # 256 KB of wire bytes per chunk: the kernel's int64
                # matrices expand ~30x, so this keeps each chunk's
                # temporaries ~8 MB (cache-adjacent, under the host's
                # streaming-pass inflation threshold)
                byte_budget = int(os.environ.get(
                    "SPARK_GRAFT_BULK_DECODE_BYTES", str(1 << 18)))
                ns = np.zeros(len(bufs), dtype=np.int64)
                nvs = np.zeros(len(bufs), dtype=np.int64)
                handled = np.zeros(len(bufs), dtype=bool)
                small = [i for i, b in enumerate(bufs) if len(b) <= max_tile]
                lo = 0
                while lo < len(small):
                    hi, acc = lo, 0
                    while hi < len(small) and hi - lo < chunk and \
                            acc < byte_budget:
                        acc += len(bufs[small[hi]])
                        hi += 1
                    sel = small[lo:hi]
                    # Any kernel exception degrades this chunk to the
                    # quarantined per-tile walk (handled stays False) —
                    # one corrupt tile must never fail the Spark task
                    # (ADVICE r4 high: decode_tile_stats' per-tile
                    # isolation contract).
                    try:
                        cns, cnvs, ch = bulk_point_tile_stats(
                            [bufs[i] for i in sel], distinct_prop, layers)
                    except Exception:  # noqa: BLE001 — isolate chunk
                        lo = hi
                        continue
                    for k, i in enumerate(sel):
                        ns[i], nvs[i], handled[i] = cns[k], cnvs[k], ch[k]
                    lo = hi
            else:
                ns = nvs = None
                handled = np.zeros(len(keep), dtype=bool)
            rows = []
            for i, (z, x, y, buf) in enumerate(keep):
                if handled[i]:
                    if ns[i]:
                        rows.append((z, x, y, int(ns[i]), int(nvs[i]), None)
                                    if quarantine else
                                    (z, x, y, int(ns[i]), int(nvs[i])))
                    continue
                if quarantine:
                    try:
                        n, nv = tile_counts(buf)
                    except Exception as e:  # noqa: BLE001 — isolate tile
                        rows.append((z, x, y, 0, 0, f"decode: {e!r}"[:200]))
                        continue
                    if n:
                        rows.append((z, x, y, n, nv, None))
                else:
                    n, nv = tile_counts(buf)
                    if n:
                        rows.append((z, x, y, n, nv))
            if rows:
                cols = ["z", "x", "y", "n_features", out_col]
                if quarantine:
                    cols.append("error")
                yield pd.DataFrame(rows, columns=cols)

    schema = f"z int, x bigint, y bigint, n_features bigint, {out_col} bigint"
    if quarantine:
        schema += ", error string"
    return tiles.mapInPandas(stats, schema)


def decode_tile_point_agg(tiles: DataFrame, agg_fn, agg_schema: str,
                          layers: list[str] | None = None) -> DataFrame:
    """Pluggable member of the fused decode+aggregate family
    (decode_tile_stats is the count/distinct instance): ONE Arrow return
    row per tile, with ``agg_fn(z, x, y, pxs, pys, extents) -> tuple``
    computed inside the UDF over the tile's decoded first-coordinate
    arrays (tile ints, float64; extents per point). Any per-tile aggregate
    of point coordinates — count, in-tile check, bbox, cell histogram —
    can ride this without paying the one-row-per-feature Arrow return
    (the decode-return scaling bottleneck, BASELINE.md §scaling).

    Coordinate semantics match decode_tiles(mode='int'): point layers via
    the bulk decoder, other features contribute their first vertex, and
    empty geometries contribute NaN (so counts include them, coordinate
    predicates exclude them — same as the unfused groupBy plan).

    INPUT CONTRACT (same as decode_tile_stats): ONE row per (z, x, y)
    tile key. The aggregate runs per input ROW, not per key — feeding a
    key split across multiple rows yields duplicate (z, x, y) output
    rows, diverging from the unfused decode+groupBy plan. Composite
    partial-union tiles first (sparkops.compositing.composite)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..codec.decode import bulk_point_layer, decode_feature, parse_tile
        for pdf in batches:
            rows = []
            for z, x, y, buf in zip(pdf["z"], pdf["x"], pdf["y"],
                                    pdf["tile_pbf"]):
                if buf is None:
                    continue
                z, x, y = int(z), int(x), int(y)
                xs_parts, ys_parts, ext_parts = [], [], []
                for lf in parse_tile(bytes(buf)):
                    if layers is not None and lf.name not in layers:
                        continue
                    bulk = bulk_point_layer(lf)
                    if bulk is not None:
                        # coords only: the dictionary-uniformity checks of
                        # the props decoders don't apply here
                        px, py = bulk[3], bulk[4]
                        xs_parts.append(np.asarray(px, dtype=np.float64))
                        ys_parts.append(np.asarray(py, dtype=np.float64))
                        ext_parts.append(np.full(len(px), lf.extent,
                                                 dtype=np.float64))
                        continue
                    for span in lf.feature_spans:
                        f = decode_feature(lf, span, mode="int")
                        if f is None:
                            continue
                        if len(f.xs):
                            xs_parts.append(np.asarray(f.xs[:1], np.float64))
                            ys_parts.append(np.asarray(f.ys[:1], np.float64))
                        else:
                            xs_parts.append(np.array([np.nan]))
                            ys_parts.append(np.array([np.nan]))
                        ext_parts.append(np.array([lf.extent], np.float64))
                if not xs_parts:
                    continue
                rows.append((z, x, y, *agg_fn(
                    z, x, y, np.concatenate(xs_parts),
                    np.concatenate(ys_parts), np.concatenate(ext_parts))))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["z", "x", "y"] +
                    [c.strip().split()[0] for c in agg_schema.split(",")])

    return tiles.mapInPandas(run, f"z int, x bigint, y bigint, {agg_schema}")


def encode_geobuf_tiles(entities: DataFrame,
                        prop_cols: tuple[str, ...] = ("url", "mention_idx"),
                        id_col: str = "doc_id",
                        n_partitions: int | None = None) -> DataFrame:
    """(z, x, y, lng, lat, id, props...) -> one geobuf feature STREAM per
    tile — the alternate-source codec (murphy214/geobuf; the reference's
    WriteLayerGeobuf input, write_layer.go:218-267).

    Same single-shuffle mapInArrow plan as encode_point_tiles; the geobuf
    feature framing itself is a small per-feature kernel inside the Arrow
    batch (compat ingestion codec, not the bulk hot path). Property values
    are rendered as strings (_prop_strings)."""
    cols = ["z", "x", "y", "lng", "lat", id_col, *prop_cols]
    df = entities.select(*cols)
    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    df = (df.repartition(n_partitions, "z", "x", "y")
          .sortWithinPartitions("z", "x", "y", id_col, *prop_cols))

    def emit(rb, starts, ends):
        from ..codec.geobuf import encode_geobuf_feature
        from ..codec.wire import encode_varint
        lng, lat, ids = (rb.column(c).to_numpy(zero_copy_only=False)
                         for c in ("lng", "lat", id_col))
        pvals = {c: _prop_strings(rb.column(c)) for c in prop_cols}
        blobs = []
        for s, e in zip(starts, ends):
            blob = bytearray()
            for i in range(s, e):
                m = encode_geobuf_feature(
                    "Point", [float(lng[i]), float(lat[i])],
                    {c: pvals[c][i] for c in prop_cols}, int(ids[i]))
                blob += encode_varint(len(m)) + m
            blobs.append(bytes(blob))
        return _group_batch(rb, starts, ends,
                            {"geobuf": pa.array(blobs, pa.binary())})

    return df.mapInArrow(
        lambda batches: _sorted_tile_groups(batches, emit),
        "z int, x bigint, y bigint, geobuf binary, n_features int")


def transcode_geobuf_tiles(gb_tiles: DataFrame,
                           layer_name: str = "geo") -> DataFrame:
    """Per-tile geobuf stream -> serialized MVT layer (WriteLayerGeobuf,
    write_layer.go:218-267). Embarrassingly parallel per tile row; output is
    byte-identical to the direct encode path of the quantized features."""
    from ..codec.geobuf import transcode_geobuf_layer

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, x, y, blob, nf in zip(pdf["z"], pdf["x"], pdf["y"],
                                         pdf["geobuf"], pdf["n_features"]):
                buf = transcode_geobuf_layer(bytes(blob), int(z), int(x),
                                             int(y), layer_name)
                rows.append((int(z), int(x), int(y), layer_name, buf, int(nf)))
            yield pd.DataFrame(rows, columns=["z", "x", "y", "layer",
                                              "tile_pbf", "n_features"])

    return gb_tiles.mapInPandas(run, TILE_SCHEMA)


def _object_array(values) -> np.ndarray:
    # element-wise: a list-valued property stays one element
    return np.fromiter(values, dtype=object, count=len(values))


def _props_entries(col, kind: str):
    """A props column as flat per-row entries (keys, values, offsets):
    the MapArray's keys/items cut by its offsets (``kind="map"``), or one
    ``json.loads`` per row (``kind="json"``; not pyarrow.json, whose
    column inference would merge the types of one key's values). A null
    row has no entries; values keep their Python types."""
    if kind == "json":
        keys, vals, offs = [], [], [0]
        for s in col.to_pylist():
            d = json.loads(s) if s is not None else None
            d = dict(d) if d is not None else {}
            keys.extend(d)
            vals.extend(d.values())
            offs.append(len(keys))
        return (np.array(keys, dtype=object), _object_array(vals),
                np.asarray(offs, np.int64))
    o = col.offsets.to_numpy().astype(np.int64)  # a null map is empty
    lo, n = int(o[0]), int(o[-1] - o[0])
    keys = col.keys.slice(lo, n).to_numpy(zero_copy_only=False)
    return keys, _object_array(col.items.slice(lo, n).to_pylist()), o - lo


def _key_sets(keys, offs):
    """Per-row key-set ids over flat per-row entries: rows whose keys are
    the same set (in any order) share an id. Returns (ids, sorted key
    names per id, perm), where ``perm`` orders every row's entries by key
    name (rows stay in place). Keys are unique within a row: Spark
    deduplicates map keys and json.loads builds a dict."""
    n = len(offs) - 1
    lens = np.diff(offs)
    width = int(lens.max()) if n else 0
    row = np.repeat(np.arange(n), lens)
    if not width:
        return np.zeros(n, np.int64), [()], np.arange(len(keys))
    codes, names = pd.factorize(keys, sort=True)
    perm = np.lexsort((codes, row))
    sc = codes[perm]
    mat = np.full((n, width), -1, np.int64)
    mat[row, np.arange(len(sc)) - offs[row]] = sc
    sets, ids = np.unique(mat, axis=0, return_inverse=True)
    return (ids.reshape(-1).astype(np.int64),
            [tuple(names[c] for c in s if c >= 0) for s in sets], perm)


def _take_features(geom, rows, nfeat: int):
    """The flat geometry arrays of features ``rows`` (ascending) only,
    renumbered 0..len(rows)-1."""
    verts, ring_lens, ring_feat, first = geom
    rank = np.full(nfeat, -1, np.int64)
    rank[rows] = np.arange(len(rows))
    keep = rank[ring_feat] >= 0
    return (verts[np.repeat(keep, ring_lens)], ring_lens[keep],
            rank[ring_feat[keep]], first[keep])


def _geojson_coords(geom_type: str, c, four_level: bool):
    """One row's coords list -> the GeoJSON coordinates encode_layer takes
    (the layouts flatten_geom_arrow reads)."""
    if four_level:
        return c
    if geom_type in ("LineString", "MultiPoint"):
        return c[0]
    if geom_type == "Point":
        return c[0][0]
    if geom_type == "MultiPolygon":
        return [[ring] for ring in c]
    return c


def _geom_tiles(rb, starts, ends, geom_type: str, props_kind: str,
                layer_name: str, extent: int, extent_clamp: bool):
    """Complete tile groups of one sorted batch -> their layers. Geometry
    comes from the coords column's list offsets (flatten_geom_arrow),
    property values keep their types. Tiles whose rows all share one key
    set go through encode_geom_tiles_bulk, one call per distinct key set;
    a tile whose rows differ in their key sets is encoded by the scalar
    encode_layer, and only that tile."""
    from ..codec.encode_fast import encode_geom_tiles_bulk, flatten_geom_arrow

    def col(c):
        return rb.column(c).to_numpy(zero_copy_only=False)

    if rb.column("feature_id").null_count:
        raise ValueError("null feature_id")  # no int64 id to write
    zs, xs, ys = col("z"), col("x"), col("y")
    fids = col("feature_id").astype(np.int64)
    coords = rb.column("coords")
    geom = flatten_geom_arrow(geom_type, coords)
    keys, vals, offs = _props_entries(rb.column("props"), props_kind)
    ks, key_sets, perm = _key_sets(keys, offs)
    sorted_vals = vals[perm]
    lo = np.minimum.reduceat(ks, starts)
    tile_ks = np.where(lo == np.maximum.reduceat(ks, starts), lo, -1)
    bufs: list = [None] * len(starts)
    four_level = pa.types.is_list(coords.type.value_type.value_type.value_type)
    for t in np.flatnonzero(tile_ks < 0):
        s, e = int(starts[t]), int(ends[t])
        feats = [{"type": geom_type,
                  "coordinates": _geojson_coords(geom_type, c, four_level),
                  "properties": dict(zip(keys[offs[i]:offs[i + 1]],
                                         vals[offs[i]:offs[i + 1]])),
                  "id": int(fids[i])}
                 for i, c in zip(range(s, e),
                                 coords.slice(s, e - s).to_pylist())]
        bufs[t] = encode_layer(feats, int(zs[s]), int(xs[s]), int(ys[s]),
                               layer_name, extent=extent,
                               extent_clamp=extent_clamp)
    for k in np.unique(tile_ks[tile_ks >= 0]):
        tiles = np.flatnonzero(tile_ks == k)
        lens = ends[tiles] - starts[tiles]
        t_ends = np.cumsum(lens)
        rows = (np.repeat(starts[tiles] - (t_ends - lens), lens)
                + np.arange(int(t_ends[-1])))
        g = geom if len(tiles) == len(starts) else \
            _take_features(geom, rows, len(fids))
        props = {name: sorted_vals[offs[rows] + j]
                 for j, name in enumerate(key_sets[k])}
        out, _ = encode_geom_tiles_bulk(
            zs[rows], xs[rows], ys[rows], fids[rows], props,
            t_ends - lens, t_ends, layer_name, geom_type, *g,
            extent=extent, clamp=extent_clamp)
        for t, buf in zip(tiles, out):
            bufs[t] = buf
    return _tile_batch(rb, starts, ends, layer_name, bufs)


def encode_geojson_tiles(features: DataFrame, geom_type: str,
                         layer_name: str = "features",
                         extent: int = 4096,
                         extent_clamp: bool = False,
                         n_partitions: int | None = None) -> DataFrame:
    """Generic-geometry encode: rows of (z, x, y, feature_id, coords, props)
    -> one MVT layer per tile (WriteLayer, write_layer.go:127-175) for
    every geometry type: Point/MultiPoint/LineString/Polygon/Multi*
    command streams, winding enforcement and ring closure.

    ``coords`` is ``array<array<array<double>>>`` (Polygon rings / an array
    of lines); LineString and MultiPoint read ``coords[0]``, Point
    ``coords[0][0]``, and a 3-level MultiPolygon makes each ring one
    polygon. MultiPolygon also accepts 4-level
    ``array<array<array<array<double>>>>`` — [polygon][ring][pt][xy],
    holes included; the column type decides. ``props`` is a
    ``map<string,string>`` or a JSON object string whose str/int/float/
    bool/null values become the matching MVT Value variants
    (codec/values.py write_value).

    Same plan as encode_point_tiles — ONE repartition on the tile key +
    sortWithinPartitions + a streaming mapInArrow whose kernel
    (encode_geom_tiles_bulk) vectorizes projection/winding/delta/varint
    across every tile in the Arrow batch. Byte-identical to the scalar
    encode_layer per tile (pinned by tests/test_encode_fast.py); a tile
    whose rows differ in their property key sets is encoded by
    encode_layer inside the UDF. This gives polygon-heavy workloads
    (building footprints, parcels — billions of rows) the cost model of
    the point firehose (reference equivalent: write_geometry.go:108-378,
    one cost model for every type)."""
    from pyspark.sql.types import MapType, StringType

    ptype = features.schema["props"].dataType
    if isinstance(ptype, MapType) and isinstance(ptype.keyType, StringType):
        props_kind = "map"
    elif isinstance(ptype, StringType):
        props_kind = "json"
    else:
        raise TypeError("props must be map<string,...> or a JSON string, "
                        f"not {ptype.simpleString()}")
    df = features.select("z", "x", "y", "feature_id", "coords", "props")
    if n_partitions is None:
        n_partitions = df.sparkSession.sparkContext.defaultParallelism * 2
    df = (df.repartition(n_partitions, "z", "x", "y")
          .sortWithinPartitions("z", "x", "y", "feature_id"))

    def run(batches):
        return _sorted_tile_groups(batches, lambda rb, s, e: _geom_tiles(
            rb, s, e, geom_type, props_kind, layer_name, extent,
            extent_clamp))

    return df.mapInArrow(run, TILE_SCHEMA)



def decode_tile_vertices(tiles: DataFrame, scale_dim: float | None = None) -> DataFrame:
    """Full-geometry decode to exploded vertex rows in tile-local integer
    coords — the LoadGeometry int path (read_feature_lazy.go:162-291).

    With ``scale_dim`` also emits coords scaled by 1/dim with
    round-half-away-from-zero — ConvertGeometry / LoadGeometryScaled
    (read_feature_lazy.go:342-396, ``pbf.Round(x/dim, .5, 0)``)."""
    from ..codec.decode import decode_tile

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Per-FEATURE scalar metadata + per-feature vertex arrays; the
            # per-vertex expansion happens once at the end with np.repeat —
            # no per-vertex Python (the bulk treatment the point decoder got,
            # see VERDICT r2 next-round #1).
            meta_z, meta_x, meta_y = [], [], []
            meta_layer, meta_fid, meta_gt = [], [], []
            counts = []            # vertices per feature
            rings_per_feat = []    # rings per feature
            all_ring_lens = []     # flat: vertices per ring, across features
            xs_parts, ys_parts = [], []
            for z, x, y, buf in zip(pdf["z"], pdf["x"], pdf["y"],
                                    pdf["tile_pbf"]):
                if buf is None:
                    continue
                for lname, f in decode_tile(bytes(buf), int(z), int(x),
                                            int(y), mode="int"):
                    n = sum(f.ring_lens)
                    if n == 0:
                        continue
                    meta_z.append(int(z)); meta_x.append(int(x))
                    meta_y.append(int(y)); meta_layer.append(lname)
                    meta_fid.append(f.feature_id)
                    meta_gt.append(f.geojson_type)
                    counts.append(n)
                    rings_per_feat.append(len(f.ring_lens))
                    all_ring_lens.extend(f.ring_lens)
                    xs_parts.append(f.xs)
                    ys_parts.append(f.ys)
            if counts:
                cnt = np.asarray(counts, dtype=np.int64)
                # ring_idx / pt_idx computed ONCE at batch level:
                # ring index within its feature, repeated per vertex …
                lens = np.asarray(all_ring_lens, dtype=np.int64)
                rpf = np.asarray(rings_per_feat, dtype=np.int64)
                ring_off = np.repeat(np.cumsum(rpf) - rpf, rpf)
                ring_in_feat = np.arange(len(lens), dtype=np.int64) - ring_off
                ring_idx = np.repeat(ring_in_feat.astype(np.int32), lens)
                # … and vertex index within its ring.
                vert_off = np.repeat(np.cumsum(lens) - lens, lens)
                pt_idx = (np.arange(int(lens.sum()), dtype=np.int64)
                          - vert_off).astype(np.int32)
                out = pd.DataFrame({
                    "z": np.repeat(np.asarray(meta_z, np.int32), cnt),
                    "x": np.repeat(np.asarray(meta_x, np.int64), cnt),
                    "y": np.repeat(np.asarray(meta_y, np.int64), cnt),
                    "layer": np.repeat(np.asarray(meta_layer, object), cnt),
                    # feature_id may be None (id field absent in the wire);
                    # object-repeat + nullable Int64 keeps bigint-with-null.
                    "feature_id": pd.array(
                        np.repeat(np.asarray(meta_fid, object), cnt),
                        dtype="Int64"),
                    "geojson_type": np.repeat(np.asarray(meta_gt, object), cnt),
                    "ring_idx": ring_idx,
                    "pt_idx": pt_idx,
                    "ix": np.concatenate(xs_parts).astype(np.int64),
                    "iy": np.concatenate(ys_parts).astype(np.int64),
                })
            else:
                out = pd.DataFrame({
                    "z": np.array([], np.int32), "x": np.array([], np.int64),
                    "y": np.array([], np.int64),
                    "layer": np.array([], object),
                    "feature_id": np.array([], np.int64),
                    "geojson_type": np.array([], object),
                    "ring_idx": np.array([], np.int32),
                    "pt_idx": np.array([], np.int32),
                    "ix": np.array([], np.int64),
                    "iy": np.array([], np.int64),
                })
            if scale_dim is not None:
                for src, dst in (("ix", "sx"), ("iy", "sy")):
                    v = out[src].to_numpy(np.float64) / float(scale_dim)
                    out[dst] = (np.sign(v) *
                                np.floor(np.abs(v) + 0.5)).astype(np.int64)
            yield out

    schema = ("z int, x bigint, y bigint, layer string, feature_id bigint, "
              "geojson_type string, ring_idx int, pt_idx int, "
              "ix bigint, iy bigint")
    if scale_dim is not None:
        schema += ", sx bigint, sy bigint"
    return tiles.mapInPandas(run, schema)


def decode_tile_props_typed(tiles: DataFrame,
                            prop_schema: dict[str, str]) -> DataFrame:
    """Decode features to flat TYPED property columns — the 7-type MVT
    Value variant (write_primitives.go:202-243 / read_layer.go:97-114)
    surviving the distributed round trip with python-native types.

    ``prop_schema``: {prop_name: spark_type} e.g. {"nk": "bigint",
    "frac": "double", "flag": "boolean", "name": "string"}. Adds a
    ``ptypes`` column with the decoded python type names (sorted by prop)
    so tests/oracles can assert type preservation, not just values."""
    from ..codec.decode import decode_feature, parse_tile

    names = sorted(prop_schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {"feature_id": [], "ptypes": []}
            for c in names:
                cols[c] = []
            for buf in pdf["tile_pbf"]:
                if buf is None:
                    continue
                for lf in parse_tile(bytes(buf)):
                    for span in lf.feature_spans:
                        f = decode_feature(lf, span, mode="props")
                        if f is None:
                            continue
                        cols["feature_id"].append(f.feature_id)
                        tags = []
                        for c in names:
                            v = f.properties.get(c)
                            cols[c].append(v)
                            tags.append(type(v).__name__)
                        cols["ptypes"].append(",".join(tags))
            yield pd.DataFrame(cols)

    schema = "feature_id bigint, ptypes string, " + ", ".join(
        f"{c} {prop_schema[c]}" for c in names)
    return tiles.mapInPandas(run, schema)


def tile_stats(tiles: DataFrame) -> DataFrame:
    """Header-only scan: layer names + feature counts without decoding
    features — the NewTile lazy-catalog path (read_tile.go:20-44)."""
    from ..codec.decode import parse_tile

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, x, y, buf in zip(pdf["z"], pdf["x"], pdf["y"], pdf["tile_pbf"]):
                for lf in parse_tile(bytes(buf)):
                    rows.append((int(z), int(x), int(y), lf.name,
                                 len(lf.feature_spans), lf.extent, lf.version,
                                 len(lf.keys), len(lf.values)))
            yield pd.DataFrame(rows, columns=["z", "x", "y", "layer",
                                              "n_features", "extent", "version",
                                              "n_keys", "n_values"])

    return tiles.mapInPandas(
        stats, "z int, x bigint, y bigint, layer string, n_features int, "
               "extent int, version int, n_keys int, n_values int")
