"""Spark-facing codec operators: map-batch encode and decode.

The one unavoidable Python boundary in the engine is the MVT byte codec —
everything before (extraction, tile assignment) and after (aggregation,
joins) stays JVM-side. Every UDF is Arrow-batched; no per-row Python
anywhere. The encoders all take the same plan (``_encode_plan``): one
repartition on the tile key, a sortWithinPartitions, then ``mapInArrow``
over one sorted-batch carry protocol (``_sorted_tile_groups``) feeding
the one bulk encode kernel (``codec.encode_fast.encode_geom_tiles_bulk``)
once per batch, so no pandas frame is built on either side of the encode
boundary and no tile falls back to the scalar ``codec.encode`` oracle:
rows of any property key sets encode byte-identically to it. The
decoders are ``mapInArrow`` too: each decodes its tiles' layers through
the one layer decode (``codec.decode.decode_layer_columns``) or its own
kernel, and builds its output RecordBatch from the columns.

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

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def _encode_plan(df: DataFrame, n_partitions: int | None, key: tuple,
                 order: tuple, emit, ddl: str) -> DataFrame:
    """The one plan of every encoder: hash-repartition ``df`` on the tile
    ``key``, sort each partition by ``key`` then ``order``, and run
    ``emit`` over the complete tile groups of every sorted Arrow batch
    (_sorted_tile_groups) in one mapInArrow with output schema ``ddl``.

    With ``n_partitions`` None the exchange is un-numbered
    (REPARTITION_BY_COL), so AQE coalesces it to the layer's shuffle
    bytes (session.get_spark sets the floor) and a small layer starts
    few Python tasks; a numbered one (REPARTITION_BY_NUM) it never
    coalesces. Not ``rebalance``: AQE may split a skewed rebalance
    partition, which would put one tile in two rows."""
    by = key if n_partitions is None else (n_partitions, *key)
    df = df.repartition(*by).sortWithinPartitions(*key, *order)

    def run(batches):
        return _sorted_tile_groups(batches, emit)

    return df.mapInArrow(run, ddl)


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

    if rb.column(id_col).null_count:
        raise ValueError(f"null {id_col}")  # no int64 id to write
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
    SURVEY §2.10). Property values are encoded as strings. AQE sizes the
    shuffle from its bytes unless ``n_partitions`` pins it
    (_encode_plan)."""
    df = entities.select("z", "x", "y", "lng", "lat", id_col, *prop_cols)
    return _encode_plan(
        df, n_partitions, ("z", "x", "y"), (id_col, *prop_cols),
        lambda rb, s, e: _point_tiles(rb, s, e, layer_name, prop_cols,
                                      extent, id_col), TILE_SCHEMA)


def encode_point_tiles_salted(entities: DataFrame, layer_name: str = "geo",
                              prop_cols: tuple[str, ...] = ("url", "mention_idx"),
                              n_salts: int = 8, id_col: str = "doc_id") -> DataFrame:
    """Skew-resistant encode: hash-salt the tile group key, encode partial
    layers per (tile, salt), then binary-concat partials per tile.

    Concat of serialized layers is a valid multi-layer tile (compositing,
    README.md:142-191); readers that merge same-named layers see one logical
    layer. The final concat is a tiny per-tile agg, so the heavy encode work
    spreads over n_salts times more tasks for hot tiles."""
    df = entities.select(
        "z", "x", "y", "lng", "lat", id_col, *prop_cols).withColumn(
        "salt", F.pmod(F.xxhash64(id_col), F.lit(n_salts)).cast("int"))
    partials = _encode_plan(
        df, None, ("z", "x", "y", "salt"), (id_col, *prop_cols),
        lambda rb, s, e: _point_tiles(rb, s, e, layer_name, prop_cols,
                                      4096, id_col),
        TILE_SCHEMA + ", salt int").drop("layer")
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


def _arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema of a Spark DDL schema, for a mapInArrow output."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType
    return to_arrow_schema(DataType.fromDDL(ddl))


def _record_batch(schema: pa.Schema, cols: dict) -> pa.RecordBatch:
    """One mapInArrow output batch from ``cols`` (name -> array or
    sequence), each cast to its field's type. As in a pandas UDF's output,
    None and NaN read as null."""
    return pa.RecordBatch.from_arrays(
        [c.cast(f.type) if isinstance(c := cols[f.name], pa.Array)
         else pa.array(c, type=f.type, from_pandas=True) for f in schema],
        schema=schema)


def _tile_keys(rb, rows=None):
    """z, x, y of a tile batch as int64 arrays; of ``rows`` only, if given."""
    keys = [np.asarray(rb.column(c).to_numpy(zero_copy_only=False), np.int64)
            for c in ("z", "x", "y")]
    if rows is None:
        return keys
    rows = np.asarray(rows, np.int64)
    return [k[rows] for k in keys]


def _feature_ids(ids: np.ndarray) -> pa.Array:
    # uint64 wire ids as bigint: 0 (absent) is null, ids >= 2^63 keep
    # their 64 bits, the inverse of the encoders' negative-id wrap
    return pa.array(ids.view(np.int64), mask=ids == 0)


def _layer_tables(bufs, mode: str, layers, quarantine: bool):
    """Every selected layer of tiles ``bufs`` (None tiles skipped) through
    decode_layer_columns: yields (index, layer name, LayerColumns). Without
    ``quarantine`` the first tile or feature that fails to decode raises;
    with it, such a tile yields (index, None, exception) and each
    LayerColumns keeps its feature errors."""
    from ..codec.decode import decode_layer_columns, parse_tile
    for i, buf in enumerate(bufs):
        if buf is None:
            continue
        try:
            decoded = [(lf.name, decode_layer_columns(lf, mode))
                       for lf in parse_tile(buf)
                       if layers is None or lf.name in layers]
        except Exception as e:  # noqa: BLE001 — quarantine, not crash
            if not quarantine:
                raise
            yield i, None, e
            continue
        for name, lc in decoded:
            if lc.errors and not quarantine:
                raise lc.errors[0]
            yield i, name, lc


def _entries(lcs):
    """The property entries of layers ``lcs`` end to end: (keys, values,
    entries per feature)."""
    empty = np.zeros(0, object)
    return (np.concatenate([empty, *(lc.keys for lc in lcs)]),
            np.concatenate([empty, *(lc.values for lc in lcs)]),
            np.concatenate([np.zeros(0, np.int64),
                            *(np.diff(lc.offsets) for lc in lcs)]))


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

    ``quarantine``: a corrupt tile, and each feature that fails to decode,
    becomes a row with the ``error`` column set (null feature fields)
    instead of failing the stage — the distributed form of the reference's
    per-tile panic/recover (read_tile.go:79-84)."""
    if prop_cols is None:
        ddl = FEATURE_SCHEMA
    elif prop_cols:
        ddl = FEATURE_SCHEMA.replace(
            "properties map<string,string>",
            ", ".join(f"{c} string" for c in prop_cols))
    else:  # properties projected away entirely
        ddl = FEATURE_SCHEMA.replace(", properties map<string,string>", "")
    if quarantine:
        ddl += ", error string"
    schema = _arrow_schema(ddl)
    # decode to tile ints; inverse-project the whole Arrow batch in ONE
    # vectorized call (the per-feature Project of the reference,
    # read_feature_lazy.go:54-63, amortized batch-wide)
    inner_mode = "props" if mode == "props" else "int"

    def run(batches):
        for rb in batches:
            rows, names, lcs, err_rows, errs = [], [], [], [], []
            for i, name, lc in _layer_tables(
                    rb.column("tile_pbf").to_pylist(), inner_mode, layers,
                    quarantine):
                if name is None:
                    err_rows.append(i)
                    errs.append(f"parse: {lc!r}"[:200])
                    continue
                rows.append(i)
                names.append(name)
                lcs.append(lc)
                err_rows += [i] * len(lc.errors)
                errs += [f"feature: {e!r}"[:200] for e in lc.errors]
            if lcs or errs:
                yield _feature_batch(rb, rows, names, lcs, err_rows, errs,
                                     mode, prop_cols, schema)

    return tiles.mapInArrow(run, ddl)


def _feature_batch(rb, rows, names, lcs, err_rows, errs, mode, prop_cols,
                   schema):
    """decode_tiles' output for one input batch: the features of layers
    ``lcs`` (of tile rows ``rows``), then one row per error in ``errs``."""
    from .. import tilemath as tm
    counts = np.array([len(lc.ids) for lc in lcs], np.int64)
    n_feat, n_err = int(counts.sum()), len(errs)
    n = n_feat + n_err

    def cat(attr, fill, dtype):
        return np.concatenate([np.zeros(0, dtype),
                               *(getattr(lc, attr) for lc in lcs),
                               np.full(n_err, fill, dtype)])

    z, x, y = _tile_keys(rb, np.concatenate(
        [np.repeat(np.asarray(rows, np.int64), counts), err_rows]))
    lng, lat = cat("px", np.nan, np.float64), cat("py", np.nan, np.float64)
    if mode == "lnglat":
        extent = np.repeat([lc.extent for lc in lcs] + [4096], [*counts, n_err])
        lng, lat = tm.project_tile_to_lnglat(lng, lat, z, x, y, extent)
    is_err = np.arange(n) >= n_feat
    cols = {"z": z, "x": x, "y": y,
            "layer": np.repeat(np.array([*names, None], object),
                               [*counts, n_err]),
            "feature_id": _feature_ids(cat("ids", 0, np.uint64)),
            "geom_type": pa.array(cat("geom_type", 0, np.int64), pa.int32(),
                                  mask=is_err),
            "geojson_type": cat("geojson_type", None, object),
            "lng": lng, "lat": lat,
            "error": np.array([None] * n_feat + errs, object)}
    keys, values, lens = _entries(lcs)
    lens = np.concatenate([lens, np.zeros(n_err, np.int64)])
    if prop_cols is None:
        cols["properties"] = pa.MapArray.from_arrays(
            pa.array(np.concatenate([[0], np.cumsum(lens)]), pa.int32()),
            pa.array(keys, pa.string()),
            pa.array([str(v) for v in values], pa.string()),
            type=schema.field("properties").type)
    else:
        entry_row = np.repeat(np.arange(n), lens)
        for c in prop_cols:
            hit = keys == c
            col = np.full(n, None, object)
            col[entry_row[hit]] = [str(v) for v in values[hit]]
            cols[c] = col
    return _record_batch(schema, cols)


# decode_tile_stats' size router: the cross-tile kernel wins where the
# per-tile walk's fixed numpy setup dominates — SPARSE tiles (few
# features). On dense tiles (KBs of features each) the walk is already
# amortized and the kernel's big streaming temporaries lose (this host's
# guest kernel inflates sustained streaming passes ~10x, BASELINE.md
# r3/r4). Each kernel call takes at most BULK_STATS_CHUNK tiles and about
# BULK_STATS_BYTES wire bytes: its int64 matrices expand ~30x, so a chunk's
# temporaries stay ~8 MB, cache-adjacent.
BULK_STATS_MAX_TILE = 4096
BULK_STATS_CHUNK = 1024
BULK_STATS_BYTES = 1 << 18


def _bulk_tile_stats(bufs, distinct_prop: str, layers):
    """bulk_point_tile_stats over the batch's tiles of at most
    BULK_STATS_MAX_TILE bytes, chunk by chunk: (ns, nvs, handled)."""
    from ..codec.decode import bulk_point_tile_stats
    ns = np.zeros(len(bufs), dtype=np.int64)
    nvs = np.zeros(len(bufs), dtype=np.int64)
    handled = np.zeros(len(bufs), dtype=bool)
    small = [i for i, b in enumerate(bufs)
             if b is not None and len(b) <= BULK_STATS_MAX_TILE]
    lo = 0
    while lo < len(small):
        hi, acc = lo, 0
        while (hi < len(small) and hi - lo < BULK_STATS_CHUNK
               and acc < BULK_STATS_BYTES):
            acc += len(bufs[small[hi]])
            hi += 1
        sel = small[lo:hi]
        lo = hi
        # Any kernel exception degrades this chunk to the per-tile
        # decode (handled stays False) — one corrupt tile must never fail
        # the Spark task (ADVICE r4 high: decode_tile_stats' per-tile
        # isolation contract).
        try:
            cns, cnvs, ch = bulk_point_tile_stats(
                [bufs[i] for i in sel], distinct_prop, layers)
        except Exception:  # noqa: BLE001 — isolate chunk
            continue
        ns[sel], nvs[sel], handled[sel] = cns, cnvs, ch
    return ns, nvs, handled


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
    ddl = f"z int, x bigint, y bigint, n_features bigint, {out_col} bigint"
    if quarantine:
        ddl += ", error string"
    schema = _arrow_schema(ddl)

    def stats(batches):
        for rb in batches:
            bufs = rb.column("tile_pbf").to_pylist()
            ns, nvs, handled = _bulk_tile_stats(bufs, distinct_prop, layers)
            # the tiles the kernel left: count and distinct over their
            # layer columns
            left = np.flatnonzero(~handled).tolist()
            vals = {i: set() for i in left}
            errs = {}
            for k, name, lc in _layer_tables([bufs[i] for i in left],
                                             "props", layers, quarantine):
                i = left[k]
                err = lc if name is None else next(iter(lc.errors), None)
                if err is not None:
                    errs.setdefault(i, f"decode: {err!r}"[:200])
                if i in errs:
                    continue
                ns[i] += len(lc.ids)
                vals[i].update(str(v) for v in
                               lc.values[lc.keys == distinct_prop]
                               if v is not None)
            for i in left:
                ns[i], nvs[i] = (0, 0) if i in errs else (ns[i], len(vals[i]))
            rows = [i for i in range(len(bufs)) if ns[i] or i in errs]
            if rows:
                z, x, y = _tile_keys(rb, rows)
                yield _record_batch(schema, {
                    "z": z, "x": x, "y": y, "n_features": ns[rows],
                    out_col: nvs[rows], "error": [errs.get(i) for i in rows]})

    return tiles.mapInArrow(stats, ddl)


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

    Coordinate semantics match decode_tiles(mode='int'): every feature
    contributes its first vertex, and empty geometries contribute NaN (so
    counts include them, coordinate predicates exclude them — same as the
    unfused groupBy plan).

    INPUT CONTRACT (same as decode_tile_stats): ONE row per (z, x, y)
    tile key. The aggregate runs per input ROW, not per key — feeding a
    key split across multiple rows yields duplicate (z, x, y) output
    rows, diverging from the unfused decode+groupBy plan. Composite
    partial-union tiles first (sparkops.compositing.composite)."""
    ddl = f"z int, x bigint, y bigint, {agg_schema}"
    schema = _arrow_schema(ddl)

    def run(batches):
        for rb in batches:
            zs, xs, ys = _tile_keys(rb)
            per_tile: dict = {}
            for i, _, lc in _layer_tables(rb.column("tile_pbf").to_pylist(),
                                          "int", layers, False):
                per_tile.setdefault(i, []).append(lc)
            rows, aggs = [], []
            for i, lcs in per_tile.items():
                if not sum(len(lc.ids) for lc in lcs):
                    continue
                rows.append(i)
                aggs.append(agg_fn(
                    int(zs[i]), int(xs[i]), int(ys[i]),
                    np.concatenate([lc.px for lc in lcs]),
                    np.concatenate([lc.py for lc in lcs]),
                    np.concatenate([np.full(len(lc.ids), lc.extent, np.float64)
                                    for lc in lcs])))
            if rows:
                cols = dict(zip(schema.names[3:], map(list, zip(*aggs))))
                cols["z"], cols["x"], cols["y"] = zs[rows], xs[rows], ys[rows]
                yield _record_batch(schema, cols)

    return tiles.mapInArrow(run, ddl)


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

    df = entities.select("z", "x", "y", "lng", "lat", id_col, *prop_cols)
    return _encode_plan(
        df, n_partitions, ("z", "x", "y"), (id_col, *prop_cols), emit,
        "z int, x bigint, y bigint, geobuf binary, n_features int")


def transcode_geobuf_tiles(gb_tiles: DataFrame,
                           layer_name: str = "geo") -> DataFrame:
    """Per-tile geobuf stream -> serialized MVT layer (WriteLayerGeobuf,
    write_layer.go:218-267). Embarrassingly parallel per tile row; output is
    byte-identical to the direct encode path of the quantized features.
    A null ``geobuf`` row is skipped, as every decoder skips a null tile."""
    schema = _arrow_schema(TILE_SCHEMA)

    def run(batches):
        from ..codec.geobuf import transcode_geobuf_layer
        for rb in batches:
            blobs = rb.column("geobuf").to_pylist()
            rows = [i for i, blob in enumerate(blobs) if blob is not None]
            if not rows:
                continue
            z, x, y = _tile_keys(rb, rows)
            bufs = [transcode_geobuf_layer(blobs[i], int(a), int(b), int(c),
                                           layer_name)
                    for i, a, b, c in zip(rows, z, x, y)]
            yield _record_batch(schema, {
                "z": z, "x": x, "y": y, "layer": [layer_name] * len(bufs),
                "tile_pbf": bufs,
                "n_features": rb.column("n_features").take(pa.array(rows))})

    return gb_tiles.mapInArrow(run, TILE_SCHEMA)


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


def _geom_tiles(rb, starts, ends, geom_type: str, props_kind: str,
                layer_name: str, extent: int, extent_clamp: bool):
    """Complete tile groups of one sorted batch -> their layers, in one
    encode_geom_tiles_bulk call. Geometry comes from the coords column's
    list offsets (flatten_geom_arrow); properties are the rows' flat
    entries (_props_entries), values keeping their types, so rows need
    not share a key set."""
    from ..codec.encode_fast import encode_geom_tiles_bulk, flatten_geom_arrow

    def col(c):
        return rb.column(c).to_numpy(zero_copy_only=False)

    if rb.column("feature_id").null_count:
        raise ValueError("null feature_id")  # no int64 id to write
    bufs, _ = encode_geom_tiles_bulk(
        col("z"), col("x"), col("y"), col("feature_id").astype(np.int64),
        _props_entries(rb.column("props"), props_kind), starts, ends,
        layer_name, geom_type,
        *flatten_geom_arrow(geom_type, rb.column("coords")),
        extent=extent, clamp=extent_clamp)
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
    encode_layer per tile whatever property keys each row carries (pinned
    by tests/test_encode_fast.py and tests/test_geom_tiles.py), with no
    scalar fallback. This gives polygon-heavy workloads
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
    return _encode_plan(
        df, n_partitions, ("z", "x", "y"), ("feature_id",),
        lambda rb, s, e: _geom_tiles(rb, s, e, geom_type, props_kind,
                                     layer_name, extent, extent_clamp),
        TILE_SCHEMA)



def decode_tile_vertices(tiles: DataFrame, scale_dim: float | None = None) -> DataFrame:
    """Full-geometry decode to exploded vertex rows in tile-local integer
    coords — the LoadGeometry int path (read_feature_lazy.go:162-291).

    With ``scale_dim`` also emits coords scaled by 1/dim with
    round-half-away-from-zero — ConvertGeometry / LoadGeometryScaled
    (read_feature_lazy.go:342-396, ``pbf.Round(x/dim, .5, 0)``)."""
    ddl = ("z int, x bigint, y bigint, layer string, feature_id bigint, "
           "geojson_type string, ring_idx int, pt_idx int, "
           "ix bigint, iy bigint")
    if scale_dim is not None:
        ddl += ", sx bigint, sy bigint"
    schema = _arrow_schema(ddl)

    def run(batches):
        from ..codec.decode import decode_tile
        for rb in batches:
            # Per-FEATURE scalar metadata + per-feature vertex arrays; the
            # per-vertex expansion happens once at the end with np.repeat —
            # no per-vertex Python (the bulk treatment the point decoder got,
            # see VERDICT r2 next-round #1).
            rows, meta_layer, meta_fid, meta_gt = [], [], [], []
            counts = []            # vertices per feature
            rings_per_feat = []    # rings per feature
            all_ring_lens = []     # flat: vertices per ring, across features
            xs_parts, ys_parts = [], []
            for i, buf in enumerate(rb.column("tile_pbf").to_pylist()):
                if buf is None:
                    continue
                for lname, f in decode_tile(buf, mode="int"):
                    n = sum(f.ring_lens)
                    if n == 0:
                        continue
                    rows.append(i)
                    meta_layer.append(lname)
                    meta_fid.append(f.feature_id or 0)
                    meta_gt.append(f.geojson_type)
                    counts.append(n)
                    rings_per_feat.append(len(f.ring_lens))
                    all_ring_lens.extend(f.ring_lens)
                    xs_parts.append(f.xs)
                    ys_parts.append(f.ys)
            if not counts:
                continue
            cnt = np.asarray(counts, dtype=np.int64)
            # ring_idx / pt_idx computed ONCE at batch level:
            # ring index within its feature, repeated per vertex …
            lens = np.asarray(all_ring_lens, dtype=np.int64)
            rpf = np.asarray(rings_per_feat, dtype=np.int64)
            ring_off = np.repeat(np.cumsum(rpf) - rpf, rpf)
            ring_in_feat = np.arange(len(lens), dtype=np.int64) - ring_off
            # … and vertex index within its ring.
            vert_off = np.repeat(np.cumsum(lens) - lens, lens)
            z, x, y = _tile_keys(rb, np.repeat(rows, cnt))
            cols = {
                "z": z, "x": x, "y": y,
                "layer": np.repeat(np.asarray(meta_layer, object), cnt),
                "feature_id": _feature_ids(
                    np.repeat(np.asarray(meta_fid, np.uint64), cnt)),
                "geojson_type": np.repeat(np.asarray(meta_gt, object), cnt),
                "ring_idx": np.repeat(ring_in_feat, lens),
                "pt_idx": np.arange(int(lens.sum()), dtype=np.int64) - vert_off,
                "ix": np.concatenate(xs_parts).astype(np.int64),
                "iy": np.concatenate(ys_parts).astype(np.int64),
            }
            if scale_dim is not None:
                for src, dst in (("ix", "sx"), ("iy", "sy")):
                    v = cols[src] / float(scale_dim)
                    cols[dst] = (np.sign(v) *
                                 np.floor(np.abs(v) + 0.5)).astype(np.int64)
            yield _record_batch(schema, cols)

    return tiles.mapInArrow(run, ddl)


def decode_tile_props_typed(tiles: DataFrame,
                            prop_schema: dict[str, str]) -> DataFrame:
    """Decode features to flat TYPED property columns — the 7-type MVT
    Value variant (write_primitives.go:202-243 / read_layer.go:97-114)
    surviving the distributed round trip with python-native types.

    ``prop_schema``: {prop_name: spark_type} e.g. {"nk": "bigint",
    "frac": "double", "flag": "boolean", "name": "string"}. Adds a
    ``ptypes`` column with the decoded python type names (sorted by prop)
    so tests/oracles can assert type preservation, not just values."""
    names = sorted(prop_schema)
    ddl = "feature_id bigint, ptypes string, " + ", ".join(
        f"{c} {prop_schema[c]}" for c in names)
    schema = _arrow_schema(ddl)

    def run(batches):
        for rb in batches:
            lcs = [lc for _, _, lc in _layer_tables(
                rb.column("tile_pbf").to_pylist(), "props", None, False)]
            keys, values, lens = _entries(lcs)
            n = len(lens)
            if not n:
                continue
            entry_row = np.repeat(np.arange(n), lens)
            cols = {"feature_id": _feature_ids(
                np.concatenate([lc.ids for lc in lcs]))}
            for c in names:
                hit = keys == c
                cols[c] = np.full(n, None, object)
                cols[c][entry_row[hit]] = values[hit]
            cols["ptypes"] = [",".join(type(cols[c][r]).__name__
                                       for c in names) for r in range(n)]
            yield _record_batch(schema, cols)

    return tiles.mapInArrow(run, ddl)


def tile_stats(tiles: DataFrame) -> DataFrame:
    """Header-only scan: layer names + feature counts without decoding
    features — the NewTile lazy-catalog path (read_tile.go:20-44)."""
    ddl = ("z int, x bigint, y bigint, layer string, n_features int, "
           "extent int, version int, n_keys int, n_values int")
    schema = _arrow_schema(ddl)

    def stats(batches):
        from ..codec.decode import parse_tile
        for rb in batches:
            recs = [(i, lf.name, len(lf.feature_spans), lf.extent,
                     lf.version, len(lf.keys), len(lf.values))
                    for i, buf in enumerate(rb.column("tile_pbf").to_pylist())
                    if buf is not None for lf in parse_tile(buf)]
            if recs:
                rows, *vals = zip(*recs)
                yield _record_batch(schema, dict(zip(
                    schema.names, (*_tile_keys(rb, rows), *vals))))

    return tiles.mapInArrow(stats, ddl)
