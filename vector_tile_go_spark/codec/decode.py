"""MVT tile decoder: bytes -> layers -> features.

From-scratch re-creation of the reference read path:

- tile/layer frame parse + dictionaries  (read_tile.go:20-44, read_layer.go:31-152)
- feature parse (id/tags/type/geometry)  (read_feature_lazy.go:66-134)
- command-stream walk, ring->polygon assembly, inverse projection
  (read_tile.go:228-340, read_feature_lazy.go:162-291)

DOCUMENTED DEVIATION: the reference decodes every MoveTo after the first as
an *absolute* position for geom types 1 and 3 (read_tile.go:231-235), which
contradicts both the MVT spec and its own encoder (the cursor carries across
rings/parts on write, write_geometry.go:242-247). This decoder follows the
spec — the cursor continues across all parts for all types — so that
decode(encode(x)) is the identity on quantized geometry; the reference's
round-trip tests only exercised decoded-feature equivalence, which this
preserves. It also handles MoveTo runs with count > 1 (MultiPoint headers,
cmd 0x11 etc.), which the reference's literal ``geom[pos] == 9`` check
(read_tile.go:229) cannot parse.

Laziness: the reference's lazy Feature defers geometry decode until
LoadGeometry (read_feature_lazy.go:66-134). Here the same work-avoidance is
achieved by *mode* — 'props' skips geometry entirely, 'int' skips the
inverse projection, 'lnglat' does the full job — chosen by the Spark layer
from the query's projected columns (Catalyst column pruning).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .. import tilemath as tm
from .values import read_value
from .wire import read_key, read_varint, varint_decode_all

GEOM_TYPE_NAME = {1: "Point", 2: "LineString", 3: "Polygon"}


@dataclass
class LayerFrame:
    """Parsed layer header: the reference's lazy Layer (read_layer.go:11-26).

    ``feature_spans`` are byte ranges into ``buf`` — features stay undecoded
    until asked for, mirroring the byte-offset slice at read_layer.go:50-54."""
    name: str
    extent: int
    version: int
    keys: list
    values: list
    feature_spans: list  # (start, end) byte offsets of feature bodies
    buf: bytes
    start: int = 0
    end: int = 0
    # raw byte spans (incl. field tag + length prefix) for zero-copy splice
    # re-emit (the reference's ToLayerWrite/CleanLayer byte reuse,
    # read_layer.go:168-280, operations.go:26-54)
    feature_frame_spans: list = field(default_factory=list)
    dict_spans: list = field(default_factory=list)  # key+value fields, in order
    # byte offset of the layer's 0x1a field tag in buf (frame start incl.
    # tag + length varint). -1 = unknown (frame built by hand); splice ops
    # then fall back to deriving it from a minimal length varint.
    frame_start: int = -1


@dataclass
class DecodedFeature:
    feature_id: int | None
    geom_type: int
    properties: dict
    # geometry as flat arrays: all points concatenated; ring_lens = points
    # per ring/part; poly_ring_counts = rings per polygon (type 3 only)
    xs: np.ndarray = field(default_factory=lambda: np.zeros(0))
    ys: np.ndarray = field(default_factory=lambda: np.zeros(0))
    ring_lens: list = field(default_factory=list)
    poly_ring_counts: list = field(default_factory=list)
    geojson_type: str = ""

    def rings(self):
        """Yield (n, 2) arrays per ring/part."""
        off = 0
        for ln in self.ring_lens:
            yield np.stack([self.xs[off:off + ln], self.ys[off:off + ln]], axis=1)
            off += ln

    def coordinates(self):
        """Nested-list GeoJSON coordinates for the inferred geojson_type."""
        rings = [r.tolist() for r in self.rings()]
        t = self.geojson_type
        if t == "Point":
            return rings[0][0]
        if t == "MultiPoint":
            return rings[0]
        if t == "LineString":
            return rings[0]
        if t == "MultiLineString":
            return rings
        if t == "Polygon":
            return rings
        if t == "MultiPolygon":
            out, off = [], 0
            for c in self.poly_ring_counts:
                out.append(rings[off:off + c])
                off += c
            return out
        return rings


def parse_tile(buf: bytes) -> list[LayerFrame]:
    """NewTile (read_tile.go:20-44): parse only layer frames, lazily."""
    layers = []
    pos, n = 0, len(buf)
    while pos < n:
        tag_pos = pos
        fieldno, wt, pos = read_key(buf, pos)
        if fieldno == 3 and wt == 2:
            size, pos = read_varint(buf, pos)
            lf = parse_layer(buf, pos, pos + size)
            # actual frame start (tag byte), robust to padded (non-minimal)
            # length varints in foreign tiles — splice ops reuse it verbatim
            lf.frame_start = tag_pos
            layers.append(lf)
            pos += size
        elif wt == 0:
            _, pos = read_varint(buf, pos)
        elif wt == 2:
            size, pos = read_varint(buf, pos)
            pos += size
        elif wt == 5:
            pos += 4
        elif wt == 1:
            pos += 8
        else:
            break
    return layers


def parse_layer(buf: bytes, pos: int, end: int) -> LayerFrame:
    """NewLayer (read_layer.go:31-152): single pass collecting name, feature
    byte spans (bodies skipped), key strings, value variants, extent,
    version.

    Hot loop: the field key and length varints are inlined with a
    single-byte fast path (field keys here are always 1 byte; lengths
    usually are) and the branch chain is ordered by field frequency
    (features 2, values 4, keys 3, then the rare ones) — this loop runs
    once per field of every layer of every tile and its Python overhead
    was ~45% of the bulk-decode cost before inlining."""
    name, extent, version = "", 4096, 2
    keys, values, spans = [], [], []
    frame_spans, dict_spans = [], []
    start = pos
    spans_append = spans.append
    frames_append = frame_spans.append
    dicts_append = dict_spans.append
    values_append = values.append
    while pos < end:
        tag_start = pos
        k = buf[pos]
        if k < 0x80:
            pos += 1
        else:
            k, pos = read_varint(buf, pos)
        fieldno = k >> 3
        wt = k & 7
        if wt == 2:
            n = buf[pos]
            if n < 0x80:
                pos += 1
            else:
                n, pos = read_varint(buf, pos)
            nxt = pos + n
            if fieldno == 2:
                spans_append((pos, nxt))
                frames_append((tag_start, nxt))
            elif fieldno == 4:
                # inline fast path for the dominant single-string Value
                # message (read_value's generic switch costs ~3x on
                # dictionary-heavy tiles)
                if n >= 2 and buf[pos] == 0x0A:
                    slen, p2 = read_varint(buf, pos + 1)
                    if p2 + slen == nxt:
                        values_append(
                            buf[p2:p2 + slen].decode("utf-8", "replace"))
                    else:
                        values_append(read_value(buf, pos, nxt))
                else:
                    values_append(read_value(buf, pos, nxt))
                dicts_append((tag_start, nxt))
            elif fieldno == 3:
                keys.append(buf[pos:nxt].decode("utf-8", "replace"))
                dicts_append((tag_start, nxt))
            elif fieldno == 1:
                name = buf[pos:nxt].decode("utf-8", "replace")
            pos = nxt
        elif wt == 0:
            v = buf[pos]
            if v < 0x80:
                pos += 1
            else:
                v, pos = read_varint(buf, pos)
            if fieldno == 5:
                extent = v
            elif fieldno == 15:
                version = v
        elif wt == 5:
            pos += 4
        elif wt == 1:
            pos += 8
        else:
            break
    if not extent:
        extent = 4096  # read_layer.go:145-147 default
    return LayerFrame(name, extent, version, keys, values, spans, buf,
                      start, end, frame_spans, dict_spans)


def decode_geometry_cmds(cmds, geom_type: int):
    """Command stream -> (xs, ys, ring_lens) in tile-int coords.

    Spec-correct walk: the cursor carries across all MoveTo/LineTo runs (see
    module docstring for the deviation from read_tile.go:231-235). Zigzag
    per DeltaDim (read_feature_lazy.go:24-31); counts are trusted but
    clipped to the available parameter pairs (corrupt-tolerant like the
    reference's ``pos+1 < len(geom)`` guard, read_tile.go:250)."""
    arr = None
    if not isinstance(cmds, list):
        arr = np.asarray(cmds, dtype=np.uint32)
        cmds = arr.tolist()
    n = len(cmds)
    # Pass 1 walks COMMAND ints only (O(#parts), not O(#vertices)),
    # recording parameter runs and part boundaries. Because the cursor
    # carries across every MoveTo/LineTo run, the whole geometry is ONE
    # cumulative sum over all deltas in stream order.
    runs: list = []       # (param_start, n_pairs)
    part_lens: list = []  # points per part
    pos = 0
    cur = 0
    while pos < n:
        cmd = cmds[pos]
        cmd_id = cmd & 0x7
        count = cmd >> 3
        pos += 1
        if cmd_id == 1 and cur:  # MoveTo: starts a new part
            part_lens.append(cur)
            cur = 0
        if cmd_id == 1 or cmd_id == 2:  # MoveTo/LineTo: parameter pairs
            avail = min(count, (n - pos) >> 1)
            if avail:
                runs.append((pos, avail))
                cur += avail
            pos += avail * 2
        # ClosePath (7, closing point implied) and unknown commands
        # (corrupt-tolerant): no parameters, skipped
    if cur:
        part_lens.append(cur)
    if not runs:
        return np.zeros(0), np.zeros(0), []
    if n < 64:
        # short streams (points, short lines, small rings): numpy's fixed
        # per-call overhead dominates below ~64 command ints, so the
        # zigzag and cursor sums run in Python
        xs, ys = [], []
        cx = cy = 0
        for p, a in runs:
            for q in range(p, p + 2 * a, 2):
                u = cmds[q]
                w = cmds[q + 1]
                cx += -((u + 1) >> 1) if u & 1 else u >> 1
                cy += -((w + 1) >> 1) if w & 1 else w >> 1
                xs.append(cx)
                ys.append(cy)
        return (np.asarray(xs, dtype=np.float64),
                np.asarray(ys, dtype=np.float64), part_lens)
    # pass 2: a gather + zigzag + two cumsums, with no per-vertex Python
    if arr is None:
        arr = np.asarray(cmds, dtype=np.uint32)
    if len(runs) == 1:
        p0, a0 = runs[0]
        params = arr[p0:p0 + 2 * a0]
    else:
        params = arr[np.concatenate(
            [np.arange(p, p + 2 * a) for p, a in runs])]
    d = tm.zigzag_decode(params)
    xs = np.cumsum(d[0::2], dtype=np.float64)
    ys = np.cumsum(d[1::2], dtype=np.float64)
    return xs, ys, part_lens


def decode_geometry_cmds_ref_compat(cmds, geom_type: int):
    """Reference-DECODER-parity walk (read_tile.go:222-280), opt-in.

    The reference's eager decoder deviates from the MVT spec in two ways,
    both reproduced here bit-for-bit so this engine can match the
    reference's own decoded output on geometry the reference itself
    round-trips:

    - a part starts only at the literal command int 9 (MoveTo, count 1 —
      read_tile.go:230); multi-count MoveTos never occur in its output.
    - the first point of every part after the first is read as an
      ABSOLUTE zigzag coordinate unless geom_type == 2 (read_tile.go:
      231-235: ``pos != 1 && geom_type == 2`` continues the cursor, the
      else branch does ``DeltaDim(geom[pos])`` with no cursor add). Per
      spec (and this codec's default decoder) the cursor carries across
      every part; for multi-ring polygons written by a spec encoder —
      including the reference's OWN writer, write_geometry.go:261-270 —
      the reference decoder therefore reconstructs later rings at the
      wrong position. That asymmetry is the documented reason the default
      stays spec-correct (see module docstring); this twin exists for
      byte-parity testing against reference-decoded fixtures.

    Same return shape as decode_geometry_cmds: (xs, ys, part_lens)."""
    cmds = list(cmds)
    n = len(cmds)
    xs: list = []
    ys: list = []
    part_lens: list = []
    pos = 0
    cx = cy = 0
    first = True
    while pos < n:
        if cmds[pos] == 9 and pos + 2 < n:
            pos += 1
            a, b = cmds[pos], cmds[pos + 1]
            dxv = -((a + 1) >> 1) if a & 1 else a >> 1
            dyv = -((b + 1) >> 1) if b & 1 else b >> 1
            if not first and geom_type == 2:
                cx += dxv
                cy += dyv
            else:
                cx, cy = dxv, dyv  # ABSOLUTE restart (read_tile.go:234)
            first = False
            pos += 2
            xs.append(cx)
            ys.append(cy)
            cur = 1
            if pos < n:
                # one following run, length taken from the raw int with NO
                # command-id check (read_tile.go:243-245)
                length = cmds[pos] >> 3
                pos += 1
                endpos = pos + length * 2
                while pos < endpos and pos + 1 < n:
                    a, b = cmds[pos], cmds[pos + 1]
                    cx += -((a + 1) >> 1) if a & 1 else a >> 1
                    cy += -((b + 1) >> 1) if b & 1 else b >> 1
                    xs.append(cx)
                    ys.append(cy)
                    cur += 1
                    pos += 2
            part_lens.append(cur)
        else:
            pos += 1  # ClosePath(15) / anything else: skipped byte-wise
    return (np.asarray(xs, dtype=np.float64),
            np.asarray(ys, dtype=np.float64), part_lens)


def _signed_area(ring: np.ndarray) -> float:
    """SignedArea (read_feature_lazy.go:34-51): shoelace with wrap term; the
    ring includes its closing duplicate point."""
    x, y = ring[:, 0], ring[:, 1]
    xj = np.roll(x, 1)
    yj = np.roll(y, 1)
    return float(np.sum((xj - x) * (y + yj)))


def _read_packed(buf: bytes, pos: int, end: int) -> list:
    """Packed varints buf[pos:end] -> ints. A feature's arrays are short
    (tags: 2 ints per property), and on them a plain byte loop beats
    numpy's fixed per-call overhead by ~25x; the vectorized
    varint_decode_all only wins on long packed arrays."""
    out = []
    v = shift = 0
    while pos < end:
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if b & 0x80:
            shift += 7
        else:
            out.append(v)
            v = shift = 0
    return out


def decode_feature(layer: LayerFrame, span, mode: str = "lnglat",
                   z: int = 0, x: int = 0, y: int = 0) -> DecodedFeature:
    """Decode one feature body. mode: 'props' | 'int' | 'lnglat'."""
    buf = layer.buf
    pos, end = span
    fid = None
    geom_type = 0
    props: dict = {}
    geom_span = None
    while pos < end:
        fieldno, wt, pos = read_key(buf, pos)
        if fieldno == 1 and wt == 0:
            fid, pos = read_varint(buf, pos)
        elif fieldno == 2 and wt == 2:
            n, pos = read_varint(buf, pos)
            tags = _read_packed(buf, pos, pos + n)
            pos += n
            # dictionary join; out-of-range -> "" (read_tile.go:193-204)
            nk, nv = len(layer.keys), len(layer.values)
            for i in range(0, len(tags) - 1, 2):
                ki, vi = tags[i], tags[i + 1]
                k = layer.keys[ki] if ki < nk else ""
                val = layer.values[vi] if vi < nv else ""
                props[k] = val
        elif fieldno == 3 and wt == 0:
            geom_type, pos = read_varint(buf, pos)
        elif fieldno == 4 and wt == 2:
            n, pos = read_varint(buf, pos)
            geom_span = (pos, pos + n)
            pos += n
        elif wt == 0:
            _, pos = read_varint(buf, pos)
        elif wt == 2:
            n, pos = read_varint(buf, pos)
            pos += n
        else:
            break
    feat = DecodedFeature(feature_id=fid if fid else None,
                          geom_type=geom_type, properties=props)
    if mode == "props" or geom_span is None:
        feat.geojson_type = GEOM_TYPE_NAME.get(geom_type, "")
        return feat
    span_len = geom_span[1] - geom_span[0]
    if span_len < 112:
        # small-geometry fast path (points, short lines): plain byte loop,
        # no numpy per-call overhead (measured crossover ≈ 112 bytes);
        # masked to 32 bits so corrupt oversized varints wrap exactly like
        # the numpy path's uint64->uint32 array cast
        cmds = [v & 0xFFFFFFFF for v in _read_packed(buf, *geom_span)]
    else:
        cmds = varint_decode_all(np.frombuffer(buf, np.uint8, span_len, geom_span[0]))
    xs, ys, ring_lens = decode_geometry_cmds(cmds, geom_type)
    feat.xs, feat.ys, feat.ring_lens = xs, ys, ring_lens

    if geom_type == 3:
        _assemble_polygons(feat)
    else:
        _infer_simple_type(feat)

    if mode == "lnglat" and len(feat.xs):
        feat.xs, feat.ys = tm.project_tile_to_lnglat(
            feat.xs, feat.ys, z, x, y, layer.extent)
    return feat


def _infer_simple_type(feat: DecodedFeature):
    """Geom-type inference for types 1/2 (read_tile.go:318-332)."""
    if feat.geom_type == 1:
        npts = int(len(feat.xs))
        feat.ring_lens = [npts] if npts else []
        feat.geojson_type = "Point" if npts == 1 else "MultiPoint"
    elif feat.geom_type == 2:
        feat.geojson_type = ("LineString" if len(feat.ring_lens) <= 1
                             else "MultiLineString")
    else:
        feat.geojson_type = ""


def _assemble_polygons(feat: DecodedFeature):
    """Ring -> polygon assembly (read_tile.go:278-307): close unclosed rings,
    then rings with SignedArea < 0 start a new polygon; >= 0 append as hole
    to the previous polygon (sign inverted vs write side: the y-axis flips).

    Flat-array implementation: ring closure via a single batched np.insert,
    all signed areas in one shoelace + add.reduceat — no per-ring stack/roll.
    decode_geometry_cmds ends a part only when it has a point, so no ring
    is empty and reduceat's offsets strictly increase."""
    lens = feat.ring_lens
    nr = len(lens)
    if nr == 0:
        feat.xs = np.zeros(0)
        feat.ys = np.zeros(0)
        feat.poly_ring_counts = []
        feat.geojson_type = "MultiPolygon"
        return
    if nr == 1:
        # single-ring fast path (the dominant shape): one ring is always
        # one polygon — no signed area, no cumsum machinery; just closure
        xs, ys = feat.xs, feat.ys
        if xs[0] != xs[-1] or ys[0] != ys[-1]:
            xs = np.append(xs, xs[0])
            ys = np.append(ys, ys[0])
            feat.xs, feat.ys = xs, ys
            feat.ring_lens = [lens[0] + 1]
        feat.poly_ring_counts = [1]
        feat.geojson_type = "Polygon"
        return
    xs, ys = feat.xs, feat.ys
    lens_a = np.asarray(lens, dtype=np.int64)
    ends = np.cumsum(lens_a)
    starts = ends - lens_a
    open_mask = ((xs[starts] != xs[ends - 1]) | (ys[starts] != ys[ends - 1]))
    if open_mask.any():
        # close unclosed rings: insert each ring's first point at its end
        ins_at = ends[open_mask]
        xs = np.insert(xs, ins_at, xs[starts[open_mask]])
        ys = np.insert(ys, ins_at, ys[starts[open_mask]])
        lens_a = lens_a + open_mask.astype(np.int64)
        ends = np.cumsum(lens_a)
        starts = ends - lens_a
    xprev = np.empty_like(xs)
    xprev[1:] = xs[:-1]
    xprev[starts] = xs[ends - 1]
    yprev = np.empty_like(ys)
    yprev[1:] = ys[:-1]
    yprev[starts] = ys[ends - 1]
    areas = np.add.reduceat((xprev - xs) * (ys + yprev), starts)
    groups = []
    for a in areas:
        if a < 0 or not groups:
            groups.append(1)
        else:
            groups[-1] += 1
    feat.xs = xs
    feat.ys = ys
    feat.ring_lens = lens_a.tolist()
    feat.poly_ring_counts = groups
    feat.geojson_type = "Polygon" if len(groups) == 1 else "MultiPolygon"


def _point_rows(Vu: np.ndarray):
    """Row test of the uniform point layout on a (features, 13 + 2P)
    matrix of one feature's varints per row -> (the matrix as int64, ok per
    row), or None when an id is >= 2^63: legal on the wire (uint64), but
    the int64 cast would wrap it negative while decode_feature keeps it.

    The framing is positional, so besides the field tags and MoveTo(1)
    each row's LENGTH fields must equal the minimal-varint byte widths of
    the values in their slots (ADVICE r4): feature length, tags length,
    geometry length. Crafted tiles and non-minimal varints fail it and go
    through the length-driven walk."""
    from .encode_fast import _varlen_u64
    if bool((Vu[:, 3] >= np.uint64(1) << np.uint64(63)).any()):
        return None
    V = Vu.astype(np.int64)
    VL = _varlen_u64(Vu.ravel()).reshape(Vu.shape)
    t = Vu.shape[1] - 7  # index after tag ints
    ok = ((V[:, 0] == 0x12) & (V[:, 2] == 0x08) & (V[:, 4] == 0x12)
          & (V[:, t] == 0x18) & (V[:, t + 1] == 1) & (V[:, t + 2] == 0x22)
          & (V[:, t + 4] == 9) & (V[:, 1] == VL[:, 2:].sum(axis=1))
          & (V[:, 5] == VL[:, 6:t].sum(axis=1))
          & (V[:, t + 3] == VL[:, t + 4:].sum(axis=1)))
    return V, ok


def _point_head(frame: bytes) -> bool:
    """The field tags of one feature frame against the uniform point
    layout: frame, id, tags, then type 1 and geometry. A layer whose first
    frame fails this cannot pass _point_rows (a conforming layer's first
    frame is exactly its row 0), so bulk_point_layer rejects it here, a
    few bytes read in Python, before decoding the whole feature region."""
    try:
        if frame[0] != 0x12:
            return False
        _, pos = read_varint(frame, 1)          # frame length
        if frame[pos] != 0x08:
            return False
        _, pos = read_varint(frame, pos + 1)    # id
        if frame[pos] != 0x12:
            return False
        n, pos = read_varint(frame, pos + 1)    # tags length
        return frame[pos + n:pos + n + 3] == b"\x18\x01\x22"
    except IndexError:                          # runs off the frame
        return False


def bulk_point_layer(lf: LayerFrame):
    """Vectorized decode of a UNIFORM point layer: every feature shaped
    [frame, len, 0x08, id, 0x12, tlen, 2P tag ints, 0x18, 1, 0x22, glen,
    MoveTo(1), zzx, zzy] — the layout our encoder emits and the MVT spec's
    recommended field order. The whole features region is then a pure varint
    stream (no strings inside feature bodies), so ONE boundary scan + ONE
    add.reduceat decodes every field of every feature; structure checks are
    vectorized column tests on the reshaped value matrix.

    Returns (ids, key_idx: (n,P), val_idx: (n,P), px, py) int64 arrays, or
    None when the layer doesn't conform (caller falls back to the
    per-feature walk). ~20x faster than decode_feature per feature."""
    spans = lf.feature_frame_spans
    m = len(spans)
    if m == 0 or len(lf.feature_spans) != m:
        return None
    first, last = spans[0][0], spans[-1][1]
    if not _point_head(lf.buf[first:spans[0][1]]):
        return None
    for i in range(m - 1):  # frames must be adjacent (contiguous region)
        if spans[i][1] != spans[i + 1][0]:
            return None
    raw = np.frombuffer(lf.buf, np.uint8, last - first, first)
    vals = varint_decode_all(raw)
    if len(vals) % m:
        return None
    per = len(vals) // m
    p2 = per - 13  # 2 ints per property
    if p2 < 0 or p2 % 2:
        return None
    n_props = p2 // 2
    rows = _point_rows(vals.reshape(m, per))
    if rows is None or not bool(rows[1].all()):
        return None
    V = rows[0]
    t = 6 + p2  # index after tag ints
    ids = V[:, 3]
    key_idx = V[:, 6:6 + p2:2]
    val_idx = V[:, 7:7 + p2:2]
    zz = V[:, t + 5:t + 7]
    px = np.where(zz[:, 0] % 2 == 1, -((zz[:, 0] + 1) // 2), zz[:, 0] // 2)
    py = np.where(zz[:, 1] % 2 == 1, -((zz[:, 1] + 1) // 2), zz[:, 1] // 2)
    return ids, key_idx, val_idx, px, py, n_props


@dataclass
class LayerColumns:
    """One layer's features as columns (decode_layer_columns). Feature i
    owns the property entries ``offsets[i]:offsets[i + 1]`` of ``keys``
    (str) and ``values`` (typed), one entry per distinct key."""
    ids: np.ndarray           # uint64 wire id, 0 where absent
    geom_type: np.ndarray     # int64 wire geometry type
    geojson_type: np.ndarray  # object (str)
    px: np.ndarray            # float64 first vertex in tile ints, NaN in
    py: np.ndarray            # 'props' mode or for an empty geometry
    extent: int
    keys: np.ndarray          # object
    values: np.ndarray        # object
    offsets: np.ndarray       # int64, len(ids) + 1
    errors: list              # one exception per feature left undecoded


def decode_layer_columns(lf: LayerFrame, mode: str = "int") -> LayerColumns:
    """The one layer decode behind every decode UDF: a LayerFrame ->
    per-feature columns. ``mode`` 'int' reads each feature's first vertex
    in tile ints; 'props' skips geometry.

    A uniform point layer decodes in one vectorized pass
    (bulk_point_layer); any other layer, including one with an id >= 2^63,
    goes through the decode_feature walk, where a feature that fails to
    decode is left out and its exception kept in ``errors``. Both follow
    the walk's property semantics: an out-of-range tag index reads ""
    (read_tile.go:193-204) and a repeated key keeps its last value."""
    bulk = bulk_point_layer(lf)
    if bulk is None:
        return _walk_columns(lf, mode)
    ids, key_idx, val_idx, px, py, _ = bulk
    n, width = key_idx.shape
    # the dictionaries, with "" for out-of-range tag indices
    keys = np.array([*lf.keys, ""], dtype=object)
    values = np.array([*lf.values, ""], dtype=object)
    k = np.minimum(key_idx, len(lf.keys))
    v = np.minimum(val_idx, len(lf.values))
    # drop an entry when its key string comes again later in the feature
    code = np.unique(keys, return_inverse=True)[1].reshape(-1)[k]
    keep = np.ones((n, width), dtype=bool)
    for j in range(width - 1):
        keep[:, j] = ~(code[:, j + 1:] == code[:, j:j + 1]).any(axis=1)
    if mode == "props":
        px = py = np.full(n, np.nan)
    return LayerColumns(
        ids.astype(np.uint64), np.ones(n, np.int64),
        np.full(n, "Point", dtype=object), px.astype(np.float64),
        py.astype(np.float64), lf.extent, keys[k[keep]], values[v[keep]],
        np.concatenate([[0], np.cumsum(keep.sum(axis=1))]).astype(np.int64),
        [])


def _walk_columns(lf: LayerFrame, mode: str) -> LayerColumns:
    feats, errors = [], []
    for span in lf.feature_spans:
        try:
            feats.append(decode_feature(lf, span, mode=mode))
        except Exception as e:  # noqa: BLE001 — the caller raises or quarantines
            errors.append(e)
    props = [f.properties for f in feats]
    return LayerColumns(
        np.array([f.feature_id or 0 for f in feats], dtype=np.uint64),
        np.array([f.geom_type for f in feats], dtype=np.int64),
        np.array([f.geojson_type for f in feats], dtype=object),
        np.array([f.xs[0] if len(f.xs) else np.nan for f in feats], np.float64),
        np.array([f.ys[0] if len(f.ys) else np.nan for f in feats], np.float64),
        lf.extent, np.array([k for p in props for k in p], dtype=object),
        np.array([v for p in props for v in p.values()], dtype=object),
        np.cumsum([0, *map(len, props)], dtype=np.int64), errors)


def decode_tile(buf: bytes, z: int = 0, x: int = 0, y: int = 0,
                mode: str = "lnglat", layers: list[str] | None = None):
    """ReadTile (read_tile.go:77-359): full decode of every feature of every
    layer. Returns list of (layer_name, DecodedFeature). ``layers`` filters
    by name without touching other layers' bytes (lazy-scan pruning)."""
    out = []
    for lf in parse_tile(buf):
        if layers is not None and lf.name not in layers:
            continue
        for span in lf.feature_spans:
            out.append((lf.name, decode_feature(lf, span, mode, z, x, y)))
    return out


def _read_varints_at(buf: np.ndarray, pos: np.ndarray):
    """Vectorized varint reads at ARBITRARY byte positions -> (values,
    nbytes). One masked pass per continuation byte — the random-access
    companion of wire.varint_decode_all's stream decoder."""
    n = len(pos)
    val = np.zeros(n, dtype=np.uint64)
    nb = np.zeros(n, dtype=np.int64)
    idx = np.arange(n)
    p = np.asarray(pos, dtype=np.int64).copy()
    shift = 0
    while len(idx) and shift < 70:
        b = buf[p[idx]].astype(np.uint64)
        val[idx] |= (b & np.uint64(0x7F)) << np.uint64(shift)
        nb[idx] += 1
        p[idx] += 1
        idx = idx[(b & np.uint64(0x80)) != 0]
        shift += 7
    return val, nb


_SCAN_MAX_KEYS = 8


def bulk_scan_point_tiles(bufs: list):
    """SIMT-style layer-frame scan: walk the protobuf fields of EVERY
    single-layer tile in lock-step numpy passes (one iteration per field
    ordinal, masked to still-active tiles) instead of a per-tile Python
    field loop (parse_tile/parse_layer, ~30 us/tile — the cost floor the
    per-tile walk could not get under, see the r3 note in memory).

    MVT layer field numbers are <= 15, so field keys are always ONE byte;
    layers contain only wiretypes 0 and 2 — anything else marks the tile
    non-conforming (fallback to the classic walk).

    Returns a dict of per-tile arrays:
      ok            conforms to the single-frame layout
      feat_start/feat_end  contiguous feature-frames byte region
      n_feat        number of feature fields
      n_keys/n_vals dictionary sizes
      key_spans     (m, MAXK, 2) start/len of key fields (-1 padded)
      val_tile/val_start/val_len  flat value-field spans (for dedup checks)
      name_span     (m, 2) layer-name span
    plus the concatenated uint8 buffer and per-tile offsets."""
    m = len(bufs)
    lens = np.array([len(b) for b in bufs], dtype=np.int64)
    offs = np.concatenate([[0], np.cumsum(lens)])
    # 10 zero sentinel bytes (max varint width) so _read_varints_at can
    # never index past the buffer on a truncated trailing varint — the
    # over-run checks below then mark the tile ok=False instead of the
    # kernel raising IndexError (ADVICE r4 high). Also makes the
    # all-empty-batch safe-index at [0] valid.
    buf = np.frombuffer(b"".join(bufs) + b"\x00" * 10, dtype=np.uint8)
    starts = offs[:-1]
    end = offs[1:]
    ok = lens > 2
    safe = np.where(ok, starts, 0)
    ok &= buf[safe] == 0x1A
    blen, bnb = _read_varints_at(buf, np.where(ok, starts + 1, 0))
    body_start = starts + 1 + bnb
    ok &= (body_start + blen.astype(np.int64)) == end

    pos = np.where(ok, body_start, end).astype(np.int64)
    n_feat = np.zeros(m, dtype=np.int64)
    feat_start = np.full(m, -1, dtype=np.int64)
    feat_end = np.full(m, -1, dtype=np.int64)
    feat_closed = np.zeros(m, dtype=bool)   # non-feature field after feats
    n_keys = np.zeros(m, dtype=np.int64)
    n_vals = np.zeros(m, dtype=np.int64)
    key_spans = np.full((m, _SCAN_MAX_KEYS, 2), -1, dtype=np.int64)
    name_span = np.full((m, 2), -1, dtype=np.int64)
    vt_parts, vs_parts, vl_parts = [], [], []

    while True:
        act = np.flatnonzero((pos < end) & ok)
        if not len(act):
            break
        k = buf[pos[act]]
        bad = k >= 0x80
        if bad.any():
            ok[act[bad]] = False
            act = act[~bad]
            if not len(act):
                break
            k = k[~bad]
        fieldno = (k >> 3).astype(np.int64)
        wt = (k & 7).astype(np.int64)
        is2 = wt == 2
        is0 = wt == 0
        bad = ~(is2 | is0)
        if bad.any():
            ok[act[bad]] = False
            keep = ~bad
            act, fieldno, wt, is2, is0 = (act[keep], fieldno[keep], wt[keep],
                                          is2[keep], is0[keep])
            if not len(act):
                break
        nxt = np.empty(len(act), dtype=np.int64)
        # wt==2: length-delimited
        a2 = np.flatnonzero(is2)
        if len(a2):
            ln, nb = _read_varints_at(buf, pos[act[a2]] + 1)
            cstart = pos[act[a2]] + 1 + nb
            nxt[a2] = cstart + ln.astype(np.int64)
            f2 = fieldno[a2]
            t2 = act[a2]
            feats = f2 == 2
            if feats.any():
                tf = t2[feats]
                # frame start includes the field tag byte
                fs = pos[tf]
                new = feat_start[tf] == -1
                feat_start[tf] = np.where(new, fs, feat_start[tf])
                feat_end[tf] = nxt[a2[feats]]
                # a feature field after the run closed -> non-contiguous
                ok[tf[feat_closed[tf]]] = False
            nonfeat = ~feats
            closed_now = t2[nonfeat & (n_feat[t2] > 0)]
            feat_closed[closed_now] = True
            n_feat[t2[feats]] += 1
            keysf = f2 == 3
            if keysf.any():
                tk = t2[keysf]
                slot = n_keys[tk]
                over = slot >= _SCAN_MAX_KEYS
                ok[tk[over]] = False
                tk, slot = tk[~over], slot[~over]
                sel = keysf.copy()
                sel[keysf] = ~over
                key_spans[tk, slot, 0] = cstart[sel]
                key_spans[tk, slot, 1] = ln[sel].astype(np.int64)
                n_keys[t2[keysf]] += 1
            valsf = f2 == 4
            if valsf.any():
                vt_parts.append(t2[valsf])
                vs_parts.append(cstart[valsf])
                vl_parts.append(ln[valsf].astype(np.int64))
                n_vals[t2[valsf]] += 1
            namef = f2 == 1
            if namef.any():
                name_span[t2[namef], 0] = cstart[namef]
                name_span[t2[namef], 1] = ln[namef].astype(np.int64)
        a0 = np.flatnonzero(is0)
        if len(a0):
            _, nb0 = _read_varints_at(buf, pos[act[a0]] + 1)
            nxt[a0] = pos[act[a0]] + 1 + nb0
            closed_now = act[a0][n_feat[act[a0]] > 0]
            feat_closed[closed_now] = True
        over = nxt > end[act]
        if over.any():
            ok[act[over]] = False
        pos[act] = np.where(ok[act], nxt, end[act])

    ok &= n_feat > 0
    return {
        "buf": buf, "offs": offs, "ok": ok,
        "feat_start": feat_start, "feat_end": feat_end, "n_feat": n_feat,
        "n_keys": n_keys, "n_vals": n_vals, "key_spans": key_spans,
        "val_tile": (np.concatenate(vt_parts) if vt_parts
                     else np.zeros(0, np.int64)),
        "val_start": (np.concatenate(vs_parts) if vs_parts
                      else np.zeros(0, np.int64)),
        "val_len": (np.concatenate(vl_parts) if vl_parts
                    else np.zeros(0, np.int64)),
        "name_span": name_span,
    }


def bulk_point_tile_stats(bufs: list, distinct_prop: str,
                          layers: list | None = None):
    """Cross-TILE fused stats kernel: per-tile (n_features, n_distinct
    values of ``distinct_prop``) with NO per-tile Python walk — framing
    comes from bulk_scan_point_tiles' lock-step field scan, feature
    payloads from ONE varint boundary pass over the concatenation of all
    conforming tiles' feature regions (the decode twin of the vectorized
    bulk encoder). Per-tile Python is only memoized key-name lookups and
    the value-dictionary distinctness check (O(distinct values)).

    Returns (n_arr, nv_arr, handled); handled[i] False -> caller runs the
    per-tile fallback. Exactness guards: distinct dictionary INDICES
    stand in for distinct strings only when every value field is a
    single-string Value message with pure-ASCII payload (byte-distinct
    <=> string-distinct) and the tile's dictionary is duplicate-free;
    anything else — multi-frame tiles, non-uniform features, uint64 ids,
    non-string/non-ASCII values, dup dictionaries — falls back."""
    m = len(bufs)
    n_arr = np.zeros(m, dtype=np.int64)
    nv_arr = np.zeros(m, dtype=np.int64)
    handled = np.zeros(m, dtype=bool)
    if not m:
        return n_arr, nv_arr, handled
    scan = bulk_scan_point_tiles(bufs)
    buf = scan["buf"]
    ok = scan["ok"].copy()
    if not ok.any():
        return n_arr, nv_arr, handled

    # --- layer-name filter (memoized byte-sig -> str)
    if layers is not None:
        name_cache: dict = {}
        ns_, nl_ = scan["name_span"][:, 0], scan["name_span"][:, 1]
        for ti in np.flatnonzero(ok).tolist():
            sig = bytes(buf[ns_[ti]:ns_[ti] + nl_[ti]]) if ns_[ti] >= 0 \
                else b""
            nm = name_cache.get(sig)
            if nm is None:
                nm = sig.decode("utf-8", "replace")
                name_cache[sig] = nm
            if nm not in layers:
                handled[ti] = True   # zero-count tile, same as the walk
                ok[ti] = False

    # --- value dictionary checks: every value a single-string ASCII
    # message, byte-distinct within its tile
    vt, vs, vl = scan["val_tile"], scan["val_start"], scan["val_len"]
    keep = ok[vt]
    vt, vs, vl = vt[keep], vs[keep], vl[keep]
    if len(vt):
        good = (vl >= 2) & (buf[np.where(vl >= 2, vs, 0)] == 0x0A)
        slen, snb = _read_varints_at(buf, np.where(good, vs + 1, 0))
        plen = slen.astype(np.int64)
        good &= (1 + snb + plen) == vl
        pstart = vs + 1 + snb
        plen_m = np.where(good, plen, 0)
        total = int(plen_m.sum())
        if total:
            gather = (np.repeat(pstart - np.concatenate(
                [[0], np.cumsum(plen_m)[:-1]]), plen_m)
                + np.arange(total))
            pay = buf[gather]
            poff = np.concatenate([[0], np.cumsum(plen_m)])
            na_cum = np.concatenate(
                [[0], np.cumsum(pay >= 0x80, dtype=np.int64)])
            good &= (na_cum[poff[1:]] - na_cum[poff[:-1]]) == 0
        ok[np.unique(vt[~good])] = False
        # per-tile byte-distinctness, vectorized: within each payload
        # length, lexsort (tile, payload bytes) and flag tiles with equal
        # adjacent rows — no per-value Python
        live = good & ok[vt]
        if live.any():
            t_live = vt[live]
            ps_l, pl_l = pstart[live], plen[live]
            for L in np.unique(pl_l).tolist():
                s = np.flatnonzero(pl_l == L)
                if L == 0:
                    cnt = np.bincount(t_live[s], minlength=m)
                    ok[np.flatnonzero(cnt > 1)] = False
                    continue
                mat = buf[(ps_l[s][:, None]
                           + np.arange(L)).ravel()].reshape(len(s), L)
                order = np.lexsort((*mat.T[::-1], t_live[s]))
                tt = t_live[s][order]
                mo = mat[order]
                if len(tt) > 1:
                    same = ((tt[1:] == tt[:-1])
                            & (mo[1:] == mo[:-1]).all(axis=1))
                    ok[tt[1:][same]] = False

    if not ok.any():
        return n_arr, nv_arr, handled

    # --- pack every conforming tile's feature region into one buffer,
    # one varint boundary pass for all of them
    tiles_sel = np.flatnonzero(ok)
    fs = scan["feat_start"][tiles_sel]
    fe = scan["feat_end"][tiles_sel]
    region_lens = fe - fs
    rtotal = int(region_lens.sum())
    gather = (np.repeat(fs - np.concatenate(
        [[0], np.cumsum(region_lens)[:-1]]), region_lens)
        + np.arange(rtotal))
    raw = buf[gather]
    ends = (raw & 0x80) == 0
    offs = np.concatenate([[0], np.cumsum(region_lens)])
    ends_cum = np.concatenate([[0], np.cumsum(ends, dtype=np.int64)])
    n_varints = ends_cum[offs[1:]] - ends_cum[offs[:-1]]
    feats = scan["n_feat"][tiles_sel]
    per = n_varints // np.maximum(feats, 1)
    conform = ((n_varints == per * feats) & (per >= 13)
               & ((per - 13) % 2 == 0))
    if not conform.any():
        return n_arr, nv_arr, handled
    all_vals = varint_decode_all(raw)
    voffs = np.concatenate([[0], np.cumsum(n_varints)])

    key_spans = scan["key_spans"]
    n_keys_all = scan["n_keys"]
    n_vals_all = scan["n_vals"]

    for width in np.unique(per[conform]).tolist():
        gsel = np.flatnonzero(conform & (per == width))
        gfeats = feats[gsel]
        take = np.concatenate(
            [np.arange(voffs[g], voffs[g] + feats[g] * width) for g in gsel])
        rows = _point_rows(all_vals[take].reshape(-1, int(width)))
        if rows is None:
            continue  # uint64 ids: per-tile walk keeps them positive
        V, ok_rows = rows
        p2 = int(width) - 13
        row_tile = np.repeat(np.arange(len(gsel)), gfeats)
        row_offs = np.concatenate([[0], np.cumsum(gfeats)])
        grp_ok = np.logical_and.reduceat(ok_rows, row_offs[:-1]) \
            if len(ok_rows) else np.zeros(0, bool)
        key_idx = V[:, 6:6 + p2:2]
        val_idx = V[:, 7:7 + p2:2] if p2 else np.zeros((len(V), 1), np.int64)
        first_rows = key_idx[row_offs[:-1]] if p2 else key_idx
        tsel = tiles_sel[gsel]
        if p2:
            key_uniform = np.logical_and.reduceat(
                (key_idx == first_rows[row_tile]).all(axis=1), row_offs[:-1])
            grp_ok &= key_uniform
            max_val_t = np.maximum.reduceat(val_idx.max(axis=1),
                                            row_offs[:-1])
            grp_ok &= ((first_rows.max(axis=1) < n_keys_all[tsel])
                       & (max_val_t < n_vals_all[tsel]))
        # distinct_prop -> tag column per tile, computed once per UNIQUE
        # (key-region bytes, first-row) group: identical key-region bytes
        # imply identical key dictionaries, so tiles group by content and
        # only one representative per group decodes its key strings
        j_arr = np.full(len(gsel), -1, dtype=np.int64)
        gi_ok = np.flatnonzero(grp_ok)
        if len(gi_ok) and p2:
            tisel = tsel[gi_ok]
            nk = n_keys_all[tisel]
            k_lo = key_spans[tisel, 0, 0]
            k_hi = (key_spans[tisel, nk - 1, 0]
                    + key_spans[tisel, nk - 1, 1])
            reg_len = k_hi - k_lo
            for L in np.unique(reg_len).tolist():
                s = np.flatnonzero(reg_len == L)
                mat = buf[(k_lo[s][:, None]
                           + np.arange(L)).ravel()].reshape(len(s), L)
                combo = np.concatenate(
                    [mat.astype(np.int64), first_rows[gi_ok[s]]], axis=1)
                _, first_of, inv = np.unique(combo, axis=0,
                                             return_index=True,
                                             return_inverse=True)
                jg = np.empty(len(first_of), dtype=np.int64)
                for u, rep in enumerate(first_of.tolist()):
                    ti = tisel[s[rep]]
                    names0 = [
                        bytes(buf[ks:ks + kl]).decode("utf-8", "replace")
                        for kk in first_rows[gi_ok[s[rep]]].tolist()
                        for ks, kl in [key_spans[ti][int(kk)]]]
                    jg[u] = (names0.index(distinct_prop)
                             if distinct_prop in names0 else -1)
                j_arr[gi_ok[s]] = jg[inv]
        has_j = grp_ok & (j_arr >= 0)
        if has_j.any():
            K = int(val_idx.max()) + 1
            jr = np.where(j_arr[row_tile] >= 0, j_arr[row_tile], 0)
            val_j = val_idx[np.arange(len(val_idx)), jr]
            sel_rows = has_j[row_tile]
            uniq = np.unique(row_tile[sel_rows] * K + val_j[sel_rows])
            nv_per = np.bincount(uniq // K, minlength=len(gsel))
        else:
            nv_per = np.zeros(len(gsel), dtype=np.int64)
        n_arr[tsel[grp_ok]] = gfeats[grp_ok]
        nv_arr[tsel[has_j]] = nv_per[has_j]
        handled[tsel[grp_ok]] = True
    return n_arr, nv_arr, handled
