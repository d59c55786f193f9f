"""Bulk layer encoder: encodes MANY tiles from one sorted batch, for every
geometry type, through one kernel (encode_geom_tiles_bulk; Point layers
reach it through encode_point_tiles_bulk).

Byte-identical to running encode.encode_layer per tile with id 0 passed
as absent, whatever property keys each feature carries — pinned by
tests/test_encode_fast.py — but organized for throughput:

- projection is vectorized across the whole batch (per-vertex tile bounds
  from the x/y arrays, one numpy pass; replicates Cursor.tile_ints
  including trunc-toward-zero and ExtentBool clamping,
  write_geometry.go:292-323)
- properties are flat per-feature entries; each tile's key and value
  dictionaries are first-appearance ranks over them, the interning order
  of LayerEncoder._tags (write_layer.go:95-112), so features need not
  share a key set
- per-tile work is only frame assembly over plain Python bytes (no pandas
  in the loop)

This is the numpy analog of the reference's allocation-tuned writers
(write_primitives.go:39-156): bulk length computation, single pass.
"""

from __future__ import annotations

import numpy as np

from .. import tilemath as tm
from .values import write_value


def project_points_bulk(z, x_arr, y_arr, lng, lat, extent: int = 4096,
                        clamp: bool = True):
    """Vectorized Cursor.tile_ints for rows that each carry their own tile:
    returns (px, py) int32 tile-local coords."""
    x_arr = np.asarray(x_arr, dtype=np.float64)
    y_arr = np.asarray(y_arr, dtype=np.float64)
    # degree bounds per row (tile_ul on own and +1 neighbors)
    w_deg, n_deg = tm.tile_ul(x_arr, y_arr, z)
    e_deg, s_deg = tm.tile_ul(x_arr + 1.0, y_arr + 1.0, z)
    wx, sy = tm.mercator_xy(w_deg, s_deg)
    ex, ny = tm.mercator_xy(e_deg, n_deg)
    mx, my = tm.mercator_xy(np.asarray(lng, np.float64),
                            np.asarray(lat, np.float64))
    fx = (mx - wx) / (ex - wx)
    fy = (ny - my) / (ny - sy)
    px = np.trunc(fx * extent).astype(np.int64)
    py = np.trunc(fy * extent).astype(np.int64)
    if clamp:
        px = np.clip(px, 0, extent)
        py = np.clip(py, 0, extent)
    return px.astype(np.int32), py.astype(np.int32)


def _varint_raw(x: int) -> bytes:
    if x < 0x80:
        return bytes((x,))
    out = bytearray()
    while x > 127:
        out.append(0x80 | (x & 0x7F))
        x >>= 7
    out.append(x)
    return bytes(out)


# precomputed varints for all 16-bit ints: dictionary indexes, zigzag'd
# tile-local deltas, tag arrays, and frame lengths are almost always < 2^16,
# so the hot loop does a list index instead of a python bit-twiddle loop
# (the lookup-table analog of the reference's size-class-branched writers,
# write_primitives.go:70-119)
_VARINT_CACHE = [_varint_raw(i) for i in range(1 << 16)]


def _varint(x: int) -> bytes:
    if x < (1 << 16):
        return _VARINT_CACHE[x]
    return _varint_raw(x)


def _value_str(v: str) -> bytes:
    raw = v.encode("utf-8")
    inner = b"\x0a" + _varint(len(raw)) + raw
    return b"\x22" + _varint(len(inner)) + inner

def _varlen_u64(a: np.ndarray) -> np.ndarray:
    """Varint byte count per element of a uint64 array — vectorized
    ceil(bit_length/7): one compare pass per populated 7-bit size class
    (the numpy analog of the reference's size-class-branched writers,
    write_primitives.go:70-119)."""
    a = np.asarray(a).astype(np.uint64, copy=False)
    nb = np.ones(len(a), dtype=np.int64)
    if not len(a):
        return nb
    hi = int(a.max())
    t = 1 << 7
    while t <= hi:
        nb += (a >= np.uint64(t)).astype(np.int64)
        if t >= 1 << 63:
            break
        t <<= 7
    return nb


def _write_varints(buf: np.ndarray, pos: np.ndarray, vals: np.ndarray,
                   nb: np.ndarray) -> None:
    """Scatter the varint encodings of ``vals`` into ``buf`` at byte
    offsets ``pos`` (``nb`` = precomputed _varlen_u64). One masked scatter
    per byte position — O(max varint width) numpy passes, no per-value
    Python."""
    if not len(vals):
        return
    vals = vals.astype(np.uint64, copy=False)
    for b in range(int(nb.max())):
        m = nb > b
        bv = ((vals[m] >> np.uint64(7 * b)) & np.uint64(0x7F)).astype(np.uint8)
        bv |= (nb[m] - 1 > b).astype(np.uint8) << 7
        buf[pos[m] + b] = bv


def _segment_pos(start, seg, cum) -> np.ndarray:
    """Byte position of every varint of a stream in which feature i owns
    values ``[seg[i], seg[i + 1])``, written back to back from byte
    ``start[i]``; ``cum`` is the stream's byte-length prefix sum (leading
    0)."""
    f = np.repeat(np.arange(len(start)), np.diff(seg))
    return start[f] - cum[seg[:-1]][f] + cum[:-1]


def _value_codes(flat: np.ndarray):
    """Codes into a typed value table for the object array ``flat``: two
    values share a code iff LayerEncoder._value_idx gives them one
    dictionary entry, i.e. iff their ``(type name, value)`` keys are equal
    (Go map keys are typed variants, write_layer.go:87-92). So ``1``,
    ``True`` and ``1.0`` stay apart and ``None`` gets its own entry. All-str
    input (every point layer) takes one pd.factorize; anything else one
    dict lookup per value. Returns (int64 codes, unique values in
    first-appearance order, per-unique flag "members may differ in
    bytes"): ``0.0`` and ``-0.0`` share an entry whose bytes are those of
    whichever came first in the tile."""
    import pandas as pd

    if pd.api.types.infer_dtype(flat, skipna=False) == "string":
        codes, uniques = pd.factorize(flat)
        return codes, list(uniques), np.zeros(len(uniques), bool)
    table: dict = {}
    codes = np.fromiter(
        (table.setdefault((type(v).__name__, v), len(table)) for v in flat),
        np.int64, len(flat))
    uniques = [v for _, v in table]
    signed_zero = np.fromiter(
        (isinstance(v, (float, np.floating)) and v == 0 for v in uniques),
        bool, len(uniques))
    return codes, uniques, signed_zero


def _prop_entries(props, nfeat: int):
    """Properties as flat per-feature entries, sorted by key name inside
    each feature (the order LayerEncoder._tags walks them): (key codes,
    key names, values, offsets). A code indexes the names, which are
    sorted, so code order is name order. ``props`` is either a dict of
    equal-length value columns (every feature has every key; its codes
    are known, no string factorize) or ``(keys, values, offsets)``:
    feature i's entries are ``[offsets[i], offsets[i + 1])`` of the
    ``keys``/``values`` arrays, keys unique within a feature."""
    import pandas as pd

    if isinstance(props, dict):
        names = sorted(props)
        mat = np.empty((nfeat, len(names)), dtype=object)
        for j, k in enumerate(names):
            mat[:, j] = props[k]
        return (np.tile(np.arange(len(names)), nfeat), names, mat.ravel(),
                np.arange(nfeat + 1) * len(names))
    keys, values, offs = props
    offs = np.asarray(offs, np.int64)
    if len(offs) != nfeat + 1:
        raise ValueError(f"{len(offs)} property offsets for {nfeat} features")
    lo, hi = int(offs[0]), int(offs[-1])
    codes, names = pd.factorize(np.asarray(keys, dtype=object)[lo:hi],
                                sort=True)
    perm = np.lexsort((codes, np.repeat(np.arange(nfeat), np.diff(offs))))
    return (codes[perm], list(names),
            np.asarray(values, dtype=object)[lo:hi][perm], offs - lo)


def _first_seen(tile_of, codes, ncodes: int, ntiles: int):
    """Per-tile dictionaries over ``codes`` in first-appearance order (the
    interning of LayerEncoder._key_idx/_value_idx): each element's index
    in its tile's dictionary, the dictionary size per tile, and every
    dictionary entry's code and first element, tile by tile."""
    U = max(ncodes, 1)
    uniq_c, first_idx, inverse = np.unique(
        tile_of * U + codes, return_index=True, return_inverse=True)
    tile_of_uniq = uniq_c // U
    order = np.lexsort((first_idx, tile_of_uniq))
    counts = np.bincount(tile_of_uniq, minlength=ntiles)
    tile_u_starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    ranks = np.empty(len(uniq_c), dtype=np.int64)
    ranks[order] = (np.arange(len(uniq_c)) -
                    np.repeat(tile_u_starts, counts))
    return (ranks[inverse.reshape(-1)], counts, uniq_c[order] % U,
            first_idx[order])


def _tile_dicts(counts, enc: list, codes):
    """All tiles' dictionary bytes as one blob and its per-tile cut
    offsets: the pre-encoded ``enc[code]`` of every entry (``codes``,
    tile by tile, ``counts`` per tile) gathered in one numpy pass."""
    lens = np.fromiter(map(len, enc), np.int64, len(enc))
    flat = np.frombuffer(b"".join(enc), np.uint8)
    at = np.concatenate([[0], np.cumsum(lens)])
    n = lens[codes]
    cum = np.concatenate([[0], np.cumsum(n)])
    src = np.repeat(at[codes] - cum[:-1], n) + np.arange(int(cum[-1]))
    return flat[src].tobytes(), cum[np.cumsum(np.append(0, counts))].tolist()


def _tags_bulk(props, tile_of_feat, ntiles: int):
    """The packed tags of every feature and the key and value
    dictionaries of every tile (GetTags, write_layer.go:95-112): one
    per-tile first-seen rank over the (tile, key) pairs and one over the
    (tile, typed value) pairs (_value_codes), both walked entry by entry
    (_prop_entries order). Returns (tags, tag varint lengths, entry
    offsets per feature, tag payload length per feature, and the keys and
    the values as _tile_dicts blobs); ``tags`` interleaves each entry's
    key and value index."""
    nfeat = len(tile_of_feat)
    kcodes, knames, values, offs = _prop_entries(props, nfeat)
    nent = np.diff(offs)
    tile_of_ent = np.repeat(tile_of_feat, nent)
    ki, kcounts, kcodes_in_order, _ = _first_seen(
        tile_of_ent, kcodes, len(knames), ntiles)
    vcodes, uniques, signed_zero = _value_codes(values)
    vi, vcounts, vcodes_in_order, vfirst = _first_seen(
        tile_of_ent, vcodes, len(uniques), ntiles)
    # encode each GLOBAL unique value once; per-tile streams gather the
    # pre-encoded bytes; str, the hot case, skips write_value's dispatch
    enc_values = [_value_str(v) if type(v) is str else write_value(v)
                  for v in uniques]
    amb = np.flatnonzero(signed_zero[vcodes_in_order])
    if len(amb):
        # a signed-zero entry takes its bytes from its first row in the tile
        vcodes_in_order[amb] = len(enc_values) + np.arange(len(amb))
        enc_values += [write_value(values[i]) for i in vfirst[amb]]
    enc_keys = [b"\x1a" + _varint(len(raw)) + raw
                for raw in (k.encode("utf-8") for k in knames)]
    tags = np.empty(2 * len(ki), np.uint64)
    tags[0::2] = ki
    tags[1::2] = vi
    tlen = _varlen_u64(tags)
    payload = np.bincount(np.repeat(np.arange(nfeat), nent),
                          weights=tlen[0::2] + tlen[1::2],
                          minlength=nfeat).astype(np.int64)
    return (tags, tlen, offs, payload,
            _tile_dicts(kcounts, enc_keys, kcodes_in_order),
            _tile_dicts(vcounts, enc_values, vcodes_in_order))


def encode_point_tiles_bulk(z: int, x_arr, y_arr, lng, lat, ids,
                            prop_cols: dict[str, np.ndarray],
                            starts, ends, layer_name: str,
                            extent: int = 4096) -> list[bytes]:
    """Encode tiles [starts[i]:ends[i]) of the row arrays -> layer bytes per
    tile. Rows must be grouped (sorted) so each slice is one tile; slices
    may leave rows out (the streaming carry holds back the last group).

    A projection of encode_geom_tiles_bulk: the referenced rows are
    gathered into a packed layout and each becomes a one-vertex Point
    feature, clamped to the extent like Cursor.SinglePoint
    (write_geometry.go:292-323). Byte-identical to encode.encode_layer
    with canonical sorted keys and id 0 as absent — pinned by
    tests/test_encode_fast.py."""
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    lens = ends - starts
    t_ends = np.cumsum(lens)
    sel = (np.repeat(starts - (t_ends - lens), lens)
           + np.arange(int(lens.sum())))
    if np.ndim(z):  # z may be a per-row zoom array, not a scalar
        z = np.asarray(z)[sel]
    n = len(sel)
    verts = np.column_stack((np.asarray(lng, np.float64)[sel],
                             np.asarray(lat, np.float64)[sel]))
    return encode_geom_tiles_bulk(
        z, np.asarray(x_arr)[sel], np.asarray(y_arr)[sel],
        np.asarray(ids, np.int64)[sel],
        {k: np.asarray(c, dtype=object)[sel] for k, c in prop_cols.items()},
        t_ends - lens, t_ends, layer_name, "Point", verts,
        np.ones(n, np.int64), np.arange(n), np.ones(n, bool),
        extent=extent, clamp=True)[0]


def encode_geom_tiles_bulk(z, x_arr, y_arr, ids, props,
                           starts, ends, layer_name: str, geom_type: str,
                           verts, ring_lens, ring_feat, ring_first_of_poly,
                           extent: int = 4096,
                           clamp: bool = False):
    """The one bulk layer encoder, for every geometry type (Point layers
    reach it through encode_point_tiles_bulk). Byte-identical to
    encode.encode_layer with id 0 passed as absent, for any per-feature
    property key sets — same cursor/delta/winding semantics as the scalar
    builders (write_geometry.go:108-331) and the same dictionaries as
    LayerEncoder._tags, pinned by tests/test_encode_fast.py — but with NO
    per-feature or per-vertex Python:

    - ring closure (TrimPolygonFloat, :26-35) as one gather expansion
    - projection of every vertex in one pass (per-feature tile params)
    - int32 shoelace winding + ring reversal as masked gathers
    - the per-FEATURE delta chain is one shifted subtract (the cursor
      carries across rings and resets per feature, so deltas are purely
      positional), zero-delta LineTo drops as a keep mask, run counts
      back-patched via bincount
    - command values scattered into one stream, then one masked varint
      scatter per field into a single feature buffer; per-tile Python is
      only frame assembly (O(tiles), not O(features))
    - per-tile key and value dictionaries as first-seen ranks over the
      flat property entries, and every feature's tags as one entry-level
      varint scatter (_tags_bulk; aborted features still intern their
      keys and values, like the scalar add_feature)

    Inputs: per-FEATURE arrays (x_arr/y_arr/ids; ``starts``/``ends`` =
    contiguous feature slices per tile, covering every feature), the
    properties as flat per-feature entries ``(keys, values, offsets)`` or
    a dict of equal-length value columns (_prop_entries; values may be
    any MVT Value type, and a feature with no entries gets no tags field)
    and flattened geometry:
    ``verts`` (N, 2) float64, ``ring_lens`` (R,), ``ring_feat`` (R,)
    nondecreasing, ``ring_first_of_poly`` (R,) bool (exterior-ring flag;
    ignored for lines). The id field is written only for a nonzero id
    (MVT feature id 0 = absent); a negative id wraps to its uint64 bits,
    as in add_feature. LineString features whose single run collapses are
    aborted exactly like add_feature (write_feature.go:57-59); degenerate
    MultiLineString parts are truncated in place (write_geometry.go:160);
    MultiPoint emits one MoveTo header with the original point count and
    drops zero-delta duplicates (write_geometry.go:338-344), and a Point
    is a one-point MultiPoint (MakePointFloat writes the same commands,
    :325-331) — every geometry type shares this one cost model, like the
    reference's builders.

    Returns (list of layer bytes per tile, encoded-feature count per
    tile)."""
    geom_int = {"Point": 1, "MultiPoint": 1, "LineString": 2,
                "MultiLineString": 2}.get(geom_type, 3)
    is_poly = geom_int == 3
    is_mpoint = geom_int == 1
    starts = np.asarray(starts, np.int64)
    ends = np.asarray(ends, np.int64)
    ntiles = len(starts)
    x_f = np.asarray(x_arr, np.float64)
    y_f = np.asarray(y_arr, np.float64)
    nfeat = len(x_f)
    ids = np.asarray(ids, np.int64)
    ring_lens = np.asarray(ring_lens, np.int64)
    ring_feat = np.asarray(ring_feat, np.int64)
    nrings = len(ring_lens)
    verts = np.asarray(verts, np.float64).reshape(-1, 2)
    if nrings and bool((ring_lens <= 0).any()):
        # empty rings would read foreign vertices in the closure check
        # (verts[rs0 - 1]); the scalar builders raise on them too
        raise ValueError("empty ring (ring_lens must be >= 1)")

    # --- close unclosed polygon rings in FLOAT space (TrimPolygonFloat)
    if is_poly and nrings:
        rs0 = np.concatenate([[0], np.cumsum(ring_lens)[:-1]])
        re0 = rs0 + ring_lens - 1
        needs = ((verts[rs0, 0] != verts[re0, 0]) |
                 (verts[rs0, 1] != verts[re0, 1]))
        if needs.any():
            new_lens = ring_lens + needs
            ring_of = np.repeat(np.arange(nrings), new_lens)
            new_rs = np.concatenate([[0], np.cumsum(new_lens)[:-1]])
            iw = np.arange(int(new_lens.sum())) - new_rs[ring_of]
            src = rs0[ring_of] + np.where(iw < ring_lens[ring_of], iw, 0)
            verts = verts[src]
            ring_lens = new_lens

    nv = len(verts)
    ring_starts = np.concatenate([[0], np.cumsum(ring_lens)[:-1]])
    ring_of_vert = np.repeat(np.arange(nrings), ring_lens)
    idx_within = np.arange(nv) - ring_starts[ring_of_vert]
    feat_of_vert = ring_feat[ring_of_vert]

    # --- project every vertex with its feature's tile params
    zv = np.asarray(z)[feat_of_vert] if np.ndim(z) else z
    px, py = project_points_bulk(zv, x_f[feat_of_vert], y_f[feat_of_vert],
                                 verts[:, 0], verts[:, 1], extent,
                                 clamp=clamp)

    # --- winding weight (int32-wrapping shoelace) + ring reversal
    if is_poly and nv:
        with np.errstate(over="ignore"):
            t = ((px[1:] - px[:-1]) * (py[1:] + py[:-1])).astype(np.int32)
        t = np.where(ring_of_vert[1:] == ring_of_vert[:-1], t, 0) \
            .astype(np.float64)
        w = np.add.reduceat(np.concatenate([t, [0.0]]), ring_starts)
        rev = (w > 0) != np.asarray(ring_first_of_poly, bool)
        rev_v = rev[ring_of_vert]
        src = np.where(rev_v,
                       ring_starts[ring_of_vert]
                       + ring_lens[ring_of_vert] - 1 - idx_within,
                       np.arange(nv))
        px, py = px[src], py[src]

    # --- per-feature positional delta chain (cursor resets per feature,
    # carries across rings; updated even for dropped zero-deltas)
    prev_x = np.zeros(nv, np.int32)
    prev_y = np.zeros(nv, np.int32)
    if nv:
        prev_x[1:], prev_y[1:] = px[:-1], py[:-1]
        ff = np.zeros(nv, bool)
        ff[0] = True
        ff[1:] = feat_of_vert[1:] != feat_of_vert[:-1]
        prev_x[ff] = 0
        prev_y[ff] = 0
    with np.errstate(over="ignore"):
        dx = px - prev_x
        dy = py - prev_y
    zzx = tm.zigzag_encode(dx).astype(np.uint64)
    zzy = tm.zigzag_encode(dy).astype(np.uint64)

    is_start = idx_within == 0
    if is_mpoint:
        # MakeMultiPointFloat (write_geometry.go:338-344): ONE MoveTo
        # header with count = len(points), then LinePoint over every
        # point from the cursor — zero deltas dropped, header count kept
        keepnz = (dx != 0) | (dy != 0)
    else:
        keepnz = (~is_start) & ((dx != 0) | (dy != 0))
    cnt = np.bincount(ring_of_vert[keepnz], minlength=nrings) if nv \
        else np.zeros(nrings, np.int64)
    if is_mpoint:
        emit = np.ones(nrings, bool)
        ring_nvals = 1 + 2 * cnt              # header + kept pairs
    elif is_poly:
        emit = np.ones(nrings, bool)
        ring_nvals = 4 + 2 * cnt + 1          # +1 = ClosePath
    else:
        emit = cnt > 0                        # degenerate runs truncated
        ring_nvals = np.where(emit, 4 + 2 * cnt, 0)
    if geom_type == "LineString":
        kept_rings = np.bincount(ring_feat[emit], minlength=nfeat)
        aborted = kept_rings == 0             # write_feature.go:57-59
    else:
        aborted = np.zeros(nfeat, bool)
    live = ~aborted

    # --- command-value stream (feature-major because rings are)
    ring_voffs = np.concatenate([[0], np.cumsum(ring_nvals)[:-1]])
    vals = np.zeros(int(ring_nvals.sum()), np.uint64)
    if len(vals):
        vo = ring_voffs[emit]
        pair_off = 1 if is_mpoint else 4
        if is_mpoint:
            # cmd(1, n_points) — count from the ORIGINAL point list
            vals[vo] = (1 + 8 * ring_lens[emit]).astype(np.uint64)
        else:
            vals[vo] = 9                                # cmd(1,1) MoveTo
            vals[vo + 1] = zzx[ring_starts[emit]]
            vals[vo + 2] = zzy[ring_starts[emit]]
            vals[vo + 3] = (2 + 8 * cnt[emit]).astype(np.uint64)  # cmd(2,n)
            if is_poly:
                vals[ring_voffs + ring_nvals - 1] = 15  # cmd(7,1) ClosePath
        csum = np.cumsum(keepnz)
        # count of kept vertices BEFORE each ring (exclusive — ring-start
        # vertices can themselves be kept in MultiPoint mode)
        ring_base = csum[ring_starts] - keepnz[ring_starts]
        k_idx = np.flatnonzero(keepnz)
        r_k = ring_of_vert[k_idx]
        pos = (ring_voffs[r_k] + pair_off
               + 2 * (csum[k_idx] - ring_base[r_k] - 1))
        vals[pos] = zzx[k_idx]
        vals[pos + 1] = zzy[k_idx]

    feat_nvals = np.bincount(ring_feat, weights=ring_nvals,
                             minlength=nfeat).astype(np.int64)
    vlen = _varlen_u64(vals)
    vlen_cum = np.concatenate([[0], np.cumsum(vlen)])
    feat_v_offs = np.concatenate([[0], np.cumsum(feat_nvals)])
    glen = vlen_cum[feat_v_offs[1:]] - vlen_cum[feat_v_offs[:-1]]

    # --- feature framing (id only when nonzero, tags only when the
    # feature has entries; aborted features get zero-length frames but
    # still contribute to the dictionaries, like the scalar add_feature)
    tile_of_feat = np.repeat(np.arange(ntiles), ends - starts)
    tags, tlen, offs, payload, (kblob, kcut), (vblob, vcut) = _tags_bulk(
        props, tile_of_feat, ntiles)
    nent = np.diff(offs)
    has_tags = nent > 0
    pl_u = payload.astype(np.uint64)
    plnb = _varlen_u64(pl_u)
    props_len = np.where(has_tags, 1 + plnb + payload, 0)
    uid = ids.astype(np.uint64)
    idnb = _varlen_u64(uid)
    has_id = ids != 0
    id_len = np.where(has_id, 1 + idnb, 0)
    gnb = _varlen_u64(glen.astype(np.uint64))
    parts_len = id_len + props_len + 2 + (1 + gnb + glen)
    pnb = _varlen_u64(parts_len.astype(np.uint64))
    feat_len = np.where(live, 1 + pnb + parts_len, 0)
    byte_cut = np.concatenate([[0], np.cumsum(feat_len)]).astype(np.int64)
    buf = np.zeros(int(byte_cut[-1]), dtype=np.uint8)

    p = byte_cut[:-1][live]
    buf[p] = 0x12
    _write_varints(buf, p + 1, parts_len[live].astype(np.uint64), pnb[live])
    p = p + 1 + pnb[live]
    wid = has_id[live]
    buf[p[wid]] = 0x08
    _write_varints(buf, p[wid] + 1, uid[live][wid], idnb[live][wid])
    p = p + id_len[live]
    wtag = has_tags[live]
    buf[p[wtag]] = 0x12
    _write_varints(buf, p[wtag] + 1, pl_u[live][wtag], plnb[live][wtag])
    tposf = np.zeros(nfeat, np.int64)
    tposf[live] = p + 1 + plnb[live]
    tkeep = np.repeat(live, 2 * nent)
    tpos = _segment_pos(tposf, 2 * offs,
                        np.concatenate([[0], np.cumsum(tlen)]))
    _write_varints(buf, tpos[tkeep], tags[tkeep], tlen[tkeep])
    p = p + props_len[live]
    buf[p] = 0x18
    buf[p + 1] = geom_int
    buf[p + 2] = 0x22
    _write_varints(buf, p + 3, glen[live].astype(np.uint64), gnb[live])
    gposf = np.zeros(nfeat, np.int64)
    gposf[live] = p + 3 + gnb[live]
    # aborted features have no command values (every ring truncated)
    _write_varints(buf, _segment_pos(gposf, feat_v_offs, vlen_cum), vals,
                   vlen)

    # --- per-tile frame assembly (O(tiles) Python)
    name_raw = layer_name.encode("utf-8")
    name_bytes = b"\x0a" + _varint(len(name_raw)) + name_raw
    tail = b"\x28" + _varint(extent) + b"\x78\x02"
    feats_all = buf.tobytes()
    out = []
    for t, (lo, hi) in enumerate(zip(byte_cut[starts].tolist(),
                                     byte_cut[ends].tolist())):
        body = (name_bytes + feats_all[lo:hi] + kblob[kcut[t]:kcut[t + 1]]
                + vblob[vcut[t]:vcut[t + 1]] + tail)
        out.append(b"\x1a" + _varint(len(body)) + body)
    return out, np.bincount(tile_of_feat[live], minlength=ntiles)


def flatten_geom_rows(geom_type: str, rows):
    """Per-feature GeoJSON-shaped coordinate lists -> the flat arrays
    encode_geom_tiles_bulk consumes: (verts, ring_lens, ring_feat,
    ring_first_of_poly). ``rows`` holds the NORMALIZED shape per feature:
    LineString = one line (list of points), MultiLineString = list of
    lines, Polygon = list of rings, MultiPolygon = list of polygons each a
    list of rings (holes included). Per-RING Python only — the per-vertex
    work is np.asarray."""
    verts_parts, ring_lens, ring_feat, first = [], [], [], []
    for fi, c in enumerate(rows):
        if geom_type in ("LineString", "MultiPoint"):
            rings, firsts = [c], [True]
        elif geom_type in ("MultiLineString", "Polygon"):
            rings = list(c)
            firsts = [True] * len(rings) if geom_type == "MultiLineString" \
                else ([True] + [False] * (len(rings) - 1) if rings else [])
            if geom_type == "Polygon" and not rings:
                # the scalar make_polygon raises on zero rings
                # (closed[0] IndexError) — match, don't silently encode
                raise ValueError(f"feature {fi}: empty Polygon coordinates")
        elif geom_type == "MultiPolygon":
            rings, firsts = [], []
            for poly in c:
                if not len(poly):
                    raise ValueError(
                        f"feature {fi}: empty polygon in MultiPolygon")
                rings.extend(poly)
                firsts.extend([True] + [False] * (len(poly) - 1))
        else:
            raise ValueError(f"unsupported geom_type {geom_type!r}")
        for r in rings:
            try:
                a = np.asarray(r, dtype=np.float64).reshape(-1, 2)
            except (ValueError, TypeError):
                # Arrow hands nested arrays as object ndarrays of
                # per-point ndarrays, which asarray refuses to coerce;
                # stack handles them without per-point Python
                a = np.stack(list(r)).astype(
                    np.float64, copy=False).reshape(-1, 2)
            if not len(a):
                # the scalar builders raise on empty rings/lines
                # (pts[0] IndexError) — match rather than diverge
                raise ValueError(f"feature {fi}: empty ring")
            verts_parts.append(a)
            ring_lens.append(len(a))
            ring_feat.append(fi)
        first.extend(firsts)
    verts = (np.concatenate(verts_parts) if verts_parts
             else np.zeros((0, 2), np.float64))
    return (verts, np.asarray(ring_lens, np.int64),
            np.asarray(ring_feat, np.int64), np.asarray(first, bool))


def flatten_geom_arrow(geom_type: str, coords):
    """flatten_geom_rows read straight from an Arrow coords column's list
    offsets: the same (verts, ring_lens, ring_feat, ring_first_of_poly),
    with no per-row or per-ring Python.

    ``coords`` is a ListArray ``array<array<array<double>>>`` — a
    feature's rings (Polygon), lines (MultiLineString) or one-ring
    polygons (MultiPolygon); LineString and MultiPoint read the first
    inner list, Point its first point — or, for MultiPolygon only,
    ``array<array<array<array<double>>>>`` = [polygon][ring][point][xy],
    holes included. The column's depth, not the rows, picks the layout.
    Every point must be an [x, y] pair; a null at any level raises, as
    the scalar builders do on it."""
    import pyarrow as pa

    offs, arr = [], coords
    while pa.types.is_list(arr.type):
        if arr.null_count:
            raise ValueError("null in coords")
        offs.append(arr.offsets.to_numpy().astype(np.int64))
        arr = arr.values
    if arr.null_count:
        raise ValueError("null coordinate in coords")
    flat = arr.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    if len(offs) == 4 and geom_type == "MultiPolygon":
        o_feat, o_poly, o_ring, o_pt = offs
        p0, p1 = o_feat[0], o_feat[-1]
        rings_per_poly = np.diff(o_poly[p0:p1 + 1])
        if (rings_per_poly == 0).any():
            fi = np.searchsorted(o_feat, p0 + np.argmax(rings_per_poly == 0),
                                 "right") - 1
            raise ValueError(f"feature {fi}: empty polygon in MultiPolygon")
        rings = np.arange(o_poly[p0], o_poly[p1])
        poly_feat = np.repeat(np.arange(len(o_feat) - 1), np.diff(o_feat))
        ring_feat = np.repeat(poly_feat, rings_per_poly)
        first = np.zeros(len(rings), bool)
        first[o_poly[p0:p1] - o_poly[p0]] = True
    elif len(offs) == 3:
        o_feat, o_ring, o_pt = offs
        nfeat = len(o_feat) - 1
        rings_per_feat = np.diff(o_feat)
        if geom_type in ("LineString", "MultiPoint", "Point"):
            if (rings_per_feat == 0).any():
                raise ValueError(f"feature {np.argmax(rings_per_feat == 0)}:"
                                 f" empty {geom_type} coordinates")
            rings = o_feat[:-1]
            ring_feat = np.arange(nfeat)
            first = np.ones(nfeat, bool)
        elif geom_type in ("Polygon", "MultiLineString", "MultiPolygon"):
            if geom_type == "Polygon" and (rings_per_feat == 0).any():
                # the scalar make_polygon raises on zero rings
                raise ValueError(f"feature {np.argmax(rings_per_feat == 0)}:"
                                 " empty Polygon coordinates")
            rings = np.arange(o_feat[0], o_feat[-1])
            ring_feat = np.repeat(np.arange(nfeat), rings_per_feat)
            first = np.ones(len(rings), bool)
            if geom_type == "Polygon":
                first[:] = False
                first[o_feat[:-1] - o_feat[0]] = True
        else:
            raise ValueError(f"unsupported geom_type {geom_type!r}")
    else:
        raise ValueError(f"{geom_type} coords must be 3 list levels deep "
                         "(4 allowed for MultiPolygon), got "
                         f"{len(offs)}: {coords.type}")
    ring_lens = o_ring[rings + 1] - o_ring[rings]
    if (ring_lens == 0).any():
        # the scalar builders raise on empty rings/lines (pts[0])
        raise ValueError(
            f"feature {ring_feat[np.argmax(ring_lens == 0)]}: empty ring")
    if geom_type == "Point":
        ring_lens = np.ones(len(rings), np.int64)
    ring_starts = np.concatenate([[0], np.cumsum(ring_lens)[:-1]])
    pts = (np.repeat(o_ring[rings] - ring_starts, ring_lens)
           + np.arange(int(ring_lens.sum())))
    base = o_pt[pts]
    if (o_pt[pts + 1] - base != 2).any():
        raise ValueError("coords points must be [x, y] pairs")
    verts = np.empty((len(pts), 2), np.float64)
    verts[:, 0] = flat[base]
    verts[:, 1] = flat[base + 1]
    return verts, ring_lens.astype(np.int64), ring_feat.astype(np.int64), first
