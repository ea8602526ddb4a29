"""Whole-batch multi-row codec kernels for Arrow-batched Spark UDFs.

``core.py`` encodes one array at a time; calling it per row from a Spark UDF
would pay Python-loop overhead per document.  These kernels instead treat an
entire Arrow RecordBatch as ONE flat vector: `flat` is the concatenated token
values of every row (zero-copy from the Arrow ListArray values buffer) and
`offsets` are the row boundaries.  Every step — byte-length classification,
control-byte packing, data scatter/gather, per-row cost reduction, delta
prefix sums — is a whole-batch NumPy expression, so the per-row Python cost is
zero regardless of how many documents a batch holds.  This is the idiomatic
Spark analog of the reference's 8-values-per-iteration SIMD kernels
(/root/reference/src/streamvbyte_x64_encode.c:55-97): the batch is the vector.

Format produced per row is byte-identical to ``core`` (and therefore to the
reference spec, README.md:207-244) — tested row-by-row against core.

Cost model: per-row exact sizes for all 8 codecs computed with segmented
reductions — including fsst, whose per-row symbol-table cost vectorizes as a
composite-key sort + lexsort-ranked top-255 (_fsst_costs); argmin per row =
the auto-selector of select.py, batched.  Every codec, fsst included, has a
whole-batch encode AND decode kernel (_fsst_encode_rows builds all per-row
symbol tables from one composite-key sort) — no per-row Python remains on
any hot path.  The default ``auto`` candidate set stays the 7 original
codecs (VECTOR_COST_CODECS) so driver-facing formats are stable; passing
VECTOR_COST_CODECS_FULL adds fsst to the argmin (the auto_full_* queries),
and ``codec='auto_sorted'`` adds Elias-Fano on rows that are
non-decreasing (row_sorted_mask gate; the auto_sorted_* queries — r7).

Encode is cost pass -> layout -> one pass: the selected cost of each row
is its exact encoded size, so encode_rows lays out every row's slot before
writing a byte, and ONE _svb_encode_rows pass writes every svb, svb0124
and svb_delta row straight into its slot (each row with its own scheme,
deltas on the svb_delta rows only, byte lengths reused from the cost
pass).  Every other codec encodes through its ``_ENCODERS`` kernel into its
slots, checked against the costs.  The cost pass bounds the dict column
from both sides of the priority order, so its composite-key sort runs only
on rows where dict can still win.

Decode is one pass for the svb family: decode_rows decodes every svb,
svb0124 and svb_delta row of a batch, mixed or not, in ONE _svb_decode_rows
pass that reads each row in place from the encoded buffer (no per-codec
subset copy), picks the row's length table by its codec, writes every value
straight to its final slot and runs the prefix sum on the svb_delta rows
only.  Every other codec decodes through its ``_DECODERS`` kernel, one call
per codec present.  The round-trip fingerprint (fingerprint_rows) folds
with block-relative weights, 31^(e-g) = 31^(e-bB) * 31^-(g-bB) mod p, so
its per-value work is a widen, one multiply by a fixed table and two
segment sums — no division and no per-value exponent array.
"""

from __future__ import annotations

from functools import partial

import numpy as np

from . import companions, core

_LEN_0124 = np.array([0, 1, 2, 4], dtype=np.int64)
# value mask by data-byte length 0..4
_MASK_BY_LEN = np.array([0, 0xFF, 0xFFFF, 0xFFFFFF, 0xFFFFFFFF], dtype=np.uint32)


def _row_base_at(ends: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """cumsum value just BEFORE each row start (0 at position 0) without
    materializing concatenate([[0], ends]) — that copy is V-sized and shows
    up in the decode hot path."""
    out = np.zeros(starts.size, dtype=ends.dtype)
    nz = starts > 0
    out[nz] = ends[starts[nz] - 1]
    return out

# stable codec id <-> name mapping for the dictionary-encoded `codec` column
CODEC_NAMES = ("svb", "svb0124", "svb_delta", "bitpack", "for", "dict",
               "rle", "fsst", "ef")
CODEC_ID = {n: i for i, n in enumerate(CODEC_NAMES)}
VECTOR_COST_CODECS = ("svb", "svb0124", "svb_delta", "bitpack", "for", "dict", "rle")
# full candidate set including fsst (cost via _fsst_costs, encode via
# _fsst_encode_rows); the default "auto" keeps the 7-codec contract so the
# driver-facing auto_size/auto_roundtrip formats stay stable, and fsst is
# opt-in via this tuple (the auto_full_* queries)
VECTOR_COST_CODECS_FULL = VECTOR_COST_CODECS + ("fsst",)


_SCRATCH: dict[str, np.ndarray] = {}
_ARANGES: dict[str, np.ndarray] = {}


def _scratch(name: str, size: int, dtype) -> np.ndarray:
    """Process-lifetime scratch buffer (Spark reuses Python workers, so the
    page-fault cost of large transient allocations is paid once, not per
    batch — a real lever on hosts with slow first-touch memory)."""
    a = _SCRATCH.get(name)
    if a is None or a.size < size or a.dtype != np.dtype(dtype):
        a = np.empty(int(size * 5 // 4) + 16, dtype=dtype)
        _SCRATCH[name] = a
    return a[:size]


def _cached_arange(n: int, dtype) -> np.ndarray:
    """Read-only 0..n-1 view (grown on demand, never refilled)."""
    key = np.dtype(dtype).str
    a = _ARANGES.get(key)
    if a is None or a.size < n:
        a = np.arange(max(int(n * 5 // 4) + 16, 1024), dtype=dtype)
        _ARANGES[key] = a
    return a[:n]


def _cached_ones(n: int) -> np.ndarray:
    """Read-only uint8 ones of length n (grown on demand)."""
    a = _ARANGES.get("ones")
    if a is None or a.size < n:
        a = np.ones(max(int(n * 5 // 4) + 16, 1024), dtype=np.uint8)
        _ARANGES["ones"] = a
    return a[:n]


def _seg_sum(x: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row sums of x (len V) for rows bounded by offsets (len R+1).

    np.add.reduceat over nonempty-row starts: empty rows contribute zero
    elements, so summing from one nonempty start to the next spans exactly
    one real row; 4-9x faster than a cumsum (whose full-length int64 temp
    pays this sandbox's first-touch page-fault cost on every call)."""
    n = offsets.size - 1
    starts = offsets[:-1]
    nonempty = offsets[1:] > starts
    if not x.size or not nonempty.any():
        return np.zeros(n, dtype=np.int64)
    # byte-wide inputs (lengths, flags) accumulate in int32 while no sum
    # can overflow it: ~2x faster than an int64 accumulator
    acc = np.int32 if x.itemsize == 1 and offsets[-1] < 1 << 23 else np.int64
    seg = np.add.reduceat(x[:offsets[-1]], starts[nonempty],
                          dtype=acc).astype(np.int64, copy=False)
    if nonempty.all():
        return seg
    out = np.zeros(n, dtype=np.int64)
    out[nonempty] = seg
    return out


def _seg_reduce(ufunc, x: np.ndarray, offsets: np.ndarray, empty_val=0) -> np.ndarray:
    """Per-row ufunc.reduceat with empty-row safety.

    Mirrors _seg_sum: reduceat only over NONEMPTY row starts — empty rows
    contribute no elements, so consecutive nonempty starts bound exactly one
    real row.  (Clamping empty trailing starts to x.size-1 instead would split
    the preceding row's segment and steal its last element.)"""
    nr = offsets[1:] - offsets[:-1]
    out = np.full(nr.size, empty_val, dtype=x.dtype)
    nonempty = nr > 0
    if x.size == 0 or not nonempty.any():
        return out
    out[nonempty] = ufunc.reduceat(x[:offsets[-1]], offsets[:-1][nonempty])
    return out


def _row_deltas(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row wrap-around uint32 deltas with prev=0 at each row start."""
    d = np.empty_like(flat)
    if flat.size == 0:
        return d
    d[1:] = flat[1:] - flat[:-1]
    starts = offsets[:-1]
    starts = starts[starts < flat.size]
    d[starts] = flat[starts]  # prev = 0
    return d


# ----------------------------------------------------------- batched svb enc

# control-byte mask of a row's last quad by its used lanes (n % 4; 0 = 4)
_PARTIAL_QUAD_MASK = np.array([0xFF, 0x03, 0x0F, 0x3F], dtype=np.uint8)


def _svb_encode_rows(flat: np.ndarray, offsets: np.ndarray,
                     scheme0124: bool | np.ndarray = False,
                     lens: np.ndarray | None = None,
                     out: np.ndarray | None = None,
                     out_offsets: np.ndarray | None = None,
                     skip: np.ndarray | None = None):
    """Encode every row as an independent svb stream; returns (out, out_offsets).

    Standalone, the pass sizes its own output from the values' byte
    lengths.  As encode_rows' one svb-family pass it gets the layout
    instead: ``out`` (with 4 spare bytes past out_offsets[-1]) and
    ``out_offsets`` come from the cost pass, ``lens`` are the per-value
    data lengths that pass already computed, ``scheme0124`` is one bool
    per row, and rows marked in ``skip`` (other codecs, encoded into their
    slots afterwards) get no control bytes and data length 0 (``lens`` must
    be 0 on their values).

    Data bytes are written with one ordered 4-byte-per-value overwrite scatter
    (NumPy fancy assignment: on duplicate indices the last value wins, so a
    value's surplus bytes are overwritten by the next value / next row's data,
    mirroring how the reference SSE kernel writes 16B and advances dataPtr by
    the true length, src/streamvbyte_x64_encode.c:70-81).  Control bytes are
    scattered AFTER data so row-leading control regions clobber any surplus
    from the previous row's final value.  A skipped row's values all store
    at its slot start: whatever they and a neighbour's surplus leave there
    is overwritten when the caller writes the slot.
    """
    V = flat.size
    nr = offsets[1:] - offsets[:-1]
    key_len = (nr + 3) // 4
    if skip is not None:
        key_len[skip] = 0
    if lens is None:
        lens = core._lens_0124(flat) if scheme0124 else core._lens_1234(flat)
    if out is None:
        out_offsets = np.zeros(nr.size + 1, dtype=np.int64)
        np.cumsum(np.where(nr > 0, key_len + _seg_sum(lens, offsets), 0),
                  out=out_offsets[1:])
        # np.empty, not zeros: every byte in [0, total_out) is written —
        # each row is key_len ctrl bytes (ctrl scatter) + data bytes (each
        # value's 4-byte store covers its own length; zero-len 0124 values
        # share the next writer's dest) — so the memset would be pure
        # overhead.  +4 pad: the final value's surplus lands past total_out.
        out = np.empty(int(out_offsets[-1]) + 4, dtype=np.uint8)
    total_out = int(out_offsets[-1])
    if V == 0:
        return out[:total_out], out_offsets
    # the prefix sum in int32 (twice as fast as int64) unless the batch is
    # huge; the scatter index in intp (NumPy converts any other index
    # dtype first, which costs more than the wider arithmetic)
    ends = np.cumsum(lens, dtype=np.int32 if V * 4 < 2**31 else np.int64)
    # data bytes: per-value destination = global byte start minus the row's
    # data base plus the row's (out offset + control length)
    dest = _scratch("enc_dest", V, np.intp)
    np.subtract(ends, lens, out=dest, casting="unsafe")
    dest -= np.repeat(_row_base_at(ends, offsets[:-1])
                      - out_offsets[:-1] - key_len, nr)
    # ONE unconditional little-endian 4-byte store per value through a
    # stride-1 uint32 view (fancy assignment iterates in index order, so a
    # later value's store overwrites the previous value's surplus bytes —
    # the same overlapping-store discipline as the reference SSE kernel);
    # ~3.7x the 4-lane byte scatter this replaces
    u32 = np.ndarray((out.size - 3,), np.uint32, buffer=out, strides=(1,))
    u32[dest] = flat  # ordered overwrite scatter
    # 2-bit codes: len - 1 (scheme 1234); 0, 1, 2, 3 for len 0, 1, 2, 4
    # (scheme 0124) — len - 1 plus one unless the length is 4.  Three zero
    # codes past the end let every position start a 4-code window.
    codes = _scratch("enc_codes", V + 3, np.uint8)
    np.subtract(lens, np.uint8(1), out=codes[:V])
    codes[V:] = 0
    if np.ndim(scheme0124):
        if scheme0124.any():
            codes[:V] += (np.repeat(scheme0124, nr).view(np.uint8)
                          > (lens >> np.uint8(2)))
    elif scheme0124:
        codes[:V] += lens < 4
    # control bytes: win[v] packs the codes of values v..v+3 LSB-first, so
    # a quad starting at value v has control byte win[v], once the lanes
    # past its row's last value are masked off (they hold the next row's
    # codes, or a skipped row's meaningless ones)
    win = _scratch("enc_win", V, np.uint8)
    tmp = _scratch("enc_win_tmp", V, np.uint8)
    np.copyto(win, codes[:V])
    for k in (1, 2, 3):
        np.left_shift(codes[k:V + k], np.uint8(2 * k), out=tmp)
        win |= tmp
    qs = np.zeros(nr.size + 1, dtype=np.int64)
    np.cumsum(key_len, out=qs[1:])
    K = int(qs[-1])
    ctrl = win[4 * _cached_arange(K, np.intp)
               + np.repeat(offsets[:-1] - 4 * qs[:-1], key_len)]
    part = np.flatnonzero((key_len > 0) & (nr & 3 > 0))
    ctrl[qs[part + 1] - 1] &= _PARTIAL_QUAD_MASK[nr[part] & 3]
    out[_cached_arange(K, np.intp)
        + np.repeat(out_offsets[:-1] - qs[:-1], key_len)] = ctrl
    return out[:total_out], out_offsets


def _quad_tables():
    """Decode tables indexed by 256 * scheme0124 + control byte: each
    quad's lane byte offsets (the exclusive prefix of its 4 value lengths;
    column 4 = the quad's whole data length) and its 4 lane value masks.
    One lookup per control byte replaces the per-value length
    classification and per-value length cumsum of a value-at-a-time decoder
    — the NumPy analog of the reference's shuffle-mask + length tables
    (src/streamvbyte_shuffle_tables_decode.h)."""
    codes = (np.arange(256)[:, None] >> (2 * np.arange(4))) & 3
    lens = np.concatenate([codes + 1, _LEN_0124[codes]])
    prefix = np.zeros((512, 5), np.intp)
    np.cumsum(lens, axis=1, out=prefix[:, 1:])
    return prefix, _MASK_BY_LEN[lens]


_QUAD_PREFIX, _QUAD_MASK = _quad_tables()
_QUAD_LEN = np.ascontiguousarray(_QUAD_PREFIX[:, 4])
# the 4 lane offsets of a quad as 4 bytes of one uint32 (one gather per quad)
_QUAD_OFF_U8 = _QUAD_PREFIX[:, :4].astype(np.uint8).view("<u4").ravel()
_QUAD_MASK_T = np.ascontiguousarray(_QUAD_MASK.T)
# bytes of zero padding past a decode buffer: a quad's lanes past its row's
# last value read at most 3 lanes x 4 bytes beyond the row's data
_WORD_PAD = 16


def _words_at(buf: np.ndarray) -> np.ndarray:
    """Aligned uint32 array w with w[i] = the little-endian word starting at
    byte i of buf (zero past its end).  One strided copy turns the decoder's
    per-value unaligned 4-byte loads into aligned gathers, which NumPy runs
    about 3x faster — the analog of the reference decoder's unconditional
    16-byte load (src/streamvbyte_x64_decode.c:10-26)."""
    n = buf.size + _WORD_PAD
    padded = _scratch("dec_bytes", n + 3, np.uint8)
    padded[:buf.size] = buf
    padded[buf.size:] = 0
    words = _scratch("dec_words", n, np.uint32)
    words[:] = np.ndarray((n,), np.uint32, buffer=padded, strides=(1,))
    return words


def _quad_index(enc: np.ndarray, row_enc: np.ndarray, pkey: np.ndarray,
                scheme0124: bool | np.ndarray):
    """Per-quad table index (256 * scheme0124 + control byte) of the first
    pkey[r] control bytes of each row, read in place at row_enc[r]; with
    the quad starts qs (len R+1).  scheme0124: one bool or per-row bools."""
    qs = np.zeros(pkey.size + 1, dtype=np.int64)
    np.cumsum(pkey, out=qs[1:])
    K = int(qs[-1])
    lut = enc[_cached_arange(K, np.intp)
              + np.repeat(row_enc - qs[:-1], pkey)].astype(np.intp)
    if np.ndim(scheme0124):
        lut += np.repeat(256 * scheme0124.astype(np.intp), pkey)
    elif scheme0124:
        lut += 256
    return lut, qs


def _quad_data_len(lut, qs, n):
    """(exclusive cumsum of quad data lengths, per-row data bytes of the
    first n[r] values): whole quads plus the used lanes of the last one."""
    cq = np.zeros(lut.size + 1, dtype=np.intp)
    np.cumsum(_QUAD_LEN[lut], out=cq[1:])
    last = qs[1:] - 1
    pkey = qs[1:] - qs[:-1]
    return cq, (cq[last] - cq[qs[:-1]]
                + _QUAD_PREFIX[lut[last], n - 4 * (pkey - 1)])


def _svb_decode_rows(enc: np.ndarray, enc_offsets: np.ndarray, n_toks: np.ndarray,
                     scheme0124: bool | np.ndarray,
                     n_values: np.ndarray | None = None,
                     skip: np.ndarray | None = None,
                     delta: bool | np.ndarray = False):
    """Decode every row's independent svb stream; returns (flat, offsets).

    ``scheme0124`` and ``delta`` are each one bool for the whole batch or a
    per-row bool array: svb, svb0124 and svb_delta rows decode in the SAME
    pass, and the per-row prefix sum runs on the delta rows only.  Rows
    marked in ``skip`` (other codecs of a mixed batch) are left unwritten —
    their slots in flat are uninitialised until the caller's own kernels
    fill them.  Rows are read in place from ``enc``: no per-codec subset
    copy.

    The pass runs over quads (one control byte = 4 lanes), laid out
    lane-major: per-quad table lookups give every lane's byte offset and
    mask, one exclusive cumsum over quads places each quad's data, then
    each lane is one aligned 4-byte gather (_words_at), one mask and one
    scatter to its final slot — a few data-independent whole-batch passes.
    Delta rows' quads are ordered last, so their prefix sum runs over one
    contiguous range of quads, rebased per row.

    n_values (optional, <= n_toks) decodes only each row's FIRST n_values[r]
    tokens — the format-aware prefix decode: svb data bytes are laid out in
    value order after a control region sized by the FULL count, so a prefix
    needs only the first ceil(n/4) control bytes plus the prefix's own data
    bytes; trailing values are never touched (truncate-to-max-seq-len
    without full decode)."""
    full = np.asarray(n_toks, dtype=np.int64)
    nr = full if n_values is None else np.minimum(
        np.asarray(n_values, dtype=np.int64), full)
    offsets = np.zeros(nr.size + 1, dtype=np.int64)
    np.cumsum(nr, out=offsets[1:])
    V = int(offsets[-1])
    out = np.empty(V + 3, dtype=np.uint32)  # +3: the last row's spill
    live = nr > 0 if skip is None else (nr > 0) & ~skip
    if np.ndim(delta):
        rows = np.concatenate([np.flatnonzero(live & ~delta),
                               np.flatnonzero(live & delta)])
        n_delta = rows.size - int(np.count_nonzero(live & ~delta))
    else:
        rows = np.flatnonzero(live)
        n_delta = rows.size if delta else 0
    if not rows.size:
        return out[:V], offsets
    r_nr = nr[rows]
    pkey = (r_nr + 3) // 4  # quads decoded per row (a prefix's own only)
    row_enc = enc_offsets[:-1][rows]
    lut, qs = _quad_index(enc, row_enc, pkey, scheme0124[rows]
                          if np.ndim(scheme0124) else scheme0124)
    K = lut.size
    qstart, pdata = _quad_data_len(lut, qs, r_nr)
    # the data region starts after the FULL control region
    data_start = row_enc + (full[rows] + 3) // 4
    if n_values is None:
        words = _words_at(enc)
    else:
        # prefix mode: copying the ENTIRE encoded buffer would cost O(full
        # stream bytes) per batch; gather only each row's PREFIX data bytes
        # so memory traffic stays O(prefix) end-to-end
        cd_off = np.zeros(rows.size + 1, dtype=np.int64)
        np.cumsum(pdata, out=cd_off[1:])
        gathered = _scratch("dec_prefix", int(cd_off[-1]), np.uint8)
        _gather_segments(gathered, enc, data_start, pdata, cd_off)
        words = _words_at(gathered)
        data_start = cd_off[:-1]
    qstart = qstart[:-1] + np.repeat(data_start - qstart[qs[:-1]], pkey)
    # lanes are laid out lane-major, (4, K): every step below is a long
    # inner loop over quads, never a 4-wide one
    lanes = _scratch("dec_lanes", 4 * K, np.intp).reshape(4, K)
    np.add(qstart, _QUAD_OFF_U8[lut].view(np.uint8).reshape(K, 4).T, out=lanes)
    vals = words[lanes.ravel()].reshape(4, K)
    for j in range(4):
        vals[j] &= _QUAD_MASK_T[j][lut]
    if n_delta:
        # row-major prefix sum in the lane-major layout: inclusive sum
        # down each quad's 4 lanes, plus the exclusive sum of the quad
        # totals before it in its row
        first = rows.size - n_delta
        d = vals[:, qs[first]:]
        for j in (1, 2, 3):
            d[j] += d[j - 1]
        before = np.zeros(d.shape[1] + 1, dtype=np.uint32)
        np.cumsum(d[3], out=before[1:])
        dq = qs[first:] - qs[first]
        d += before[:-1] - np.repeat(before[dq[:-1]], pkey[first:])
    # lane j of quad q lands at qdest[q] + j.  Lanes past a row's last
    # value spill into the slots that follow; writing lane 3 first and lane
    # 0 last lets the owner of every spilled slot (its lane index is always
    # lower) overwrite it, and the last row's spill lands past V
    qdest = 4 * _cached_arange(K, np.intp) + np.repeat(
        offsets[:-1][rows] - 4 * qs[:-1], pkey)
    for j in (3, 2, 1, 0):
        out[j:][qdest] = vals[j]
    return out[:V], offsets


# -------------------------------------------------------------- per-row costs

def row_costs(flat: np.ndarray, offsets: np.ndarray,
              candidates: tuple[str, ...], prune: bool = False) -> np.ndarray:
    """(R, len(candidates)) exact per-row encoded sizes. Empty rows cost 0.

    prune=True relaxes the dict column ONLY: rows where a cheap PROVEN
    lower bound lb on the dict cost already meets the minimum of the
    candidates BEFORE dict in priority order (lb >= min(earlier)) or
    exceeds the minimum of those AFTER it (lb > min(later)) carry that
    bound instead of the exact cost (skipping the composite-key sort).
    Argmin/min consumers are unaffected by construction: the bound is <=
    the exact cost, so a row whose exact dict cost could win is never
    pruned.  A pruned value >= min(earlier) can neither change the matrix
    minimum nor steal a first-minimum tie from an earlier candidate (a tie
    resolves to the earlier column with or without pruning); a pruned
    value > min(later) is above the matrix minimum with or without pruning,
    and a tie with a later candidate is never pruned, so dict keeps that
    win.  Cell-exact consumers (per-codec size queries, the parity tests)
    use the default prune=False."""
    return _row_costs(flat, offsets, candidates, prune)[0]


def _row_costs(flat: np.ndarray, offsets: np.ndarray,
               candidates: tuple[str, ...], prune: bool):
    """row_costs plus what encode_rows' svb-family pass reuses: the per-value
    data lengths by codec name ("svb", and "svb0124" / "svb_delta" when
    they are candidates) and the per-row deltas (None unless svb_delta is a
    candidate).  Every column except dict is computed first, so dict's
    bound sees the candidates on both sides of it."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    key_len = (nr + 3) // 4
    cols = {}
    # shared single-pass classifications (b1/b2 feed both svb schemes;
    # max/min feed both bitpack and for)
    if flat.size:
        b1 = (flat > np.uint32(0xFF)).view(np.uint8)
        b2 = (flat > np.uint32(0xFFFF)).view(np.uint8)
        lens1234 = np.uint8(1) + b1 + b2 + (flat > np.uint32(0xFFFFFF)).view(np.uint8)
        lens0124 = ((flat > np.uint32(0)).view(np.uint8) + b1 + np.uint8(2) * b2
                    ) if any(n == "svb0124" for n in candidates) else None
    else:
        lens1234 = lens0124 = np.zeros(0, np.uint8)
    lens = {"svb": lens1234}
    d = None
    mx = mn = None
    for name in candidates:
        if name == "svb":
            c = key_len + _seg_sum(lens1234, offsets)
        elif name == "svb0124":
            lens[name] = lens0124
            c = key_len + _seg_sum(lens0124, offsets)
        elif name == "svb_delta":
            d = _row_deltas(flat, offsets)
            lens[name] = core._lens_1234(d)
            c = key_len + _seg_sum(lens[name], offsets)
        elif name == "bitpack":
            mx = _seg_reduce(np.maximum, flat, offsets).astype(np.int64) if mx is None else mx
            w = _exact_width(mx)
            c = 1 + (nr * w + 7) // 8
        elif name == "for":
            mx = _seg_reduce(np.maximum, flat, offsets).astype(np.int64) if mx is None else mx
            mn = _seg_reduce(np.minimum, flat, offsets).astype(np.int64)
            w = _exact_width(mx - mn)
            c = 5 + (nr * w + 7) // 8
        elif name == "dict":
            continue  # last: its bound needs both neighbours
        elif name == "rle":
            c = _rle_costs(flat, offsets, lens1234)
        elif name == "fsst":
            c = _fsst_costs(flat, offsets)
        elif name == "ef":
            _ef_validate_rows(flat, offsets)
            c = _ef_cost_rows(flat, offsets)
        else:
            raise ValueError(f"no vectorized cost for codec {name!r}")
        cols[name] = np.where(nr > 0, c, 0)
    if "dict" in candidates:
        j = candidates.index("dict")
        # min of the columns before dict and of those after it (or None)
        bounds = [np.minimum.reduce([cols[n] for n in side])
                  if prune and side else None
                  for side in (candidates[:j], candidates[j + 1:])]
        cols["dict"] = np.where(nr > 0, _dict_costs(flat, offsets, nr,
                                                    *bounds), 0)
    costs = np.stack([cols[n] for n in candidates], axis=1)
    return costs, lens, d


# dict lower bound: the low-bit projection is as wide as the batch's mean
# row length, within these powers of two; batches whose presence table
# (R x width bytes) would pass 2^26 bytes take the exact cost instead
_DICT_LB_BITS = (8, 10)
_DICT_LB_CELLS = 1 << 26


def _dict_costs(flat: np.ndarray, offsets: np.ndarray, nr: np.ndarray,
                earlier: np.ndarray | None = None,
                later: np.ndarray | None = None) -> np.ndarray:
    """Per-row dict cost: exact everywhere without bounds; with the minimum
    of the candidates before dict (``earlier``) and/or after it
    (``later``), exact ONLY where dict could still be the argmin winner
    (lb < earlier and lb <= later) and a proven lower bound lb elsewhere
    (see row_costs' prune contract).

    The bound: distinct full values >= distinct values of their low b bits
    (any projection only merges values), and the dict formula
    4 + 4K + nr*width(K-1)/8 is nondecreasing in K — so evaluating it at
    the projected distinct count bounds the true cost from below.  The
    presence table is one byte scatter + a 2^b-wide row sum (no sort), with
    b adapted to the mean row length: 256 buckets cap the bound of a long
    row at 256 distinct values, far below its real count; 1024 cost short
    rows a table mostly empty.  The composite-key sort then runs only over
    the surviving rows' values."""
    R = nr.size
    bits = int(np.clip(int(flat.size // max(R, 1)).bit_length(),
                       *_DICT_LB_BITS))
    if (earlier is None and later is None) or flat.size == 0 \
            or R << bits > _DICT_LB_CELLS:
        return _dict_size(_row_distinct(flat, offsets), nr)
    # presence index rid << bits | low bits, built in intp: NumPy converts
    # any other index dtype before a scatter, which costs more
    idx = _scratch("dictlb_idx", flat.size, np.intp)
    np.left_shift(np.repeat(_cached_arange(R, np.intp), nr), bits, out=idx)
    lo = _scratch("dictlb_lo", flat.size, np.uint32)
    np.bitwise_and(flat, np.uint32((1 << bits) - 1), out=lo)
    idx |= lo
    pres = _scratch("dictlb_pres", R << bits, np.uint8)
    pres[:] = 0
    pres[idx] = _cached_ones(flat.size)  # an array scatters faster than 1
    c = _dict_size(pres.reshape(R, 1 << bits).sum(axis=1, dtype=np.int64), nr)
    keep = np.ones(R, dtype=bool)
    if earlier is not None:
        keep &= c < earlier
    if later is not None:
        keep &= c <= later
    need = np.flatnonzero(keep)
    if need.size:
        if need.size == R:
            sub_flat, sub_off = flat, offsets
        else:
            sub_flat, sub_off = _subset_rows(flat, offsets, need)
        c[need] = _dict_size(_row_distinct(sub_flat, sub_off), nr[need])
    return c


def _dict_size(k: np.ndarray, nr: np.ndarray) -> np.ndarray:
    """Dict stream size of rows with k distinct values (companions layout:
    4B k + 4k B uniques + nr codes of width(k - 1) bits); nondecreasing
    in k."""
    return 4 + 4 * k + (nr * _exact_width(np.maximum(k - 1, 0)) + 7) // 8


def _ef_cost_rows(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Exact per-row Elias-Fano size, NO sortedness validation — callers
    either validated already (row_costs' 'ef' branch) or mask unsorted rows
    out themselves (the auto_sorted selector)."""
    enr, u, L = _ef_params_rows(flat, offsets)
    return 1 + (enr * L + 7) // 8 + (enr + (u >> L) + 7) // 8


def row_sorted_mask(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row non-decreasing mask (bool[R]) — one vectorized
    adjacent-compare excluding row seams; the eligibility gate that lets
    the auto_sorted selector offer Elias-Fano only where it is defined."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    ok = np.ones(nr.size, dtype=bool)
    if flat.size >= 2:
        row_ids = np.repeat(np.arange(nr.size, dtype=np.int64), nr)
        viol = (flat[1:] < flat[:-1]) & (row_ids[1:] == row_ids[:-1])
        ok[row_ids[1:][viol]] = False
    return ok


def auto_sorted_sizes(flat: np.ndarray, offsets: np.ndarray,
                      candidates: tuple[str, ...] = VECTOR_COST_CODECS
                      ) -> np.ndarray:
    """Per-row auto_sorted size: min over `candidates` plus Elias-Fano on
    rows that are non-decreasing (DuckDB oracle: least() over the same
    formulas with the EF term gated on tokens == list_sort(tokens))."""
    best = row_costs(flat, offsets, candidates, prune=True).min(axis=1)
    nr = offsets[1:] - offsets[:-1]
    eligible = row_sorted_mask(flat, offsets) & (nr > 0)
    return np.where(eligible,
                    np.minimum(best, _ef_cost_rows(flat, offsets)), best)


def _exact_width(mx: np.ndarray) -> np.ndarray:
    """Vectorized bit_length per element (exact for the uint32 range)."""
    cur = mx.astype(np.uint64)
    w = np.zeros(cur.shape, dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        hit = cur >= (np.uint64(1) << np.uint64(shift))
        w += np.where(hit, shift, 0)
        cur = np.where(hit, cur >> np.uint64(shift), cur)
    return w + (cur > 0)


def _row_distinct(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    nr = offsets[1:] - offsets[:-1]
    if flat.size == 0:
        return np.zeros(nr.size, dtype=np.int64)
    # composite key (row_id << 32 | value): one flat sort groups rows and
    # orders values within each row — much faster than lexsort.  Built
    # in-place in scratch to avoid three 8B/value transient allocations.
    key = _scratch("dist_key", flat.size, np.uint64)
    np.copyto(key, flat, casting="unsafe")
    rid = np.repeat(_cached_arange(nr.size, np.uint64), nr)
    np.left_shift(rid, np.uint64(32), out=rid)
    np.bitwise_or(key, rid, out=key)
    key.sort()
    new = _scratch("dist_new", key.size, np.uint8)
    new[0] = 1
    np.not_equal(key[1:], key[:-1], out=new[1:].view(bool))
    return _seg_sum(new, offsets)  # sort preserves row segment boundaries


def _fsst_costs(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Vectorized per-row fsst cost, exactly companions.fsst_cost per row.

    Layout cost (companions.py FSST section): 1B table size k + 2k B symbol
    table + ceil(m/8) B escape bitmap + 1 B per table hit + 2 B per escaped
    pair, where m = 2n byte pairs and the table holds the top-255 pairs by
    (count desc, pair value desc) with count >= 3 — the stable lexsort order
    companions._fsst_table and _fsst_encode_rows use (an unstable argsort
    left the tie order implementation-defined; same lexsort below).

    Whole-batch: one composite-key sort groups (row, pair); a lexsort ranks
    each row's distinct pairs for the 255 cap; bincount reduces k and n_hit
    per row."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    R = nr.size
    if flat.size == 0:
        return np.zeros(R, dtype=np.int64)
    # the two little-endian byte pairs of each uint32 (pair ORDER in the
    # stream is irrelevant to the cost — only per-row counts matter)
    pairs = np.empty(2 * flat.size, dtype=np.uint64)
    pairs[0::2] = flat & np.uint32(0xFFFF)
    pairs[1::2] = flat >> np.uint32(16)
    row_ids = np.repeat(np.arange(R, dtype=np.uint64), 2 * nr)
    key = (row_ids << np.uint64(16)) | pairs
    key.sort()
    new = np.ones(key.size, dtype=bool)
    new[1:] = key[1:] != key[:-1]
    grp_start = np.flatnonzero(new)
    grp_cnt = np.diff(np.concatenate([grp_start, [key.size]]))
    grp_row = (key[grp_start] >> np.uint64(16)).astype(np.int64)
    grp_pair = (key[grp_start] & np.uint64(0xFFFF)).astype(np.int64)
    # rank each row's distinct pairs by (count desc, pair desc) for the cap
    order = np.lexsort((-grp_pair, -grp_cnt, grp_row))
    srow, scnt = grp_row[order], grp_cnt[order]
    row_first = np.concatenate([[0], np.flatnonzero(srow[1:] != srow[:-1]) + 1])
    seg_len = np.diff(np.concatenate([row_first, [srow.size]]))
    rank = np.arange(srow.size, dtype=np.int64) - np.repeat(row_first, seg_len)
    take = (rank < companions._FSST_MAX_SYMBOLS) & (scnt >= 3)
    k = np.bincount(srow[take], minlength=R)
    # int64 accumulation end-to-end: bincount(weights=) sums in float64,
    # exact only below 2^53 — an implicit ceiling on a function whose
    # contract is exact byte costs
    n_hit = np.zeros(R, dtype=np.int64)
    np.add.at(n_hit, srow[take], scnt[take])
    m = 2 * nr
    cost = 1 + 2 * k + (m + 7) // 8 + n_hit + 2 * (m - n_hit)
    return np.where(nr > 0, cost, 0)


def _fsst_encode_rows(flat: np.ndarray, offsets: np.ndarray):
    """Whole-batch fsst encode, byte-identical per row to
    companions.fsst_encode (layout: 1B k | k*2B ascending symbol table |
    ceil(m/8)B escape bitmap | 1B/hit | 2B/escaped pair, m = 2n byte pairs).

    Reuses _fsst_costs' machinery — one composite-key sort groups (row,
    pair); a stable lexsort ranks each row's distinct pairs by (count desc,
    pair desc) for the 255-symbol cap — then scatters table bytes, bitmap
    bits, hit codes and escape literals with segmented placements.  No
    per-row Python."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    R = nr.size
    if flat.size == 0:
        return np.zeros(0, np.uint8), np.zeros(R + 1, dtype=np.int64)
    m = 2 * nr
    pair_off = 2 * offsets
    # byte pairs in STREAM order (value i -> little-endian pairs 2i, 2i+1):
    # unlike _fsst_costs, encode needs positions, not just counts
    pairs = np.empty(2 * flat.size, dtype=np.uint32)
    pairs[0::2] = flat & np.uint32(0xFFFF)
    pairs[1::2] = flat >> np.uint32(16)
    row_ids = np.repeat(np.arange(R, dtype=np.uint64), m)
    key = (row_ids << np.uint64(16)) | pairs.astype(np.uint64)
    # sort + searchsorted instead of np.unique(return_inverse=True): unique's
    # inverse needs a full argsort; a plain sort plus one binary-search gather
    # is ~2x cheaper at these sizes
    skey = np.sort(key)
    new = np.empty(skey.size, dtype=bool)
    new[0] = True
    np.not_equal(skey[1:], skey[:-1], out=new[1:])
    grp_start = np.flatnonzero(new)
    uniq = skey[grp_start]
    cnt = np.diff(np.concatenate([grp_start, [skey.size]]))
    inverse = np.searchsorted(uniq, key)
    G = uniq.size
    grp_row = (uniq >> np.uint64(16)).astype(np.int64)
    grp_pair = (uniq & np.uint64(0xFFFF)).astype(np.int64)
    # per-row rank by (count desc, pair desc) — the deterministic tie order
    # companions._fsst_table uses (lexsort is stable on both sides)
    order = np.lexsort((-grp_pair, -cnt, grp_row))
    srow = grp_row[order]
    row_first = np.concatenate([[0], np.flatnonzero(srow[1:] != srow[:-1]) + 1])
    seg_len = np.diff(np.concatenate([row_first, [srow.size]]))
    rank = np.arange(srow.size, dtype=np.int64) - np.repeat(row_first, seg_len)
    take_ranked = (rank < companions._FSST_MAX_SYMBOLS) & (cnt[order] >= 3)
    take = np.zeros(G, dtype=bool)
    take[order] = take_ranked
    k = np.bincount(grp_row[take], minlength=R).astype(np.int64)
    k_off = np.concatenate([[0], np.cumsum(k)])
    # code of a taken group = its ascending-pair rank within the row's taken
    # set; uniq is (row, pair)-ascending, so taken groups are already in
    # symbol-table order — one global cumsum gives the table index
    code_by_group = np.cumsum(take, dtype=np.int64) - 1 - k_off[grp_row]
    in_table = take[inverse]                 # per pair, original order
    n_hit = _seg_sum(in_table.astype(np.int64), pair_off)
    bm_len = (m + 7) // 8
    sizes = np.where(nr > 0, 1 + 2 * k + bm_len + n_hit + 2 * (m - n_hit), 0)
    out_offsets = np.concatenate([[0], np.cumsum(sizes)])
    out = np.empty(int(out_offsets[-1]), dtype=np.uint8)
    live = nr > 0
    out[out_offsets[:-1][live]] = k[live].astype(np.uint8)
    # symbol tables (ascending u16 LE per row)
    table_bytes = grp_pair[take].astype("<u2").view(np.uint8)
    _place_segments(out, table_bytes, 2 * k_off, out_offsets[:-1] + 1)
    # escape bitmap: per-row byte-aligned LSB-first bits (1 = literal),
    # matching np.packbits(~in_table, bitorder='little') per row
    bm_off = np.concatenate([[0], np.cumsum(bm_len)])
    dense = np.zeros(int(bm_off[-1]) * 8, dtype=np.uint8)
    intra_pair = np.arange(int(pair_off[-1]), dtype=np.int64) - np.repeat(
        pair_off[:-1], m)
    dense[np.repeat(8 * bm_off[:-1], m) + intra_pair] = (~in_table).view(np.uint8)
    bitmap = np.packbits(dense, bitorder="little")
    _place_segments(out, bitmap, bm_off, out_offsets[:-1] + 1 + 2 * k)
    # hit codes then escape literals, each row-major in stream order
    hit_codes = code_by_group[inverse][in_table].astype(np.uint8)
    hit_off = np.concatenate([[0], np.cumsum(n_hit)])
    _place_segments(out, hit_codes, hit_off,
                    out_offsets[:-1] + 1 + 2 * k + bm_len)
    lit_bytes = pairs[~in_table].astype("<u2").view(np.uint8)
    lit_off = np.concatenate([[0], np.cumsum(2 * (m - n_hit))])
    _place_segments(out, lit_bytes, lit_off,
                    out_offsets[:-1] + 1 + 2 * k + bm_len + n_hit)
    return out, out_offsets


def _fsst_decode_rows(enc: np.ndarray, enc_offsets: np.ndarray,
                      n_toks: np.ndarray):
    """Inverse of _fsst_encode_rows, whole-batch: per-pair bitmap-bit gather
    classifies hit vs literal; segmented exclusive scans index each pair
    into its row's code / literal stream; table lookups are flat gathers."""
    n_toks = np.asarray(n_toks, dtype=np.int64)
    offsets = np.concatenate([[0], np.cumsum(n_toks)])
    live = np.flatnonzero(n_toks > 0)
    if live.size == 0:
        return np.zeros(0, dtype=np.uint32), offsets
    starts = enc_offsets[:-1][live]
    k = enc[starts].astype(np.int64)
    nr = n_toks[live]
    m = 2 * nr
    bm_len = (m + 7) // 8
    bm_start = starts + 1 + 2 * k
    pair_off = np.concatenate([[0], np.cumsum(m)])
    P = int(pair_off[-1])
    intra = np.arange(P, dtype=np.int64) - np.repeat(pair_off[:-1], m)
    bm_byte = np.repeat(bm_start, m) + (intra >> 3)
    is_lit = ((enc[bm_byte] >> (intra & 7).astype(np.uint8)) & 1).astype(bool)
    hits = ~is_lit
    n_hit = _seg_sum(hits.astype(np.int64), pair_off)
    hit_base = np.concatenate([[0], np.cumsum(n_hit)])[:-1]
    lit_base = np.concatenate([[0], np.cumsum(m - n_hit)])[:-1]
    hit_rank = np.cumsum(hits) - 1    # global hit index (valid at hits)
    lit_rank = np.cumsum(is_lit) - 1
    codes_start = bm_start + bm_len
    lit_start = codes_start + n_hit
    pairs16 = np.empty(P, dtype=np.uint32)
    code_pos = (np.repeat(codes_start - hit_base, m) + hit_rank)[hits]
    code = enc[code_pos].astype(np.int64)
    tpos = np.repeat(starts + 1, m)[hits] + 2 * code
    pairs16[hits] = enc[tpos].astype(np.uint32) | (
        enc[tpos + 1].astype(np.uint32) << np.uint32(8))
    lit_pos = (np.repeat(lit_start - 2 * lit_base, m) + 2 * lit_rank)[is_lit]
    pairs16[is_lit] = enc[lit_pos].astype(np.uint32) | (
        enc[lit_pos + 1].astype(np.uint32) << np.uint32(8))
    # rows hold an even pair count (m = 2n), so the global low/high
    # interleave reconstructs each value from its own row's pairs
    vals = pairs16[0::2] | (pairs16[1::2] << np.uint32(16))
    # live rows' values are contiguous and in row order: vals IS the output
    return vals, offsets


def _rle_costs(flat: np.ndarray, offsets: np.ndarray,
               lens1234: np.ndarray) -> np.ndarray:
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    if flat.size == 0:
        return np.zeros(nr.size, dtype=np.int64)
    is_start = _scratch("rle_start", flat.size, np.uint8)
    is_start[0] = 1
    np.not_equal(flat[1:], flat[:-1], out=is_start[1:].view(bool))
    row_starts = offsets[:-1][nr > 0]
    is_start[row_starts] = 1
    # run-value byte lengths without gathering run_vals: a run's value is the
    # element AT the run start, so masking lens1234 by is_start sums exactly
    # the per-run value lengths
    sz_val_data = _seg_sum(lens1234 * is_start, offsets)
    runs_per_row = _seg_sum(is_start, offsets)
    rkey = (runs_per_row + 3) // 4
    sz_vals = rkey + sz_val_data
    sz_lens = rkey + _run_len_bytes(is_start, nr, runs_per_row)
    return 8 + sz_vals + sz_lens


def _run_len_bytes(is_start: np.ndarray, nr: np.ndarray,
                   runs_per_row: np.ndarray) -> np.ndarray:
    """Per-row svb data bytes of the run lengths: one per run, and more
    only for runs longer than 255.  Such a run leaves at least 31 aligned
    8-byte words of is_start all zero, so a batch without that stretch
    (any batch of rows shorter than 256) never locates its runs."""
    if int(nr.max()) > 255:
        V = is_start.size
        zero = is_start[:V - V % 8].view(np.uint64) == 0
        c = np.zeros(zero.size + 1, dtype=np.int32)
        np.cumsum(zero, out=c[1:])
        if (c[31:] - c[:-31] == 31).any():
            run_pos = np.flatnonzero(is_start)
            # run lengths: distance to next run start (row boundaries
            # always start runs so lengths never cross rows)
            run_lens = np.empty(run_pos.size, dtype=np.uint32)
            np.subtract(run_pos[1:], run_pos[:-1], out=run_lens[:-1],
                        casting="unsafe")
            run_lens[-1] = V - run_pos[-1]
            run_offsets = np.concatenate([[0], np.cumsum(runs_per_row)])
            return _seg_sum(core._lens_1234(run_lens), run_offsets)
    return runs_per_row


# ------------------------------------------------------------ public facades

_SVB_FAMILY = np.array([CODEC_ID[n] for n in ("svb", "svb0124", "svb_delta")],
                       dtype=np.int32)
# per-value data lengths of each svb-family codec (svb_delta: of the deltas)
_SVB_LENS = {"svb": core._lens_1234, "svb0124": core._lens_0124,
             "svb_delta": core._lens_1234}


def encode_rows(flat: np.ndarray, offsets: np.ndarray, codec: str = "auto",
                candidates: tuple[str, ...] = VECTOR_COST_CODECS):
    """Encode each row with `codec` (or per-row argmin when 'auto').

    Returns (out_bytes: uint8[], out_offsets: int64[R+1], codec_ids: int32[R]).

    Cost pass -> layout -> one pass: the selected costs (``cost ==
    len(encode)``) give out_offsets before any byte is written; ONE
    _svb_encode_rows pass writes every svb-family row into its slot, then
    each other codec's ``_ENCODERS`` kernel fills its slots, and row sizes
    that differ from the costs raise ValueError naming the codec and row.
    A fixed codec is the same flow with one group: svb-family lengths size
    its layout, any other kernel's output is returned as is."""
    flat = np.ascontiguousarray(flat, dtype=np.uint32)
    offsets = np.asarray(offsets, dtype=np.int64)
    R = offsets.size - 1
    nr = offsets[1:] - offsets[:-1]
    live = nr > 0
    if codec in ("auto", "auto_sorted"):
        costs, lens, deltas = _row_costs(flat, offsets, candidates, prune=True)
        pick = np.argmin(costs, axis=1)  # first minimum = candidate priority
        names = np.array([CODEC_ID[c] for c in candidates], dtype=np.int32)
        codec_ids = names[pick]
        sizes = costs[np.arange(R), pick]
        if codec == "auto_sorted":
            # Elias-Fano joins the argmin only on rows where it is defined
            # (non-decreasing) and STRICTLY smaller — a tie keeps the
            # standard candidate priority, and the selected size equals the
            # oracle's least() either way
            ef = _ef_cost_rows(flat, offsets)
            eligible = row_sorted_mask(flat, offsets) & (ef < sizes)
            codec_ids[eligible] = CODEC_ID["ef"]
            sizes[eligible] = ef[eligible]
        codec_ids[~live] = CODEC_ID["svb"]
    else:
        codec_ids = np.full(R, CODEC_ID[codec], dtype=np.int32)
        sizes, lens, deltas = None, {}, None
    svb_rows = np.isin(codec_ids, _SVB_FAMILY) & live
    if svb_rows.any():
        vals, vlens = _svb_family_values(flat, offsets, codec_ids, svb_rows,
                                         lens, deltas)
        if sizes is None:
            sizes = np.where(live, (nr + 3) // 4 + _seg_sum(vlens, offsets), 0)
    out_offsets = None
    if sizes is not None:
        out_offsets = np.zeros(R + 1, dtype=np.int64)
        np.cumsum(sizes, out=out_offsets[1:])
        # +4: the svb pass's last 4-byte store may spill past the end
        out = np.empty(int(out_offsets[-1]) + 4, dtype=np.uint8)
    if svb_rows.any():
        _svb_encode_rows(vals, offsets, codec_ids == CODEC_ID["svb0124"],
                         vlens, out, out_offsets, ~svb_rows)
    for cid in np.unique(codec_ids[live & ~svb_rows]):
        name = CODEC_NAMES[cid]
        if not (live & (codec_ids != cid)).any():
            # the group holds every nonempty row, and empty rows encode to
            # nothing in every kernel: the whole-batch output IS the layout
            enc, eoff = _ENCODERS[name](flat, offsets)
            if sizes is not None:
                _check_slots(name, np.arange(R), np.diff(eoff), sizes)
            return enc, eoff, codec_ids
        rows = np.flatnonzero(codec_ids == cid)
        enc, eoff = _ENCODERS[name](*_subset_rows(flat, offsets, rows))
        _check_slots(name, rows, np.diff(eoff), sizes[rows])
        _place_segments(out, enc, eoff, out_offsets[:-1][rows])
    if out_offsets is None:  # a fixed codec over an all-empty batch
        return np.zeros(0, np.uint8), np.zeros(R + 1, dtype=np.int64), codec_ids
    return out[:int(out_offsets[-1])], out_offsets, codec_ids


def _svb_family_values(flat, offsets, codec_ids, svb_rows, lens, deltas):
    """(values, per-value data lengths) for the one svb-family pass:
    deltas replace the values on svb_delta rows only, each svb-family row
    takes its codec's lengths (computed here unless ``lens`` already holds
    them from the cost pass), and every other row's values get length 0."""
    nr = offsets[1:] - offsets[:-1]
    masks = {n: svb_rows & (codec_ids == CODEC_ID[n]) for n in _SVB_LENS}
    masks = {n: m for n, m in masks.items() if m.any()}
    if "svb_delta" in masks and deltas is None:
        deltas = _row_deltas(flat, offsets)
    src = {n: deltas if n == "svb_delta" else flat for n in masks}
    lens = {n: lens[n] if n in lens else _SVB_LENS[n](src[n]) for n in masks}
    if len(masks) == 1 and np.array_equal(svb_rows, nr > 0):
        (n,) = masks
        return src[n], lens[n]
    vlens = _scratch("enc_vlens", flat.size, np.uint8)
    vlens[:] = 0
    for n, m in masks.items():
        np.copyto(vlens, lens[n], where=np.repeat(m, nr))
    if "svb_delta" not in masks:
        return flat, vlens
    vals = _scratch("enc_vals", flat.size, np.uint32)
    np.copyto(vals, flat)
    np.copyto(vals, deltas, where=np.repeat(masks["svb_delta"], nr))
    return vals, vlens


def _check_slots(name, rows, got, want):
    """The layout trusts the cost matrix: a kernel's row sizes must equal
    the slots the costs gave them, or the bytes would land shifted."""
    bad = np.flatnonzero(got != want)
    if bad.size:
        i = int(bad[0])
        raise ValueError(
            f"{name} encoded row {int(rows[i])} to {int(got[i])} bytes, but "
            f"its cost gave a {int(want[i])}-byte slot")


def decode_rows(enc: np.ndarray, enc_offsets: np.ndarray, n_toks: np.ndarray,
                codec_ids: np.ndarray):
    """Decode each row; returns (flat uint32[], offsets int64[R+1]).

    One-pass svb-family contract: every svb, svb0124 and svb_delta row of a
    batch, mixed or not, decodes in ONE _svb_decode_rows pass that reads
    the rows in place from ``enc`` (no per-codec subset copy), picks each
    row's length table by its codec and writes every value straight to its
    final slot; the per-row prefix sum then runs over the svb_delta rows
    only.  Each other codec decodes its rows through one ``_DECODERS``
    kernel call and is scattered into place."""
    return _decode_rows(enc, enc_offsets, n_toks, codec_ids, None)


def decode_prefix_rows(enc: np.ndarray, enc_offsets: np.ndarray,
                       n_toks: np.ndarray, codec_ids: np.ndarray,
                       max_len: int):
    """Decode only the FIRST min(max_len, n_tok) tokens of each row — the
    truncate-to-max-seq-len operator of a training pipeline, done without
    decoding the tail.

    svb-family rows (svb / svb0124 / svb_delta) use the true prefix path
    of decode_rows' one pass: control bytes address the prefix's data bytes
    directly, so work and output are O(prefix), not O(n_tok) (svb_delta's
    prefix sum is prefix-local: value i depends only on values <= i).
    Codecs whose layout is not prefix-addressable without the header (dict
    tables, RLE runs, bit-packed words) decode fully and truncate — correct,
    just not cheaper.  Returns (flat uint32[], offsets int64[R+1]) with
    per-row length min(max_len, n_tok)."""
    n_toks = np.asarray(n_toks, dtype=np.int64)
    return _decode_rows(enc, enc_offsets, n_toks, codec_ids,
                        np.minimum(n_toks, max_len))


def _decode_rows(enc, enc_offsets, n_toks, codec_ids, n_values):
    """decode_rows (n_values None) and decode_prefix_rows share this."""
    enc = np.ascontiguousarray(enc, dtype=np.uint8)
    enc_offsets = np.asarray(enc_offsets, dtype=np.int64)
    n_toks = np.asarray(n_toks, dtype=np.int64)
    codec_ids = np.asarray(codec_ids, dtype=np.int32)
    if codec_ids.size and (codec_ids.min() < 0
                           or codec_ids.max() >= len(CODEC_NAMES)):
        bad = codec_ids[(codec_ids < 0) | (codec_ids >= len(CODEC_NAMES))]
        raise ValueError(f"unknown codec id {int(bad[0])}")
    other = ~np.isin(codec_ids, _SVB_FAMILY)
    flat, offsets = _svb_decode_rows(
        enc, enc_offsets, n_toks, codec_ids == CODEC_ID["svb0124"], n_values,
        skip=other, delta=codec_ids == CODEC_ID["svb_delta"])
    for cid in np.unique(codec_ids[other]):
        rows = np.flatnonzero(codec_ids == cid)
        whole = rows.size == n_toks.size
        sub_enc, sub_eoff = ((enc, enc_offsets) if whole
                             else _subset_bytes(enc, enc_offsets, rows))
        vals, voff = _DECODERS[CODEC_NAMES[cid]](sub_enc, sub_eoff, n_toks[rows])
        if n_values is not None:
            vals, voff = subset_prefix(vals, voff, n_values[rows])
        if whole:
            return vals, voff
        flat[_row_positions(offsets, rows)[0]] = vals
    return flat, offsets


def subset_prefix(flat: np.ndarray, offsets: np.ndarray, kk: np.ndarray):
    """First kk[r] values of each row (vectorized truncate)."""
    out_off = np.concatenate([[0], np.cumsum(kk)])
    intra = np.arange(int(out_off[-1]), dtype=np.int64) - np.repeat(out_off[:-1], kk)
    return flat[np.repeat(offsets[:-1], kk) + intra], out_off


def _segmented_cumsum_u32(d: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row uint32 wrap-around prefix sums (prev=0 per row)."""
    if d.size == 0:
        return d
    g = np.cumsum(d, dtype=np.uint32)
    base = _row_base_at(g, np.asarray(offsets[:-1], dtype=np.int64))
    nr = offsets[1:] - offsets[:-1]
    g -= np.repeat(base, nr)
    return g


def _row_positions(offsets: np.ndarray, rows: np.ndarray):
    """Flat positions of the given rows' elements, in row order, and the
    subset's own offsets."""
    nr = offsets[1:] - offsets[:-1]
    sub_nr = nr[rows]
    sub_off = np.zeros(rows.size + 1, dtype=np.int64)
    np.cumsum(sub_nr, out=sub_off[1:])
    idx = (_cached_arange(int(sub_off[-1]), np.intp)
           + np.repeat(offsets[:-1][rows] - sub_off[:-1], sub_nr))
    return idx, sub_off


def _subset_rows(flat, offsets, rows):
    idx, sub_off = _row_positions(offsets, rows)
    return flat[idx], sub_off


def _subset_bytes(enc, enc_offsets, rows):
    return _subset_rows(enc, enc_offsets, rows)


# ------------------------------------------------------------ batched validate

def max_compressed_bytes_rows(n_toks: np.ndarray) -> np.ndarray:
    """Vectorized streamvbyte_max_compressedbytes
    (/root/reference/include/streamvbyte.h:33-39, = core.max_compressed_size
    per row): ceil(n/4) control bytes + 4n worst-case data + 16 decode pad."""
    n = np.asarray(n_toks, dtype=np.int64)
    return (n + 3) // 4 + 4 * n + 16


# ---------------------------------------------------- roundtrip fingerprint

# constants of queries._FP_BODY — the driver-gate scalar that proves
# decode(encode(x)) == x: fp = fold over tokens of ((acc*31 + t) mod p,
# normalized to [0, p)).  Both must stay in sync with the SQL text.
_FP_P = 1_000_000_007
_FP_B = 31
# block of positions sharing one weight table: value j of a block weighs
# 31^(-j) mod p, so the per-value weights are ONE broadcast table
_FP_BLOCK = 1 << 13
_FP_2_32 = (1 << 32) % _FP_P


def _fp_power_table(base: int, n: int, table: np.ndarray | None = None
                    ) -> np.ndarray:
    """base^k mod p for k < n (at least), grown from ``table`` by vectorized
    doubling: t[m:2m] = t[:m] * base^m mod p.  Entries are < p < 2^30, so
    every product stays < 2^60 in uint64."""
    t = np.ones(1, np.uint64) if table is None else table
    while t.size < n:
        step = np.uint64(pow(base, t.size, _FP_P))
        t = np.concatenate([t, t * step % np.uint64(_FP_P)])
    return t


# 31^(-j) and 31^j for j < _FP_BLOCK; 31^(i*_FP_BLOCK), grown on demand
_FP_INV_W = _fp_power_table(pow(_FP_B, -1, _FP_P), _FP_BLOCK)[:_FP_BLOCK]
_FP_POW_LO = _fp_power_table(_FP_B, _FP_BLOCK)[:_FP_BLOCK]
_fp_pow_hi = np.ones(1, np.uint64)


def _fp_pow(k: np.ndarray) -> np.ndarray:
    """31^k mod p for an int64 array k >= 0 (k = hi*_FP_BLOCK + lo)."""
    global _fp_pow_hi
    hi = k // _FP_BLOCK
    need = int(hi.max()) + 1 if hi.size else 1
    if _fp_pow_hi.size < need:
        _fp_pow_hi = _fp_power_table(pow(_FP_B, _FP_BLOCK, _FP_P), need,
                                     _fp_pow_hi)
    return _FP_POW_LO[k % _FP_BLOCK] * _fp_pow_hi[hi] % np.uint64(_FP_P)


def _fp_widen(u: np.ndarray) -> np.ndarray:
    """uint32 values -> uint64 copy in a zero-padded whole-block scratch
    (the block reshape of _fp_fold needs the padding)."""
    nb = -(-u.size // _FP_BLOCK)
    x = _scratch("fp_x", nb * _FP_BLOCK, np.uint64)
    x[:u.size] = u
    x[u.size:] = 0
    return x


def _fp_fold(x: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row fold of the UNSIGNED values widened into x (by _fp_widen;
    consumed in place): fp_r = sum_g x_g * 31^(e_r - 1 - g) mod p, with e_r
    the row's end; offsets start at 0.

    31^(e-1-g) = 31^(e-1-bB) * 31^-(g-bB) for the block b holding g (block
    size B): the per-value factor depends on the position inside the block
    only, so per-value work is one broadcast multiply by the block weight
    table, and everything that depends on the row — its end, the block —
    moves to one factor per (row, block) segment.  Products stay < 2^62
    and a segment holds <= B values, so its sum is exact as a wrapped
    uint64 sum plus the sum of the products' high words.  No per-value
    division, no per-value exponent array."""
    V = int(offsets[-1])
    R = offsets.size - 1
    fp = np.zeros(R, dtype=np.int64)
    if V == 0:
        return fp
    x.reshape(-1, _FP_BLOCK)[...] *= _FP_INV_W
    x = x[:V]
    live = np.flatnonzero(offsets[1:] > offsets[:-1])
    row_starts = offsets[:-1][live]
    starts = np.union1d(row_starts, np.arange(0, V, _FP_BLOCK))
    seg_row = live[np.searchsorted(row_starts, starts, side="right") - 1]
    total = np.add.reduceat(x, starts)
    x >>= np.uint64(32)
    high = np.add.reduceat(x, starts)
    low = total - (high << np.uint64(32))
    part = (high % np.uint64(_FP_P) * np.uint64(_FP_2_32) + low) % np.uint64(_FP_P)
    part = part * _fp_pow(offsets[seg_row + 1] - 1
                          - starts // _FP_BLOCK * _FP_BLOCK) % np.uint64(_FP_P)
    first = np.flatnonzero(np.diff(seg_row, prepend=-1))
    fp[live] = (np.add.reduceat(part, first) % np.uint64(_FP_P)).astype(np.int64)
    return fp


def _fp_unsigned(flat: np.ndarray) -> tuple[np.ndarray, bool]:
    """(uint32 values congruent to the tokens mod 2^32, any negative?) —
    int64 inputs outside int32 are reduced mod p first (still congruent
    mod p, and never negative)."""
    flat = np.asarray(flat)
    if flat.dtype.itemsize == 4:
        u = flat.view(np.uint32)
        return u, flat.dtype.kind == "i" and bool(u.size) and int(u.max()) >= 1 << 31
    if flat.size and (int(flat.min()) < -(1 << 31) or int(flat.max()) >= 1 << 31):
        return np.remainder(flat.astype(np.int64), _FP_P).astype(np.uint32), False
    return _fp_unsigned(flat.astype(np.int32))


def _fp_signed(fp_u, u, offsets, negative):
    """Fold of the SIGNED values from the fold of their uint32 views: a
    negative t is u - 2^32, so subtract 2^32 times the fold of the
    negative-value indicator (only when the batch has a negative value)."""
    if not negative:
        return fp_u
    fp_neg = _fp_fold(_fp_widen(u >> np.uint32(31)), offsets)
    return (fp_u + (_FP_P - _FP_2_32) * fp_neg) % _FP_P


def fingerprint_rows(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row polynomial fingerprint, bit-identical to the SQL fold
    ``aggregate(tokens, 0L, (acc, t) -> ((acc*31 + t) % p + p) % p)``
    (queries._FP_BODY) that the DuckDB oracles compute over the ORIGINAL
    tokens.  ``flat`` carries the SIGNED token values (int32 view for
    decoded streams — zigzag rows are negative); empty rows fold to 0.

    Closed form per row: fp = (sum_j t_j * 31^(L-1-j)) mod p — equal to
    the left fold because mod is a ring homomorphism — evaluated by
    _fp_fold over the uint32 views, with the sign handled per row
    (_fp_signed).  Replaces the interpreted CodegenFallback ``aggregate()``
    pass (~10x/element; CLAUDE.md) that previously taxed every round-trip
    query."""
    offsets = np.asarray(offsets, dtype=np.int64)
    if not offsets.size:
        return np.zeros(0, dtype=np.int64)
    base = int(offsets[0])
    offsets = offsets - base
    u, negative = _fp_unsigned(np.asarray(flat)[base:base + int(offsets[-1])])
    return _fp_signed(_fp_fold(_fp_widen(u), offsets), u, offsets, negative)


def checksum_fingerprint_rows(flat: np.ndarray, offsets: np.ndarray
                              ) -> tuple[np.ndarray, np.ndarray]:
    """(per-row checksum, per-row fingerprint) of uint32 decoded values
    sharing ONE widening pass: the checksum (encode_table's per-row sum of
    the uint32 token values, mod 2^64 as int64) is summed from the widened
    values before _fp_fold multiplies them in place.  The fingerprint reads
    the values as signed int32, like fingerprint_rows(flat.view(int32)).
    offsets start at 0, as decode_rows returns them."""
    offsets = np.asarray(offsets, dtype=np.int64)
    u, negative = _fp_unsigned(
        np.asarray(flat).view(np.int32)[:int(offsets[-1])])
    x = _fp_widen(u)
    checksum = _seg_sum(x[:u.size].view(np.int64), offsets)
    return checksum, _fp_signed(_fp_fold(x, offsets), u, offsets, negative)


def truncate_rows(enc: np.ndarray, enc_offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Drop the LAST byte of every nonempty row segment (corrupt-stream test
    harness: any valid nonzero-count stream becomes length-inconsistent)."""
    enc = np.asarray(enc, dtype=np.uint8)
    off = np.asarray(enc_offsets, dtype=np.int64)
    lens = off[1:] - off[:-1]
    keep = np.ones(enc.size, dtype=bool)
    ends = off[1:][lens > 0]
    keep[ends - 1] = False
    new_off = np.zeros(off.size, dtype=np.int64)
    np.cumsum(lens - (lens > 0), out=new_off[1:])
    return enc[keep], new_off


def validate_rows(enc: np.ndarray, enc_offsets: np.ndarray, n_toks: np.ndarray,
                  scheme0124: bool = False) -> np.ndarray:
    """Per-row streamvbyte_validate_stream (src/streamvbyte_decode.c:89-136):
    row is valid iff its control bytes' length sum matches its data length.
    Returns bool[R]. Vectorized across all rows of the batch, with the
    rows' control bytes read in place through the decoder's quad tables."""
    enc = np.ascontiguousarray(enc, dtype=np.uint8)
    enc_offsets = np.asarray(enc_offsets, dtype=np.int64)
    n_toks = np.asarray(n_toks, dtype=np.int64)
    sizes = enc_offsets[1:] - enc_offsets[:-1]
    key_len = (n_toks + 3) // 4
    # reference empty rules: inCount==0 or outCount==0 -> inCount == outCount
    valid = np.zeros(n_toks.size, dtype=bool)
    empty = (sizes == 0) | (n_toks == 0)
    valid[empty] = (sizes[empty] == n_toks[empty])
    check = np.flatnonzero(~empty & (sizes >= key_len))
    if check.size:
        lut, qs = _quad_index(enc, enc_offsets[:-1][check], key_len[check],
                              scheme0124)
        data = _quad_data_len(lut, qs, n_toks[check])[1]
        valid[check] = key_len[check] + data == sizes[check]
    return valid


# ----------------------------------------------------- signed (zigzag) streams

def encode_signed_rows(flat_i32: np.ndarray, offsets: np.ndarray, delta: bool = False):
    """int32 rows -> zigzag (optionally per-row delta, prev=0) -> svb 1234.

    Codec names: 'svb_zigzag' / 'svb_zz_delta' (reference
    src/streamvbyte_zigzag.c:8-38 semantics, batched)."""
    u = np.ascontiguousarray(flat_i32, dtype=np.int32).view(np.uint32)
    if delta:
        u = _row_deltas(u, np.asarray(offsets, dtype=np.int64))
    zz = core.zigzag_encode(u.view(np.int32))
    return _svb_encode_rows(zz, np.asarray(offsets, dtype=np.int64), False)


def decode_signed_rows(enc: np.ndarray, enc_offsets: np.ndarray, n_toks: np.ndarray,
                       delta: bool = False):
    """Inverse of encode_signed_rows; returns (flat int32, offsets)."""
    vals, offsets = _svb_decode_rows(np.ascontiguousarray(enc, dtype=np.uint8),
                                     np.asarray(enc_offsets, dtype=np.int64),
                                     np.asarray(n_toks, dtype=np.int64), False)
    u = core.zigzag_decode(vals).view(np.uint32)
    if delta:
        u = _segmented_cumsum_u32(u, offsets)
    return u.view(np.int32), offsets


# --------------------------------------------- delta streams with prev chains

def encode_delta_rows_prev(flat: np.ndarray, offsets: np.ndarray,
                           prev: np.ndarray):
    """svb_delta with a per-row prev seed (chunked sequences): row r encodes
    diffs vs prev[r] (uint32 wraparound), matching streamvbyte_delta_encode's
    out-of-band prev (include/streamvbytedelta.h:17-19)."""
    flat = np.ascontiguousarray(flat, dtype=np.uint32)
    offsets = np.asarray(offsets, dtype=np.int64)
    prev = np.asarray(prev).astype(np.int64).astype(np.uint32)
    d = np.empty_like(flat)
    if flat.size:
        d[1:] = flat[1:] - flat[:-1]
        nr = offsets[1:] - offsets[:-1]
        starts = offsets[:-1][nr > 0]
        d[starts] = flat[starts] - prev[nr > 0]
    return _svb_encode_rows(d, offsets, False)


def decode_delta_rows_prev(enc: np.ndarray, enc_offsets: np.ndarray,
                           n_toks: np.ndarray, prev: np.ndarray,
                           n_values: np.ndarray | None = None):
    """Inverse: decode then per-row prefix sum seeded at prev[r].

    n_values (optional) decodes only each row's first min(n_values, n_tok)
    tokens — valid for delta streams because value i depends only on deltas
    <= i, so a prefix of the stream reconstructs a prefix of the tokens."""
    out, offsets = _svb_decode_rows(np.ascontiguousarray(enc, dtype=np.uint8),
                                    np.asarray(enc_offsets, dtype=np.int64),
                                    np.asarray(n_toks, dtype=np.int64), False,
                                    n_values=n_values, delta=True)
    nr = offsets[1:] - offsets[:-1]
    out += np.repeat(np.asarray(prev).astype(np.int64).astype(np.uint32), nr)
    return out, offsets


# ----------------------------------------------------------------- batched rle

def _rle_runs(flat: np.ndarray, offsets: np.ndarray):
    """Global run extraction (runs never cross row boundaries)."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    is_start = np.ones(flat.size, dtype=bool)
    is_start[1:] = flat[1:] != flat[:-1]
    row_starts = offsets[:-1][nr > 0]
    is_start[row_starts] = True
    run_pos = np.flatnonzero(is_start)
    run_vals = flat[run_pos]
    run_ends = np.concatenate([run_pos[1:], [flat.size]])
    run_lens = (run_ends - run_pos).astype(np.uint32)
    runs_per_row = _seg_sum(is_start.astype(np.int64), offsets)
    run_offsets = np.concatenate([[0], np.cumsum(runs_per_row)])
    return run_vals, run_lens, runs_per_row, run_offsets


def _place_segments(out, seg, seg_offsets, dest_starts):
    """Copy per-row segments of `seg` into `out` at per-row dest_starts."""
    sizes = seg_offsets[1:] - seg_offsets[:-1]
    total = int(seg_offsets[-1])
    if total == 0:
        return
    intra = np.arange(total, dtype=np.int64) - np.repeat(seg_offsets[:-1], sizes)
    out[np.repeat(dest_starts, sizes) + intra] = seg[:total]


def _rle_encode_rows(flat: np.ndarray, offsets: np.ndarray):
    """Batched RLE (same byte layout as companions.rle_encode): per row
    [nruns u32 LE][len(svb vals) u32 LE][svb(run values)][svb(run lengths)]."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    R = nr.size
    if flat.size == 0:
        return np.zeros(0, np.uint8), np.zeros(R + 1, dtype=np.int64)
    run_vals, run_lens, runs_per_row, run_offsets = _rle_runs(flat, offsets)
    sv, svo = _svb_encode_rows(run_vals, run_offsets, False)
    sl, slo = _svb_encode_rows(run_lens, run_offsets, False)
    svsz = svo[1:] - svo[:-1]
    slsz = slo[1:] - slo[:-1]
    sizes = np.where(nr > 0, 8 + svsz + slsz, 0)
    out_offsets = np.concatenate([[0], np.cumsum(sizes)])
    out = np.empty(int(out_offsets[-1]), dtype=np.uint8)
    live = nr > 0
    hdr_idx = (out_offsets[:-1][live, None] + np.arange(4, dtype=np.int64))
    out[hdr_idx] = runs_per_row[live].astype("<u4").view(np.uint8).reshape(-1, 4)
    out[hdr_idx + 4] = svsz[live].astype("<u4").view(np.uint8).reshape(-1, 4)
    _place_segments(out, sv, svo, out_offsets[:-1] + 8)
    _place_segments(out, sl, slo, out_offsets[:-1] + 8 + svsz)
    return out, out_offsets


def _rle_decode_rows(enc: np.ndarray, enc_offsets: np.ndarray, n_toks: np.ndarray):
    """Inverse of _rle_encode_rows, whole-batch."""
    n_toks = np.asarray(n_toks, dtype=np.int64)
    offsets = np.concatenate([[0], np.cumsum(n_toks)])
    live = np.flatnonzero(n_toks > 0)
    if live.size == 0:
        return np.zeros(0, dtype=np.uint32), offsets
    starts = enc_offsets[:-1][live]
    nruns = enc[(starts[:, None] + np.arange(4, dtype=np.int64))].copy().view("<u4").ravel().astype(np.int64)
    len_sv = enc[(starts[:, None] + 4 + np.arange(4, dtype=np.int64))].copy().view("<u4").ravel().astype(np.int64)
    # gather the two concatenated sub-streams
    sv_off = np.concatenate([[0], np.cumsum(len_sv)])
    sv_cat = np.empty(int(sv_off[-1]), dtype=np.uint8)
    _gather_segments(sv_cat, enc, starts + 8, len_sv, sv_off)
    row_sizes = enc_offsets[1:] - enc_offsets[:-1]
    len_sl = row_sizes[live] - 8 - len_sv
    sl_off = np.concatenate([[0], np.cumsum(len_sl)])
    sl_cat = np.empty(int(sl_off[-1]), dtype=np.uint8)
    _gather_segments(sl_cat, enc, starts + 8 + len_sv, len_sl, sl_off)
    run_vals, _ = _svb_decode_rows(sv_cat, sv_off, nruns, False)
    run_lens, _ = _svb_decode_rows(sl_cat, sl_off, nruns, False)
    expanded = np.repeat(run_vals, run_lens.astype(np.int64))
    # expanded is concatenated in live-row order == the output's order
    if expanded.size != offsets[-1]:
        raise ValueError(f"rle runs expand to {expanded.size} values, "
                         f"n_tok sums to {int(offsets[-1])}")
    return expanded, offsets


def _gather_segments(dst, src, src_starts, sizes, dst_offsets):
    total = int(dst_offsets[-1])
    if total == 0:
        return
    intra = np.arange(total, dtype=np.int64) - np.repeat(dst_offsets[:-1], sizes)
    dst[:] = src[np.repeat(src_starts, sizes) + intra]


# ----------------------------------------- batched bit-pack / FOR / dictionary

def _pack_bits_rows(codes: np.ndarray, offsets: np.ndarray, widths: np.ndarray):
    """Per-row LSB-first bit packing with per-row widths; each row's section
    starts byte-aligned. Returns (packed bytes, byte offsets per row).

    Byte-multiple widths (8/16/24/32 — what bitpack/FOR pick for realistic
    value ranges) take a BYTE-lane scatter: <= 4 fancy-index stores over the
    value count, like the svb data scatter.  The per-bit fallback builds
    int64 index arrays PER BIT (~25 B of memory traffic per packed bit) —
    fine for the narrow widths that reach it (w < 8 -> < 8 index elements
    per value) but catastrophic for wide rows, where a 32-bit-wide batch
    cost ~40x the svb encode of the same values (measured)."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    widths = np.asarray(widths, dtype=np.int64)
    cb = (nr * widths + 7) // 8
    byte_off = np.concatenate([[0], np.cumsum(cb)])
    total = int(byte_off[-1])
    if total == 0:
        return np.zeros(0, np.uint8), byte_off
    aligned = (widths > 0) & (widths % 8 == 0) & (nr > 0)
    live = nr > 0
    out = np.zeros(total, dtype=np.uint8)
    arows = np.flatnonzero(aligned)
    if arows.size:
        _pack_bytes_aligned(codes, offsets, widths, byte_off, nr, out, arows)
    brows = np.flatnonzero(~aligned & live)
    if brows.size:
        sub_codes, sub_off = _subset_rows(codes, offsets, brows)
        sub_byte_off = np.concatenate([[0], np.cumsum(cb[brows])])
        packed = _pack_bits_dense(sub_codes, sub_off, widths[brows],
                                  sub_byte_off, nr[brows])
        _place_segments(out, packed, sub_byte_off, byte_off[:-1][brows])
    return out, byte_off


def _pack_bytes_aligned(codes, offsets, widths, byte_off, nr, out, rows):
    """Rows whose width is a byte multiple: value j of a row occupies bytes
    [j*nb, (j+1)*nb) of its section — one little-endian byte-lane scatter
    per possible byte (<= 4).

    Homogeneous fast path: when EVERY nonempty row is aligned at the SAME
    width, sections are consecutive and dst == bpv * arange(V), so the
    whole pack is ONE reshape copy (near-memcpy) — the dominant shape for
    bitpack/FOR-winning corpora (a uniform 16-bit batch measured ~25x over
    the masked lane scatters, r7)."""
    sub_nr = nr[rows]
    sub_off = np.concatenate([[0], np.cumsum(sub_nr)])
    m = int(sub_off[-1])
    if m == 0:
        return
    w_rows = widths[rows]
    if rows.size == int(np.count_nonzero(nr)) \
            and bool((w_rows == w_rows[0]).all()) and m == int(offsets[-1]):
        bpv0 = int(w_rows[0]) >> 3
        vb = np.ascontiguousarray(codes, dtype="<u4").view(np.uint8)
        out[:m * bpv0].reshape(m, bpv0)[:] = vb.reshape(m, 4)[:, :bpv0]
        return
    intra = np.arange(m, dtype=np.int64) - np.repeat(sub_off[:-1], sub_nr)
    vidx = np.repeat(offsets[:-1][rows], sub_nr) + intra
    vb = codes[vidx].astype("<u4").view(np.uint8).reshape(-1, 4)
    bpv = np.repeat(widths[rows] >> 3, sub_nr)
    dst = np.repeat(byte_off[:-1][rows], sub_nr) + intra * bpv
    for k in range(4):
        sel = bpv > k
        if not sel.any():
            break
        out[dst[sel] + k] = vb[sel, k]


def _pack_bits_dense(codes, offsets, widths, byte_off, nr):
    """Byte-window dense packing (narrow / unaligned widths).

    Each value's w bits become ONE shifted little-endian window of
    nb = (shift + w + 7) >> 3 <= 5 bytes OR'd into the output at its byte
    position — ~5 byte stores per VALUE, replacing the former per-bit
    formulation that materialized int64 index arrays per packed BIT
    (~25 B of memory traffic per bit; a 14-bit batch cost ~20x the svb
    encode of the same values).  Correctness constraints:

    * windows never cross a row's section boundary (a section holds
      ceil(nr*w/8) bytes, and a value's window covers only its own bits'
      bytes), so rows can be processed together;
    * fancy ``out[idx] |= v`` drops duplicate indices, so values of the
      same row are processed in stride groups: per width w, values
      k = 1 + ceil(29/w) apart have byte windows provably disjoint
      ((k*w - 7)/8 >= (w + 14)/8 + 1 >= nb_max), and values of DIFFERENT
      rows never share a byte.  Groups are per distinct width so a lone
      narrow row cannot force extra passes on the whole batch."""
    total = int(byte_off[-1])
    out = np.zeros(total, dtype=np.uint8)
    V = int(nr.sum())
    if V == 0:
        return out
    w_per_val = np.repeat(widths, nr)
    intra = np.arange(V, dtype=np.int64) - np.repeat(offsets[:-1], nr)
    bit0 = intra * w_per_val
    p = np.repeat(byte_off[:-1], nr) + (bit0 >> 3)
    s = (bit0 & 7)
    val64 = codes.astype(np.uint64) << s.astype(np.uint64)
    nb = (s + w_per_val + 7) >> 3
    # per-value stride class from a 33-entry width->stride LUT: one vector
    # modulo instead of a per-distinct-width group scan (np.unique over the
    # VALUE array was ~15% of the whole encode)
    lut = np.ones(33, dtype=np.int64)
    wv = np.arange(1, 33)
    lut[1:] = 1 + (29 + wv - 1) // wv
    m_per_val = lut[w_per_val]
    cls = intra % m_per_val
    cls[w_per_val == 0] = -1  # width-0 rows pack no bits
    for r in range(int(m_per_val.max())):
        sel = np.flatnonzero(cls == r)
        if not sel.size:
            continue
        pv, vv, nbv = p[sel], val64[sel], nb[sel]
        for k in range(int(nbv.max())):
            kk = nbv > k
            out[pv[kk] + k] |= ((vv[kk] >> np.uint64(8 * k))
                                & np.uint64(0xFF)).astype(np.uint8)
    return out


def _unpack_bits_rows(packed: np.ndarray, byte_off: np.ndarray, nr: np.ndarray,
                      widths: np.ndarray) -> np.ndarray:
    """Inverse of _pack_bits_rows; returns per-value codes (concatenated).
    Mirrors the aligned byte-lane / dense bit split."""
    nr = np.asarray(nr, dtype=np.int64)
    widths = np.asarray(widths, dtype=np.int64)
    V = int(nr.sum())
    if V == 0:
        return np.zeros(0, np.uint32)
    offsets = np.concatenate([[0], np.cumsum(nr)])
    out = np.zeros(V, dtype=np.uint32)
    aligned = (widths > 0) & (widths % 8 == 0) & (nr > 0)
    arows = np.flatnonzero(aligned)
    if arows.size:
        sub_nr = nr[arows]
        sub_off = np.concatenate([[0], np.cumsum(sub_nr)])
        m = int(sub_off[-1])
        w_rows = widths[arows]
        if arows.size == int(np.count_nonzero(nr)) \
                and bool((w_rows == w_rows[0]).all()) and m == V:
            # homogeneous fast path (mirror of _pack_bytes_aligned): all
            # sections consecutive at one width -> the unpack is one
            # zero-extended reshape copy, no index arrays
            bpv0 = int(w_rows[0]) >> 3
            tmp = np.zeros((m, 4), np.uint8)
            tmp[:, :bpv0] = packed[:m * bpv0].reshape(m, bpv0)
            out[:] = tmp.view("<u4").ravel()
        else:
            intra = np.arange(m, dtype=np.int64) \
                - np.repeat(sub_off[:-1], sub_nr)
            src = np.repeat(byte_off[:-1][arows], sub_nr) + intra * np.repeat(
                widths[arows] >> 3, sub_nr)
            bpv = np.repeat(widths[arows] >> 3, sub_nr)
            vals = np.zeros(m, dtype=np.uint32)
            for k in range(4):
                sel = bpv > k
                if not sel.any():
                    break
                vals[sel] |= packed[src[sel] + k].astype(np.uint32) \
                    << np.uint32(8 * k)
            out[np.repeat(offsets[:-1][arows], sub_nr) + intra] = vals
    brows = np.flatnonzero(~aligned & (nr > 0) & (widths > 0))
    if brows.size:
        sub_nr = nr[brows]
        sub_cb = (sub_nr * widths[brows] + 7) // 8
        sub_byte_off = np.concatenate([[0], np.cumsum(sub_cb)])
        # 8 spare zero bytes allocated HERE so the dense unpack's 5-byte
        # gather windows never read past the end — the previous per-call
        # np.concatenate pad copied the whole sub-stream on every decode
        # batch (O(stream) alloc+copy on the hot path; advice r6)
        sub_packed = np.empty(int(sub_byte_off[-1]) + 8, dtype=np.uint8)
        sub_packed[-8:] = 0
        _gather_segments(sub_packed[:int(sub_byte_off[-1])], packed,
                         byte_off[:-1][brows], sub_cb, sub_byte_off)
        vals = _unpack_bits_dense(sub_packed, sub_byte_off, sub_nr, widths[brows])
        sub_off = np.concatenate([[0], np.cumsum(sub_nr)])
        intra = np.arange(int(sub_off[-1]), dtype=np.int64) - np.repeat(
            sub_off[:-1], sub_nr)
        out[np.repeat(offsets[:-1][brows], sub_nr) + intra] = vals
    # width-0 rows decode to zeros (already the fill value)
    return out


def _unpack_bits_dense(packed: np.ndarray, byte_off: np.ndarray, nr: np.ndarray,
                       widths: np.ndarray) -> np.ndarray:
    """Byte-window dense unpacking: each value's bits live in <= 5
    consecutive bytes starting at its byte position, so the whole batch
    decodes in ONE pass of 5 vectorized gathers (reads conflict-free, no
    stride groups needed) — replacing the per-bit unpackbits+gather
    formulation (~16 B of traffic per BIT).

    CONTRACT: `packed` must carry >= 8 valid-to-read bytes past
    byte_off[-1] (the caller allocates the gather buffer with a zeroed
    8-byte tail) so the unconditional byte-lane gathers never read out of
    bounds — padding per call here copied the whole stream each batch."""
    V = int(nr.sum())
    codes = np.zeros(V, dtype=np.uint64)
    if V == 0:
        return codes.astype(np.uint32)
    if packed.size < int(byte_off[-1]) + 8:
        raise ValueError("_unpack_bits_dense needs an 8-byte padded buffer "
                         "(see _unpack_bits_rows)")
    offsets = np.concatenate([[0], np.cumsum(nr)])
    w_per_val = np.repeat(widths, nr)
    intra = np.arange(V, dtype=np.int64) - np.repeat(offsets[:-1], nr)
    bit0 = intra * w_per_val
    p = np.repeat(byte_off[:-1], nr) + (bit0 >> 3)
    s = (bit0 & 7)
    nb = (s + w_per_val + 7) >> 3
    src = packed
    # gather UNCONDITIONALLY for every byte lane up to the batch max:
    # a value whose window is narrower over-reads its neighbor's bytes,
    # but those bits sit at positions >= nb*8 >= s+w and the final width
    # mask drops them — no per-lane boolean compress needed
    for k in range(int(nb.max()) if V else 0):
        codes |= src[p + k].astype(np.uint64) << np.uint64(8 * k)
    codes >>= s.astype(np.uint64)
    mask = (np.uint64(1) << w_per_val.astype(np.uint64)) - np.uint64(1)
    return (codes & mask).astype(np.uint32)


def _bitpack_encode_rows(flat, offsets, frame_of_ref: bool):
    """Batched bitpack (header 1B width [+4B base for FOR]) per row."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    R = nr.size
    if flat.size == 0:
        return np.zeros(0, np.uint8), np.zeros(R + 1, dtype=np.int64)
    mx = _seg_reduce(np.maximum, flat, offsets).astype(np.int64)
    if frame_of_ref:
        mn = _seg_reduce(np.minimum, flat, offsets).astype(np.int64)
        base = mn.astype(np.uint32)
        shifted = flat - np.repeat(base, nr)
        widths = _exact_width(mx - mn)
        hdr = 5
    else:
        shifted = flat
        widths = _exact_width(mx)
        hdr = 1
    codes = shifted
    packed, pb_off = _pack_bits_rows(codes, offsets, widths)
    pb = pb_off[1:] - pb_off[:-1]
    sizes = np.where(nr > 0, hdr + pb, 0)
    out_offsets = np.concatenate([[0], np.cumsum(sizes)])
    out = np.empty(int(out_offsets[-1]), dtype=np.uint8)
    live = nr > 0
    out[out_offsets[:-1][live]] = widths[live].astype(np.uint8)
    if frame_of_ref:
        idx = out_offsets[:-1][live, None] + 1 + np.arange(4, dtype=np.int64)
        out[idx] = base[live].astype("<u4").view(np.uint8).reshape(-1, 4)
    _place_segments(out, packed, pb_off, out_offsets[:-1] + hdr)
    return out, out_offsets


def _bitpack_decode_rows(enc, enc_offsets, n_toks, frame_of_ref: bool):
    n_toks = np.asarray(n_toks, dtype=np.int64)
    offsets = np.concatenate([[0], np.cumsum(n_toks)])
    live = np.flatnonzero(n_toks > 0)
    if live.size == 0:
        return np.zeros(0, dtype=np.uint32), offsets
    starts = enc_offsets[:-1][live]
    widths = enc[starts].astype(np.int64)
    hdr = 5 if frame_of_ref else 1
    nr = n_toks[live]
    cb = (nr * widths + 7) // 8
    pb_off = np.concatenate([[0], np.cumsum(cb)])
    packed = np.empty(int(pb_off[-1]), dtype=np.uint8)
    _gather_segments(packed, enc, starts + hdr, cb, pb_off)
    codes = _unpack_bits_rows(packed, pb_off, nr, widths)
    if frame_of_ref:
        base = enc[(starts[:, None] + 1 + np.arange(4, dtype=np.int64))].copy().view("<u4").ravel()
        codes = codes + np.repeat(base, nr)
    return codes, offsets


def _ef_validate_rows(flat, offsets):
    """Loud per-row sortedness check (ef is only defined on non-decreasing
    rows) — the SAME mask as the auto_sorted eligibility gate, so the
    validator and the selector can never diverge."""
    ok = row_sorted_mask(flat, offsets)
    if not ok.all():
        raise ValueError(
            f"ef codec requires non-decreasing rows (row "
            f"{int(np.flatnonzero(~ok)[0])} is unsorted); "
            "use svb/svb_delta for unsorted values")


def _ef_params_rows(flat, offsets):
    """(nr, u, L) per row — L from the integer-division formula the DuckDB
    oracle reproduces (companions._ef_low_bits)."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    u = np.zeros(nr.size, dtype=np.int64)
    live = nr > 0
    u[live] = flat[offsets[1:][live] - 1]
    q = u // np.maximum(nr, 1)
    L = np.maximum(_exact_width(q) - 1, 0)
    return nr, u, L


def ef_encode_rows(flat, offsets):
    """Batched Elias-Fano: per-row layout 1B L + fixed-width low halves
    (byte-window _pack_bits_rows) + unary upper bit vector (one global
    scatter of n ones + packbits over the batch).

    PUBLIC cross-module contract (with ef_decode_rows / subset_prefix):
    operators/chunking.py builds the chunked-EF wire format on these —
    renaming or changing their signatures changes stored bytes."""
    _ef_validate_rows(flat, offsets)
    nr, u, L = _ef_params_rows(flat, offsets)
    R = nr.size
    if flat.size == 0:
        return np.zeros(0, np.uint8), np.zeros(R + 1, dtype=np.int64)
    L_per_val = np.repeat(L, nr)
    low_codes = (flat & ((np.uint32(1) << L_per_val.astype(np.uint32))
                         - np.uint32(1)))
    low_b, low_off = _pack_bits_rows(low_codes, offsets, L)
    lb = low_off[1:] - low_off[:-1]
    high = (flat >> L_per_val.astype(np.uint32)).astype(np.int64)
    up_bits = np.where(nr > 0, nr + (u >> L), 0)
    ub = (up_bits + 7) // 8
    # global unary bit vector: each row's section starts byte-aligned
    ub_bit_off = np.concatenate([[0], np.cumsum(ub)]) * 8
    V = int(offsets[-1])
    intra = np.arange(V, dtype=np.int64) - np.repeat(offsets[:-1], nr)
    pos = np.repeat(ub_bit_off[:-1], nr) + high + intra
    dense = np.zeros(int(ub_bit_off[-1]), dtype=np.uint8)
    dense[pos] = 1
    upper = np.packbits(dense, bitorder="little")
    sizes = np.where(nr > 0, 1 + lb + ub, 0)
    out_offsets = np.concatenate([[0], np.cumsum(sizes)])
    out = np.empty(int(out_offsets[-1]), dtype=np.uint8)
    live = nr > 0
    out[out_offsets[:-1][live]] = L[live].astype(np.uint8)
    _place_segments(out, low_b, low_off, out_offsets[:-1] + 1)
    _place_segments(out, upper, np.cumsum(np.concatenate([[0], ub])),
                    out_offsets[:-1] + 1 + lb)
    return out, out_offsets


def ef_decode_rows(enc, enc_offsets, n_toks):
    n_toks = np.asarray(n_toks, dtype=np.int64)
    offsets = np.concatenate([[0], np.cumsum(n_toks)])
    live = np.flatnonzero(n_toks > 0)
    if live.size == 0:
        return np.zeros(0, dtype=np.uint32), offsets
    starts = enc_offsets[:-1][live]
    L = enc[starts].astype(np.int64)
    nr = n_toks[live]
    lb = (nr * L + 7) // 8
    low_off = np.concatenate([[0], np.cumsum(lb)])
    low_b = np.empty(int(low_off[-1]), dtype=np.uint8)
    _gather_segments(low_b, enc, starts + 1, lb, low_off)
    low = _unpack_bits_rows(low_b, low_off, nr, L).astype(np.uint64)
    # upper sections: gather, one global little-endian unpack, then split
    # the ascending ones positions by row (exactly nr ones per section)
    ub = (enc_offsets[1:][live] - starts) - 1 - lb
    ub_off = np.concatenate([[0], np.cumsum(ub)])
    up_b = np.empty(int(ub_off[-1]), dtype=np.uint8)
    _gather_segments(up_b, enc, starts + 1 + lb, ub, ub_off)
    ones = np.flatnonzero(np.unpackbits(up_b, bitorder="little"))
    sub_off = np.concatenate([[0], np.cumsum(nr)])
    m = int(sub_off[-1])
    intra = np.arange(m, dtype=np.int64) - np.repeat(sub_off[:-1], nr)
    high = (ones - np.repeat(ub_off[:-1] * 8, nr) - intra).astype(np.uint64)
    vals = ((high << np.repeat(L, nr).astype(np.uint64)) | low) \
        .astype(np.uint32)
    return vals, offsets


def _dict_encode_rows(flat, offsets):
    """Batched dictionary codec (header 4B k + 4k B sorted uniques + packed
    codes). Per-row uniques via one global composite-key sort; per-element
    codes via one global searchsorted on the (row<<32 | value) key space."""
    nr = (offsets[1:] - offsets[:-1]).astype(np.int64)
    R = nr.size
    if flat.size == 0:
        return np.zeros(0, np.uint8), np.zeros(R + 1, dtype=np.int64)
    row_ids = np.repeat(np.arange(R, dtype=np.uint64), nr)
    key = (row_ids << np.uint64(32)) | flat.astype(np.uint64)
    skey = np.sort(key)
    new = np.ones(skey.size, dtype=bool)
    new[1:] = skey[1:] != skey[:-1]
    uniq_keys = skey[new]
    uniq_vals = (uniq_keys & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    k_per_row = _seg_sum(new.astype(np.int64), offsets)
    uniq_off = np.concatenate([[0], np.cumsum(k_per_row)])
    pos = np.searchsorted(uniq_keys, key)
    codes = (pos - np.repeat(uniq_off[:-1], nr)).astype(np.uint32)
    widths = _exact_width(np.maximum(k_per_row - 1, 0))
    packed, pb_off = _pack_bits_rows(codes, offsets, widths)
    pb = pb_off[1:] - pb_off[:-1]
    sizes = np.where(nr > 0, 4 + 4 * k_per_row + pb, 0)
    out_offsets = np.concatenate([[0], np.cumsum(sizes)])
    out = np.empty(int(out_offsets[-1]), dtype=np.uint8)
    live = nr > 0
    hdr_idx = out_offsets[:-1][live, None] + np.arange(4, dtype=np.int64)
    out[hdr_idx] = k_per_row[live].astype("<u4").view(np.uint8).reshape(-1, 4)
    ub_off = 4 * uniq_off
    _place_segments(out, uniq_vals.view(np.uint8), ub_off, out_offsets[:-1] + 4)
    _place_segments(out, packed, pb_off, out_offsets[:-1] + 4 + 4 * k_per_row)
    return out, out_offsets


def _dict_decode_rows(enc, enc_offsets, n_toks):
    n_toks = np.asarray(n_toks, dtype=np.int64)
    offsets = np.concatenate([[0], np.cumsum(n_toks)])
    live = np.flatnonzero(n_toks > 0)
    if live.size == 0:
        return np.zeros(0, dtype=np.uint32), offsets
    starts = enc_offsets[:-1][live]
    k = enc[(starts[:, None] + np.arange(4, dtype=np.int64))].copy().view("<u4").ravel().astype(np.int64)
    uniq_off = np.concatenate([[0], np.cumsum(k)])
    uniq_bytes = np.empty(int(uniq_off[-1]) * 4, dtype=np.uint8)
    _gather_segments(uniq_bytes, enc, starts + 4, 4 * k, 4 * uniq_off)
    uniq_vals = uniq_bytes.view("<u4")
    widths = _exact_width(np.maximum(k - 1, 0))
    nr = n_toks[live]
    cb = (nr * widths + 7) // 8
    pb_off = np.concatenate([[0], np.cumsum(cb)])
    packed = np.empty(int(pb_off[-1]), dtype=np.uint8)
    _gather_segments(packed, enc, starts + 4 + 4 * k, cb, pb_off)
    codes = _unpack_bits_rows(packed, pb_off, nr, widths)
    vals = uniq_vals[np.repeat(uniq_off[:-1], nr) + codes]
    return vals, offsets


# name -> whole-batch decode kernel (enc, enc_offsets, n_toks) -> (flat,
# offsets) for every codec outside the svb family (decode_rows runs those
# in its one pass)
_DECODERS = {
    "bitpack": partial(_bitpack_decode_rows, frame_of_ref=False),
    "for": partial(_bitpack_decode_rows, frame_of_ref=True),
    "dict": _dict_decode_rows,
    "rle": _rle_decode_rows,
    "fsst": _fsst_decode_rows,
    "ef": ef_decode_rows,
}


# name -> whole-batch encode kernel (flat, offsets) -> (enc, enc_offsets)
# for every codec outside the svb family (encode_rows runs those in its
# one pass)
_ENCODERS = {
    "bitpack": partial(_bitpack_encode_rows, frame_of_ref=False),
    "for": partial(_bitpack_encode_rows, frame_of_ref=True),
    "dict": _dict_encode_rows,
    "rle": _rle_encode_rows,
    "fsst": _fsst_encode_rows,
    "ef": ef_encode_rows,
}
