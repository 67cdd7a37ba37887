"""Posting-list codec: delta + per-block bitpacked (PFOR-style) encoding.

Re-implements, natively in vectorized numpy, the posting-list layout of the
reference's tantivy dependency (SURVEY.md §2.7; reference pins tantivy
0.17.0-dev, Cargo.lock:3421-3423): per term, doc_ids are delta-encoded in
128-doc blocks and bitpacked with a per-block bit width; term frequencies are
bitpacked per block; a skip list records per-block last_doc and max_tf
(block-max metadata for WAND pruning, quickwit-search/src/collector.rs top-k
+ SURVEY §2.7).

Blob layout (little-endian):

    u32 count | u32 nblocks | u8 w_doc[nblocks] | u8 w_tf[nblocks] | payload

``payload`` is the concatenation, block by block, of the bitpacked doc-id
gaps followed by the bitpacked tfs.  Blocks hold 128 values except the tail.
Bit widths are per-block maxima, so the layout is frame-of-reference with
per-block exception-free widths (PFOR without patching — simpler and still
vectorizable with numpy ``packbits``/``unpackbits``).

Everything here is pure numpy on whole arrays: no per-row Python, per the
north rule ("vectorized pandas/Arrow UDFs (no per-row Python)").
"""

from __future__ import annotations

import struct

import numpy as np

BLOCK = 128


def _bit_width(max_val: int) -> int:
    """Bits needed to represent max_val (>=1 so zero-width blocks can't occur)."""
    return max(1, int(max_val).bit_length())


def _width_bytes(width: int) -> tuple[int, str]:
    """Smallest numpy big-endian uint that holds ``width`` bits: widening to
    32 bits regardless of width would make every unpackbits/packbits pass
    4-8x bigger than needed (gap widths are typically 4-8 bits)."""
    if width <= 8:
        return 1, ">u1"
    if width <= 16:
        return 2, ">u2"
    return 4, ">u4"


def _pack(vals: np.ndarray, width: int) -> bytes:
    """Bitpack a 1-D uint32 array at the given width (big-endian bit order)."""
    n = len(vals)
    if n == 0:
        return b""
    nb, dt = _width_bytes(width)
    bits = np.unpackbits(
        np.ascontiguousarray(vals.astype(dt)).view(np.uint8).reshape(n, nb), axis=1
    )[:, nb * 8 - width :]
    return np.packbits(bits.ravel()).tobytes()


def _unpack(buf: np.ndarray, n: int, width: int) -> np.ndarray:
    """Inverse of :func:`_pack`: decode n uint32 values at the given width.

    Fast path (width <= 25, i.e. every real posting/tf/position width):
    gather each value's 4-byte window and shift its bit span out — ~5x less
    memory traffic than the unpackbits→packbits route, which inflates every
    value to ``width`` whole bytes and back."""
    if n == 0:
        return np.empty(0, np.uint32)
    if width <= 25:
        bit0 = np.arange(0, n * width, width, dtype=np.int64)
        byte0 = bit0 >> 3
        padded = np.empty(len(buf) + 4, np.uint8)
        padded[: len(buf)] = buf
        padded[len(buf) :] = 0
        win = np.lib.stride_tricks.sliding_window_view(padded, 4)[byte0]
        be = (
            (win[:, 0].astype(np.uint32) << 24)
            | (win[:, 1].astype(np.uint32) << 16)
            | (win[:, 2].astype(np.uint32) << 8)
            | win[:, 3].astype(np.uint32)
        )
        shift = (32 - width - (bit0 & 7)).astype(np.uint32)
        return (be >> shift) & np.uint32((1 << width) - 1)
    nb, dt = _width_bytes(width)
    bits = np.unpackbits(buf)[: n * width].reshape(n, width)
    out = np.zeros((n, nb * 8), np.uint8)
    out[:, nb * 8 - width :] = bits
    return np.packbits(out, axis=1).view(dt).ravel().astype(np.uint32)


def _pack_full_blocks_into(
    blocks: np.ndarray, widths: np.ndarray, payload: np.ndarray, offsets: np.ndarray
) -> None:
    """Pack (k, BLOCK) uint32 rows, each at its own width, scattering the
    packed bytes directly into ``payload`` at per-block ``offsets``.

    128*w bits is always byte-aligned, so each block packs to exactly 16*w
    bytes and same-width blocks pack in one vectorized pass — no per-block
    python objects (a 10M-doc posting list has ~78k blocks)."""
    for w in np.unique(widths):
        w = int(w)
        idx = np.nonzero(widths == w)[0]
        sel = blocks[idx]  # (m, BLOCK)
        m = len(idx)
        nb, dt = _width_bytes(w)
        bits = np.unpackbits(
            np.ascontiguousarray(sel.astype(dt)).view(np.uint8).reshape(m, BLOCK, nb),
            axis=2,
        )[:, :, nb * 8 - w :]
        packed = np.packbits(bits.reshape(m, BLOCK * w), axis=1)  # (m, 16*w)
        payload[offsets[idx][:, None] + np.arange(16 * w)] = packed


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Encode one posting list.

    Args:
        doc_ids: strictly-increasing uint32/int array of doc ids.
        tfs: matching term frequencies (>=1).

    Returns:
        (blob, block_last_doc, block_max_tf) — blob per the module layout,
        plus the skip-list arrays (one entry per block) used for block-max
        WAND pruning and AND-skipping.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.uint32)
    tfs = np.asarray(tfs, dtype=np.uint32)
    n = len(doc_ids)
    if n == 0:
        return (
            np.array([0, 0], dtype="<u4").tobytes(),
            np.empty(0, np.uint32),
            np.empty(0, np.uint32),
        )
    gaps = np.empty(n, np.uint32)
    gaps[0] = doc_ids[0]
    np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:])

    if n <= BLOCK:
        # single-block fast path: the overwhelming majority of terms in a
        # split have df <= 128, and the generic multi-block scaffolding
        # (width/offset/cumsum arrays) costs more than the packing itself
        max_tf = tfs.max()
        wd = _bit_width(int(gaps.max()))
        wt = _bit_width(int(max_tf))
        blob = (
            np.array([n, 1], dtype="<u4").tobytes()
            + bytes((wd, wt))
            + _pack(gaps, wd)
            + _pack(tfs, wt)
        )
        return blob, doc_ids[-1:].copy(), max_tf[None].astype(np.uint32)

    nblocks = (n + BLOCK - 1) // BLOCK
    nfull = n // BLOCK

    # per-block bit widths (vectorized for the full blocks)
    w_doc = np.empty(nblocks, np.uint8)
    w_tf = np.empty(nblocks, np.uint8)
    if nfull:
        gf = gaps[: nfull * BLOCK].reshape(nfull, BLOCK)
        tf_f = tfs[: nfull * BLOCK].reshape(nfull, BLOCK)
        # exact vectorized bit_length: float64 represents uint32 exactly, and
        # frexp's exponent is bit_length for positive ints
        w_doc[:nfull] = np.maximum(1, np.frexp(gf.max(axis=1).astype(np.float64))[1]).astype(np.uint8)
        w_tf[:nfull] = np.maximum(1, np.frexp(tf_f.max(axis=1).astype(np.float64))[1]).astype(np.uint8)
    if nblocks > nfull:  # tail block widths
        w_doc[nfull] = _bit_width(int(gaps[nfull * BLOCK :].max()))
        w_tf[nfull] = _bit_width(int(tfs[nfull * BLOCK :].max()))

    # single payload buffer, blocks scattered in place (no per-block bytes)
    counts = np.full(nblocks, BLOCK, dtype=np.int64)
    counts[-1] = n - BLOCK * (nblocks - 1)
    doc_sz = (counts * w_doc + 7) // 8
    tf_sz = (counts * w_tf + 7) // 8
    block_off = np.concatenate(([0], np.cumsum(doc_sz + tf_sz)[:-1]))
    payload = np.zeros(int((doc_sz + tf_sz).sum()), np.uint8)
    if nfull:
        _pack_full_blocks_into(gf, w_doc[:nfull], payload, block_off[:nfull])
        _pack_full_blocks_into(
            tf_f, w_tf[:nfull], payload, block_off[:nfull] + doc_sz[:nfull]
        )
    if nblocks > nfull:
        s = int(block_off[nfull])
        tb = np.frombuffer(_pack(gaps[nfull * BLOCK :], int(w_doc[nfull])), np.uint8)
        payload[s : s + len(tb)] = tb
        tb = np.frombuffer(_pack(tfs[nfull * BLOCK :], int(w_tf[nfull])), np.uint8)
        payload[s + int(doc_sz[nfull]) : s + int(doc_sz[nfull]) + len(tb)] = tb

    header = np.array([n, nblocks], dtype="<u4").tobytes()
    blob = header + w_doc.tobytes() + w_tf.tobytes() + payload.tobytes()

    # skip data
    csum = np.cumsum(gaps.astype(np.uint64)).astype(np.uint32)
    ends = np.minimum(np.arange(1, nblocks + 1) * BLOCK, n) - 1
    block_last_doc = csum[ends]
    block_max_tf = np.maximum.reduceat(tfs, np.arange(0, n, BLOCK))
    return blob, block_last_doc, block_max_tf


def _decode_segments(
    cat: np.ndarray,
    byte_start: np.ndarray,
    widths: np.ndarray,
    counts: np.ndarray,
) -> np.ndarray:
    """Decode MANY bitpacked segments of one concatenated buffer in one
    vectorized pass per distinct bit width.

    A segment is (byte offset into ``cat``, bit width, value count) — the
    shape every blob in this codec reduces to, since block payloads are
    byte-aligned.  Merging k splits decodes hundreds of thousands of tiny
    blobs; per-blob numpy calls are overhead-dominated (~70 µs each), while
    this kernel's cost is one windowed gather over ALL values of a width
    (a handful of distinct widths per bucket).  Output is the segments'
    values concatenated in input order.
    """
    counts = np.asarray(counts, np.int64)
    total = int(counts.sum())
    out = np.empty(total, np.uint32)
    if total == 0:
        return out
    out_off = np.concatenate(([0], np.cumsum(counts)[:-1]))
    padded = np.empty(len(cat) + 8, np.uint8)
    padded[: len(cat)] = cat
    padded[len(cat) :] = 0
    win = np.lib.stride_tricks.sliding_window_view(padded, 4)
    widths = np.asarray(widths, np.int64)
    byte_start = np.asarray(byte_start, np.int64)
    for w in np.unique(widths):
        w = int(w)
        sel = np.flatnonzero((widths == w) & (counts > 0))
        if len(sel) == 0:
            continue
        ns = counts[sel]
        m = int(ns.sum())
        reps = np.repeat(np.arange(len(sel)), ns)
        within = np.arange(m, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(ns)[:-1])), ns
        )
        bit0 = byte_start[sel][reps] * 8 + within * w
        byte0 = bit0 >> 3
        if w <= 25:
            wv = win[byte0]
            be = (
                (wv[:, 0].astype(np.uint32) << 24)
                | (wv[:, 1].astype(np.uint32) << 16)
                | (wv[:, 2].astype(np.uint32) << 8)
                | wv[:, 3].astype(np.uint32)
            )
            shift = (32 - w - (bit0 & 7)).astype(np.uint32)
            vals = (be >> shift) & np.uint32((1 << w) - 1)
        else:
            # 5-byte window for 26..32-bit values at arbitrary alignment
            raw = padded[byte0[:, None] + np.arange(5)]
            be = (
                (raw[:, 0].astype(np.uint64) << 32)
                | (raw[:, 1].astype(np.uint64) << 24)
                | (raw[:, 2].astype(np.uint64) << 16)
                | (raw[:, 3].astype(np.uint64) << 8)
                | raw[:, 4].astype(np.uint64)
            )
            shift = (40 - w - (bit0 & 7)).astype(np.uint64)
            vals = ((be >> shift) & np.uint64((1 << w) - 1)).astype(np.uint32)
        out[np.repeat(out_off[sel], ns) + within] = vals
    return out


def pack_segments(
    vals: np.ndarray,
    seg_off: np.ndarray,
    seg_n: np.ndarray,
    widths: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Bitpack MANY value segments, each at its own width, in one vectorized
    pass per distinct width — the encode-side mirror of
    :func:`_decode_segments`.

    Segment i is ``vals[seg_off[i] : seg_off[i]+seg_n[i]]`` packed at
    ``widths[i]`` bits.  Returns (buf, byte_off, byte_sz): segment i's
    payload is ``buf[byte_off[i] : byte_off[i]+byte_sz[i]]``, byte-aligned
    and bit-identical to :func:`_pack` of the same values.  A fresh build
    encodes one blob per term and the typical term is tiny (df <= 128), so
    per-term numpy packing is overhead-dominated exactly like the merge's
    per-blob decoding was.
    """
    seg_off = np.asarray(seg_off, np.int64)
    seg_n = np.asarray(seg_n, np.int64)
    widths = np.asarray(widths, np.int64)
    byte_sz = (seg_n * widths + 7) >> 3
    byte_off = np.concatenate(([0], np.cumsum(byte_sz)[:-1]))
    total = int(byte_sz.sum())
    bits = np.zeros(total * 8, np.uint8)
    for w in np.unique(widths):
        w = int(w)
        sel = np.flatnonzero((widths == w) & (seg_n > 0))
        if len(sel) == 0:
            continue
        ns = seg_n[sel]
        m = int(ns.sum())
        reps = np.repeat(np.arange(len(sel)), ns)
        within = np.arange(m, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(ns)[:-1])), ns
        )
        v = vals[seg_off[sel][reps] + within]
        nb, dt = _width_bytes(w)
        vb = np.unpackbits(
            np.ascontiguousarray(v.astype(dt)).view(np.uint8).reshape(m, nb), axis=1
        )[:, nb * 8 - w :]
        dest = (byte_off[sel][reps] * 8 + within * w)[:, None] + np.arange(w)
        bits[dest.ravel()] = vb.ravel()
    return np.packbits(bits) if total else np.empty(0, np.uint8), byte_off, byte_sz


def _concat_blobs(blobs) -> tuple[np.ndarray, np.ndarray]:
    """One buffer + per-blob byte offsets for the batched decoders."""
    starts = np.zeros(len(blobs), np.int64)
    np.cumsum([len(b) for b in blobs[:-1]], out=starts[1:])
    return np.frombuffer(b"".join(blobs), np.uint8), starts


def decode_gaps_tfs_many(blobs) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch-decode posting blobs to their RAW GAP streams (and tfs).

    Returns (gaps, tfs, counts): per blob, gaps[0] is the absolute first
    doc and the rest are deltas — exactly what a k-way concat-merge needs,
    since adding a docID offset to a whole list leaves every delta intact
    (only the seam value between adjacent lists changes).  One
    `_decode_segments` pass over every block of every blob.
    """
    m = len(blobs)
    if m == 0:
        e = np.empty(0, np.uint32)
        return e, e, np.empty(0, np.int64)
    cat, starts = _concat_blobs(blobs)
    hdr = (
        cat[(starts[:, None] + np.arange(8)).ravel()]
        .reshape(m, 8)
        .copy()
        .view("<u4")
        .astype(np.int64)
    )
    ns, nbs = hdr[:, 0], hdr[:, 1]
    counts_out = ns.copy()

    # Segment tables: single-block blobs (the typical df<=128 term) fill in
    # one vectorized shot; rarer multi-block blobs append via _parse_header.
    single = np.flatnonzero((nbs == 1) & (ns > 0))
    sb = starts[single] + 10
    sw = cat[starts[single] + 8].astype(np.int64)
    sn = ns[single]
    order_keys = [single]  # original blob index per emitted segment group
    seg_b = [sb]
    seg_w = [sw]
    seg_n = [sn]
    tseg_b = [sb + ((sn * sw + 7) >> 3)]
    tseg_w = [cat[starts[single] + 9].astype(np.int64)]
    tseg_n = [sn]
    for i in np.flatnonzero((nbs > 1) & (ns > 0)):
        _, _, w_doc, w_tf, counts, doc_bytes, bstarts = _parse_header(blobs[i])
        base = starts[i]
        order_keys.append(np.full(len(counts), i, np.int64))
        seg_b.append(base + bstarts)
        seg_w.append(w_doc.astype(np.int64))
        seg_n.append(counts)
        tseg_b.append(base + bstarts + doc_bytes)
        tseg_w.append(w_tf.astype(np.int64))
        tseg_n.append(counts)

    # segments must decode in blob order (stable within a blob)
    keys = np.concatenate(order_keys)
    order = np.argsort(keys, kind="stable")
    seg_n_all = np.concatenate(seg_n)[order]
    if seg_n_all.sum() == 0:
        e = np.empty(0, np.uint32)
        return e, e, counts_out
    gaps = _decode_segments(
        cat, np.concatenate(seg_b)[order], np.concatenate(seg_w)[order], seg_n_all
    )
    tfs = _decode_segments(
        cat, np.concatenate(tseg_b)[order], np.concatenate(tseg_w)[order], seg_n_all
    )
    return gaps, tfs, counts_out


def decode_u32_many(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Batch :func:`decode_u32_column`: (flat values, per-blob counts)."""
    m = len(blobs)
    if m == 0:
        return np.empty(0, np.uint32), np.empty(0, np.int64)
    cat, starts = _concat_blobs(blobs)
    ns = cat[(starts[:, None] + np.arange(4)).ravel()].reshape(m, 4).copy().view("<u4")
    ns = ns.ravel().astype(np.int64)
    ws = cat[starts + 4].astype(np.int64)
    return _decode_segments(cat, starts + 5, ws, ns), ns


def position_deltas_many(blobs) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch-decode position payloads to their RAW DELTA streams.

    Returns (deltas, counts, widths).  Position runs are delta-encoded
    per doc (first value absolute), so concatenating blobs' delta streams
    IS the merged stream — merge never reconstructs absolute positions.
    """
    m = len(blobs)
    if m == 0:
        e = np.empty(0, np.uint32)
        return e, np.empty(0, np.int64), np.empty(0, np.int64)
    cat, starts = _concat_blobs(blobs)
    ns = cat[(starts[:, None] + np.arange(4)).ravel()].reshape(m, 4).copy().view("<u4")
    ns = ns.ravel().astype(np.int64)
    ws = cat[starts + 4].astype(np.int64)
    return _decode_segments(cat, starts + 5, ws, ns), ns, ws


def merge_posting_groups(
    blobs,
    positions,
    lens_blobs,
    offsets: np.ndarray,
    last_docs: np.ndarray,
    group_starts: np.ndarray,
    group_ends: np.ndarray,
) -> list[tuple]:
    """k-way concat-merge of posting rows, grouped (one group = one term).

    Rows must be ordered group-by-group, ascending doc ranges within a
    group; ``offsets[j]`` is row j's docID base and ``last_docs[j]`` its
    last absolute doc id pre-offset (from the row's block_last_doc skip
    array).  Runs entirely in GAP SPACE with batched segment decoding —
    shared by the split-merge executor and the builder's in-task chunk
    merge.  Returns one row tail per group:
    (doc_freq, total_tf, blob, positions, lens, block_last_doc,
    block_max_tf, block_min_len, block_tf_cum).
    """
    n = len(blobs)
    gaps, tfs, counts = decode_gaps_tfs_many(blobs)
    if (counts == 0).any():
        # a published posting row always has df >= 1; callers pre-drop
        raise ValueError("merge_posting_groups: empty posting row (df=0)")
    offsets = np.asarray(offsets, np.int64)
    last_docs = np.asarray(last_docs, np.int64)

    is_first = np.zeros(n, bool)
    is_first[group_starts] = True
    voff = np.concatenate(([0], np.cumsum(counts)[:-1]))
    first_abs = gaps[voff].astype(np.int64) + offsets
    prev_last = np.concatenate(([0], last_docs[:-1] + offsets[:-1]))
    gaps[voff] = np.where(is_first, first_abs, first_abs - prev_last).astype(
        np.uint32
    )

    lens_flat, _ = decode_u32_many(lens_blobs)

    g_s = np.asarray(group_starts, np.int64)
    g_e = np.asarray(group_ends, np.int64)
    has_pos = np.fromiter((p is not None for p in positions), bool, n)
    n_pos = np.concatenate(([0], np.cumsum(has_pos)))
    g_npos = n_pos[g_e] - n_pos[g_s]
    if ((g_npos != 0) & (g_npos != g_e - g_s)).any():
        raise ValueError("mixed position presence within a term group")
    g_pos = g_npos > 0
    pos_slot = n_pos[1:] - 1
    if has_pos.any():
        deltas_flat, pos_counts, pos_ws = position_deltas_many(
            [p for p in positions if p is not None]
        )
        pos_off = np.concatenate(([0], np.cumsum(pos_counts)[:-1]))

    g_lo = voff[g_s]
    g_n = voff[g_e - 1] + counts[g_e - 1] - g_lo
    single = g_n <= BLOCK
    out: list = [None] * len(g_s)

    # single-block groups (df <= BLOCK, the overwhelming majority) encode
    # in one pack_segments pass per payload: per-term encode calls were
    # most of a small merge's CPU.  Bit-identical to the per-term path.
    si = np.flatnonzero(single)
    if len(si):
        take, c_start = _gather_ranges(g_lo[si], g_n[si])
        cg, ct, cl = gaps[take], tfs[take], lens_flat[take]
        max_tf = np.maximum.reduceat(ct, c_start)
        min_len = np.minimum.reduceat(cl, c_start)
        total_tf = np.add.reduceat(ct.astype(np.int64), c_start)
        last_doc = np.add.reduceat(cg.astype(np.uint64), c_start).astype(np.uint32)
        blobs, lens_b = encode_single_block_postings(
            gaps, tfs, lens_flat, g_lo[si], g_n[si],
            bit_widths(np.maximum.reduceat(cg, c_start)),
            bit_widths(max_tf), bit_widths(np.maximum.reduceat(cl, c_start)),
        )
        pos_blobs: list = [None] * len(si)
        sp = np.flatnonzero(g_pos[si])
        if len(sp):
            # merged position width = the widest input's (deltas unchanged)
            ps, pe = pos_slot[g_s[si[sp]]], pos_slot[g_e[si[sp]] - 1]
            slot_take, slot_start = _gather_ranges(ps, pe - ps + 1)
            d_lo = pos_off[ps]
            for j, blob in zip(sp, encode_position_deltas_many(
                deltas_flat, d_lo, pos_off[pe] + pos_counts[pe] - d_lo,
                np.maximum.reduceat(pos_ws[slot_take], slot_start),
            )):
                pos_blobs[j] = blob
        for k, gi in enumerate(si):
            out[gi] = (
                int(g_n[gi]), int(total_tf[k]), blobs[k], pos_blobs[k], lens_b[k],
                [int(last_doc[k])], [int(max_tf[k])], [int(min_len[k])], [0],
            )

    for gi in np.flatnonzero(~single):
        s, e = g_s[gi], g_e[gi]
        lo, hi = g_lo[gi], g_lo[gi] + g_n[gi]
        g_gaps = gaps[lo:hi]
        g_tfs = tfs[lo:hi]
        blob, last_doc, max_tf = encode_postings_from_gaps(g_gaps, g_tfs)
        ln = lens_flat[lo:hi]
        min_len = np.minimum.reduceat(ln, np.arange(0, hi - lo, BLOCK))
        if g_pos[gi]:
            ps, pe_ = pos_slot[s], pos_slot[e - 1]
            d_lo, d_hi = pos_off[ps], pos_off[pe_] + pos_counts[pe_]
            pos_blob = encode_positions_from_deltas(
                deltas_flat[d_lo:d_hi], int(pos_ws[ps : pe_ + 1].max())
            )
        else:
            pos_blob = None
        out[gi] = (
            int(hi - lo),
            int(g_tfs.sum()),
            blob,
            pos_blob,
            encode_u32_column(ln),
            last_doc.astype(np.int64).tolist(),
            max_tf.astype(np.int64).tolist(),
            min_len.astype(np.int64).tolist(),
            block_tf_cum(g_tfs).tolist(),
        )
    return out


def _gather_ranges(starts: np.ndarray, lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Index array selecting ``[starts[i], starts[i]+lens[i])`` for every i,
    concatenated, plus each range's start within it (for ``reduceat``)."""
    lens = np.asarray(lens, np.int64)
    c_start = np.concatenate(([0], np.cumsum(lens)[:-1]))
    take = np.repeat(np.asarray(starts, np.int64) - c_start, lens) + np.arange(
        int(lens.sum()), dtype=np.int64
    )
    return take, c_start


def bit_widths(max_vals: np.ndarray) -> np.ndarray:
    """Vectorized :func:`_bit_width` (float64 holds any uint32 exactly and
    frexp's exponent is its bit_length)."""
    return np.maximum(1, np.frexp(max_vals.astype(np.float64))[1]).astype(np.int64)


def _packed_slices(vals, seg_off, seg_n, widths) -> tuple[bytes, list, list]:
    """:func:`pack_segments` as (bytes, byte offsets, byte sizes) lists, for
    cheap per-segment slicing in Python loops."""
    buf, off, sz = pack_segments(vals, seg_off, seg_n, widths)
    return buf.tobytes(), off.tolist(), sz.tolist()


def encode_single_block_postings(gaps, tfs, lens, v_start, v_n, wd, wt, wl):
    """Posting blobs and lens blobs of MANY single-block rows (v_n <= BLOCK)
    at the given bit widths, each payload packed in ONE pack_segments pass:
    per-row encode_postings / encode_u32_column calls are overhead-bound on
    the typical df <= 128 row.  Row i's values are ``[v_start[i],
    v_start[i] + v_n[i])`` of ``gaps`` (first one absolute), ``tfs`` and
    ``lens``.  Bit-identical to the per-row encoders at minimal widths."""
    gb, go, gz = _packed_slices(gaps, v_start, v_n, wd)
    tb, to, tz = _packed_slices(tfs, v_start, v_n, wt)
    lb, lo, lz = _packed_slices(lens, v_start, v_n, wl)
    n, wd, wt, wl = (np.asarray(x).tolist() for x in (v_n, wd, wt, wl))
    blobs = [
        struct.pack("<IIBB", n[i], 1, wd[i], wt[i])
        + gb[go[i] : go[i] + gz[i]] + tb[to[i] : to[i] + tz[i]]
        for i in range(len(n))
    ]
    lens_blobs = [
        struct.pack("<IB", n[i], wl[i]) + lb[lo[i] : lo[i] + lz[i]] for i in range(len(n))
    ]
    return blobs, lens_blobs


def encode_position_deltas_many(deltas, p_start, p_n, widths) -> list[bytes]:
    """Batched :func:`encode_positions_from_deltas`: row i packs
    ``deltas[p_start[i] : p_start[i] + p_n[i]]`` at ``widths[i]``."""
    pb, po, pz = _packed_slices(deltas, p_start, p_n, widths)
    n, w = np.asarray(p_n).tolist(), np.asarray(widths).tolist()
    return [
        struct.pack("<IB", n[i], w[i]) + pb[po[i] : po[i] + pz[i]]
        if n[i]
        else struct.pack("<IB", 0, 1)
        for i in range(len(n))
    ]


def encode_postings_from_gaps(
    gaps: np.ndarray, tfs: np.ndarray
) -> tuple[bytes, np.ndarray, np.ndarray]:
    """:func:`encode_postings` taking the gap stream directly (gaps[0]
    absolute) — the k-way merge path, which assembles gaps without ever
    materializing absolute doc ids."""
    gaps = np.asarray(gaps, dtype=np.uint32)
    doc_ids = np.cumsum(gaps.astype(np.uint64)).astype(np.uint32)
    return encode_postings(doc_ids, tfs)


def encode_positions_from_deltas(deltas: np.ndarray, width: int) -> bytes:
    """Pack an already-delta-encoded position stream (merge path: the
    concat of input delta streams, width = max input width — per-doc
    deltas are unchanged by merging)."""
    total = len(deltas)
    if total == 0:
        return np.array([0], dtype="<u4").tobytes() + b"\x01"
    return (
        np.array([total], dtype="<u4").tobytes()
        + bytes([int(width)])
        + _pack(np.asarray(deltas, np.uint32), int(width))
    )


def _parse_header(blob: bytes):
    n, nblocks = np.frombuffer(blob, dtype="<u4", count=2)
    n, nblocks = int(n), int(nblocks)
    off = 8
    w_doc = np.frombuffer(blob, dtype=np.uint8, count=nblocks, offset=off)
    off += nblocks
    w_tf = np.frombuffer(blob, dtype=np.uint8, count=nblocks, offset=off)
    off += nblocks
    # per-block value counts and payload byte offsets
    counts = np.full(nblocks, BLOCK, dtype=np.int64)
    if nblocks:
        counts[-1] = n - BLOCK * (nblocks - 1)
    doc_bytes = (counts * w_doc + 7) // 8
    tf_bytes = (counts * w_tf + 7) // 8
    sizes = doc_bytes + tf_bytes
    starts = off + np.concatenate(([0], np.cumsum(sizes)[:-1])) if nblocks else np.empty(0, np.int64)
    return n, nblocks, w_doc, w_tf, counts, doc_bytes, starts


def _decode_full_blocks(
    buf: np.ndarray, starts: np.ndarray, widths: np.ndarray, out: np.ndarray
) -> None:
    """Decode full (128-value) blocks grouped by bit width — the vectorized
    inverse of :func:`_pack_full_blocks`.  Block i's values land at
    out[i*BLOCK:(i+1)*BLOCK].  One numpy pass per distinct width instead of
    one python iteration per block: a 10M-doc posting list has ~78k blocks
    but only a handful of widths."""
    for w in np.unique(widths):
        w = int(w)
        idx = np.nonzero(widths == w)[0]
        m = len(idx)
        blk_bytes = 16 * w  # 128*w bits is always byte-aligned
        gather = starts[idx][:, None] + np.arange(blk_bytes)
        raw = buf[gather]  # (m, blk_bytes)
        bits = np.unpackbits(raw, axis=1).reshape(m, BLOCK, w)
        nb, dt = _width_bytes(w)
        full = np.zeros((m, BLOCK, nb * 8), np.uint8)
        full[:, :, nb * 8 - w :] = bits
        vals = np.packbits(full.reshape(m, -1), axis=1).view(dt).astype(np.uint32)
        out[(idx[:, None] * BLOCK + np.arange(BLOCK)).ravel()] = vals.ravel()


def decode_postings(blob: bytes, block_indices: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Decode a posting blob back to (doc_ids, tfs).

    With ``block_indices`` given, decodes only those blocks (block-max WAND /
    skip path) — doc_ids stay absolute because each block's delta chain is
    re-anchored from the previous block's last_doc, which we recover from the
    cumulative gap structure… so for partial decode we must know the previous
    block's last doc.  To keep partial decode self-contained, callers pass the
    skip array: see :func:`decode_blocks`.
    """
    n, nblocks, w_doc, w_tf, counts, doc_bytes, starts = _parse_header(blob)
    if n == 0:
        return np.empty(0, np.uint32), np.empty(0, np.uint32)
    buf = np.frombuffer(blob, dtype=np.uint8)
    gaps = np.empty(n, np.uint32)
    tfs = np.empty(n, np.uint32)
    nfull = n // BLOCK
    if nfull:
        _decode_full_blocks(buf, starts[:nfull], w_doc[:nfull], gaps)
        _decode_full_blocks(buf, starts[:nfull] + doc_bytes[:nfull], w_tf[:nfull], tfs)
    if nblocks > nfull:  # tail block
        b = nblocks - 1
        c = int(counts[b])
        s = int(starts[b])
        db = int(doc_bytes[b])
        gaps[b * BLOCK :] = _unpack(buf[s : s + db], c, int(w_doc[b]))
        tfs[b * BLOCK :] = _unpack(
            buf[s + db : s + db + ((c * int(w_tf[b]) + 7) // 8)], c, int(w_tf[b])
        )
    doc_ids = np.cumsum(gaps.astype(np.uint64)).astype(np.uint32)
    if block_indices is not None:
        keep = np.zeros(n, bool)
        for b in block_indices:
            keep[b * BLOCK : min((b + 1) * BLOCK, n)] = True
        return doc_ids[keep], tfs[keep]
    return doc_ids, tfs


def decode_blocks(
    blob: bytes, block_last_doc: np.ndarray, block_indices: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode only the selected blocks, without touching the others' payload.

    ``block_last_doc`` is the skip array produced at encode time; block b's
    delta chain re-anchors at block_last_doc[b-1].  This is the WAND /
    skip-pointer fast path: non-competitive blocks are never unpacked.

    ``block_indices`` are deduplicated and decoded in ascending order
    (``np.unique``): a repeated index yields its block once, and the
    output follows block order, not the order the indices were given in.
    """
    n, nblocks, w_doc, w_tf, counts, doc_bytes, starts = _parse_header(blob)
    if n == 0 or len(block_indices) == 0:
        return np.empty(0, np.uint32), np.empty(0, np.uint32)
    # ONE vectorized segment pass per distinct width instead of a python
    # iteration per block: a doc-range unit of a 5M-doc split decodes
    # ~500 contiguous blocks per term, and the per-block loop measured
    # 80 ms where this kernel takes ~2 (the same overhead economics as
    # the merge-side batched decoders this reuses).
    bi = np.unique(np.asarray(block_indices, np.int64))
    buf = np.frombuffer(blob, dtype=np.uint8)
    cnt = counts[bi]
    gaps = _decode_segments(buf, starts[bi], w_doc[bi], cnt)
    tfs = _decode_segments(buf, starts[bi] + doc_bytes[bi], w_tf[bi], cnt)
    # each selected block's delta chain re-anchors at the PREVIOUS
    # block's last doc: segmented cumsum + per-block anchor broadcast
    anchors = np.zeros(len(bi), np.uint64)
    nz = bi > 0
    anchors[nz] = np.asarray(block_last_doc, np.uint64)[bi[nz] - 1]
    seg_starts = np.concatenate(([0], np.cumsum(cnt)[:-1]))
    csum = np.cumsum(gaps, dtype=np.uint64)
    base = np.repeat(csum[seg_starts] - gaps[seg_starts], cnt)
    docs = (csum - base + np.repeat(anchors, cnt)).astype(np.uint32)
    return docs, tfs


# ---------------------------------------------------------------------------
# position payloads (for phrase queries; record=position fields,
# reference field_mapping_entry.rs:595-623)
# ---------------------------------------------------------------------------


def block_tf_cum(tfs: np.ndarray) -> np.ndarray:
    """Positions-side skip data: exclusive cumulative total-tf at each
    128-doc posting block START.  Block b's first position value sits at
    flat index block_tf_cum[b] of the term's position stream, so a
    doc-range leaf unit can locate its candidates' position runs after
    decoding ONLY its own blocks — without it, run offsets require the
    whole tf array (tantivy stores the equivalent offsets in its
    positions skip info; quickwit-doc positions/skip reader analog)."""
    tfs = np.asarray(tfs, np.int64)
    sums = np.add.reduceat(tfs, np.arange(0, len(tfs), BLOCK))
    out = np.empty(len(sums), np.int64)
    out[0] = 0
    np.cumsum(sums[:-1], out=out[1:])
    return out


def encode_positions(positions: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode the flat position array of a posting list.

    ``positions`` concatenates, doc by doc (in doc_id order), the in-doc
    token positions of each occurrence; ``tfs`` gives the per-doc run
    lengths.  Within each doc the positions are delta-encoded (first
    absolute), then the whole array is bitpacked at a single width.
    Layout: u32 total | u8 width | packed bits.
    """
    positions = np.asarray(positions, dtype=np.uint32)
    tfs = np.asarray(tfs, dtype=np.int64)
    total = len(positions)
    if total == 0:
        return np.array([0], dtype="<u4").tobytes() + b"\x01"
    deltas = positions.copy()
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    deltas[1:] = positions[1:] - positions[:-1]
    deltas[starts] = positions[starts]
    w = _bit_width(int(deltas.max()))
    return np.array([total], dtype="<u4").tobytes() + bytes([w]) + _pack(deltas, w)


def positions_may_fit_bitmaps(positions_blob: bytes) -> bool:
    """Can every position of this payload be < 128 (the bitset range of
    :func:`encode_position_bitmaps`)?  Answered from the header alone:
    byte 4 is the packed delta width, the least width that holds the
    payload's largest delta (the merge path packs at the max input width,
    which is one input's least width).  A delta >= 128 needs 8 bits and a
    position is at least its own delta, so width >= 8 rules the payload
    out; below it the decoded positions still decide."""
    return positions_blob[4] < 8


def encode_position_bitmaps(positions_blob: bytes, tfs: np.ndarray) -> bytes | None:
    """Per-doc 128-bit position BITSETS of one posting list — the
    bit-parallel phrase representation (Bitap/shift-AND): doc d's set bits
    are exactly its term positions, packed as two little-endian uint64
    words (lo = positions 0-63, hi = 64-127) at byte offset 16*d.

    Returns None when any position is >= 128 (long/array docs — the
    caller keeps the delta-coded payload as the only representation) or
    the list is empty.  Derived losslessly from the positions payload, so
    merge/rebuild paths can always recompute it."""
    if not positions_may_fit_bitmaps(positions_blob):
        return None
    t64 = np.asarray(tfs, np.int64)
    ps = decode_positions(positions_blob, t64)
    if len(ps) == 0 or int(ps.max()) >= 128:
        return None
    doc_idx = np.repeat(np.arange(len(t64), dtype=np.int64), t64)
    gkey = doc_idx * 2 + (ps >> np.uint32(6)).astype(np.int64)
    vals = np.uint64(1) << (ps & np.uint32(63)).astype(np.uint64)
    # positions ascend within a doc and docs ascend, so gkey is
    # nondecreasing — one reduceat ORs each (doc, word) group
    starts = np.flatnonzero(np.diff(gkey, prepend=-1))
    ored = np.bitwise_or.reduceat(vals, starts)
    words = np.zeros(2 * len(t64), np.uint64)
    words[gkey[starts]] = ored
    return words.astype("<u8").tobytes()


def decode_positions(blob: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_positions` → flat absolute position array."""
    total = int(np.frombuffer(blob, dtype="<u4", count=1)[0])
    if total == 0:
        return np.empty(0, np.uint32)
    w = blob[4]
    deltas = _unpack(np.frombuffer(blob, dtype=np.uint8, offset=5), total, int(w))
    tfs = np.asarray(tfs, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    # segmented cumsum: global cumsum minus the cumsum value at each run start
    csum = np.cumsum(deltas.astype(np.uint64))
    base = np.repeat(csum[starts] - deltas[starts], tfs)
    return (csum - base).astype(np.uint32)


def decode_positions_subset(blob: bytes, tfs: np.ndarray, doc_idx: np.ndarray) -> np.ndarray:
    """Decode ONLY the position runs of the docs at posting-list indices
    ``doc_idx`` (sorted), returning the flat absolute positions of those runs
    concatenated in ``doc_idx`` order.

    This is the positions analog of :func:`decode_blocks` — the skip path a
    phrase query takes after intersecting doc lists: a phrase over a stopword
    ("the ...") must otherwise unpack the stopword's ENTIRE position payload
    (≈ total_tf values) to verify a handful of candidate docs.  Works because
    each doc's position run is delta-encoded independently (first value
    absolute, encode_positions), so runs decode without their neighbors.

    Fully vectorized arbitrary-index bit extraction: for the m needed values
    the packed bytes are gathered into an (m, nb) matrix, unpacked, and the
    per-row bit window selected with fancy indexing — no per-doc Python.
    """
    tfs = np.asarray(tfs, dtype=np.int64)
    doc_idx = np.asarray(doc_idx, dtype=np.int64)
    vstarts = np.concatenate(([0], np.cumsum(tfs)[:-1]))[doc_idx]
    return decode_positions_at(blob, vstarts, tfs[doc_idx])


def decode_positions_at(blob: bytes, vstarts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Decode the position runs at explicit flat value offsets — the
    skip-data entry point: a doc-range leaf unit computes ``vstarts`` from
    block_tf_cum + its own decoded blocks' tfs, never touching the rest of
    the row (see :func:`block_tf_cum`).  Returns the runs' flat absolute
    positions concatenated in input order."""
    total = int(np.frombuffer(blob, dtype="<u4", count=1)[0])
    if total == 0 or len(vstarts) == 0:
        return np.empty(0, np.uint32)
    w = int(blob[4])
    vstarts = np.asarray(vstarts, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    m = int(counts.sum())
    if m == 0:
        return np.empty(0, np.uint32)
    run_off = np.concatenate(([0], np.cumsum(counts)[:-1]))
    vidx = np.repeat(vstarts - run_off, counts) + np.arange(m, dtype=np.int64)
    # (a bulk-_unpack-then-gather variant for dense requests was measured
    # SLOWER than this per-value window gather even at 50% density —
    # 31 vs 17 ms on a 1.4M-value chunk — so there is no density split)
    # gather each value's 4-byte window and shift its bit span out (same
    # kernel as _unpack's fast path, at arbitrary rather than regular
    # offsets); widths > 25 can't fit a shifted 32-bit window
    payload = np.frombuffer(blob, dtype=np.uint8, offset=5)
    bit0 = vidx * w
    byte0 = bit0 >> 3
    if w <= 25:
        padded = np.empty(len(payload) + 4, np.uint8)
        padded[: len(payload)] = payload
        padded[len(payload) :] = 0
        win = np.lib.stride_tricks.sliding_window_view(padded, 4)[byte0]
        be = (
            (win[:, 0].astype(np.uint32) << 24)
            | (win[:, 1].astype(np.uint32) << 16)
            | (win[:, 2].astype(np.uint32) << 8)
            | win[:, 3].astype(np.uint32)
        )
        shift = (32 - w - (bit0 & 7)).astype(np.uint32)
        deltas = ((be >> shift) & np.uint32((1 << w) - 1)).astype(np.uint64)
    else:
        nb = (w + 7) // 8 + 1  # enough bytes to cover any bit alignment
        padded = np.concatenate((payload, np.zeros(nb, np.uint8)))
        raw = padded[byte0[:, None] + np.arange(nb)]  # (m, nb)
        bits = np.unpackbits(raw, axis=1)  # (m, nb*8)
        off = (bit0 - (byte0 << 3)).astype(np.int64)  # 0..7
        sel = bits[np.arange(m)[:, None], off[:, None] + np.arange(w)]  # (m, w)
        weights = (np.uint64(1) << np.arange(w - 1, -1, -1, dtype=np.uint64))
        deltas = sel.astype(np.uint64) @ weights
    # segmented cumsum per run (first value of each run is absolute)
    starts = run_off
    csum = np.cumsum(deltas)
    base = np.repeat(csum[starts] - deltas[starts], counts)
    return (csum - base).astype(np.uint32)


def chunk_positions(
    blob: bytes, tf_cum: np.ndarray, target_bytes: int
) -> list[tuple[int, bytes]] | None:
    """Split a big positions payload into independently fetchable chunks,
    cut at posting-BLOCK boundaries (so no doc's run ever straddles a
    chunk).  Returns [(first_block, chunk_blob), ...] — each chunk_blob a
    standalone positions stream in the standard [n u32][width u8][packed]
    layout at the parent's width — or None when the payload fits in
    ``target_bytes`` (stay inline).

    Why: a posting row is one parquet cell, read whole; a hot phrase
    term's positions at a 10M-doc split are ~50-120 MB, and every
    doc-range leaf unit re-read all of it to use a slice.  Chunk rows
    live in their own (small) row groups, so a unit fetches only the
    chunks its blocks map to (tantivy stores positions in a separately
    addressed file for the same reason)."""
    total = int(np.frombuffer(blob, dtype="<u4", count=1)[0])
    if len(blob) <= target_bytes or total == 0:
        return None
    w = int(blob[4])
    tf_cum = np.asarray(tf_cum, np.int64)
    if len(tf_cum) <= 1:
        return None  # single block — nothing to split on
    deltas = _unpack(np.frombuffer(blob, dtype=np.uint8, offset=5), total, w)
    bounds = np.append(tf_cum, total)  # value offset of each block start
    vals_per_chunk = max((target_bytes * 8) // max(w, 1), 1)
    chunks: list[tuple[int, bytes]] = []
    b = 0
    while b < len(tf_cum):
        e = b + 1
        while e < len(tf_cum) and bounds[e + 1] - bounds[b] <= vals_per_chunk:
            e += 1
        sub = deltas[bounds[b] : bounds[e]]
        chunks.append(
            (
                b,
                np.array([len(sub)], dtype="<u4").tobytes()
                + bytes([w])
                + _pack(sub, w),
            )
        )
        b = e
    return chunks


def reassemble_position_chunks(chunk_blobs: list[bytes]) -> bytes:
    """Inverse of :func:`chunk_positions`: concatenate chunk streams back
    into one standalone positions blob (deltas are block-anchored, so the
    concat is exact; widths may differ after merges — repack at the max)."""
    deltas_flat, counts, widths = position_deltas_many(chunk_blobs)
    return encode_positions_from_deltas(deltas_flat, int(widths.max()))


def term_bucket(field: str, term: str, n_buckets: int) -> int:
    """Stored term-hash bucket of a posting row (crc32, python-side so the
    build task can compute it without a JVM round trip).  Build and query
    sides MUST share this function: postings files are sorted by bucket, so
    query scans prune row groups via parquet min/max stats on `bucket`."""
    import zlib

    return zlib.crc32(f"{field}\x00{term}".encode("utf-8")) % n_buckets


def encode_u32_column(vals: np.ndarray) -> bytes:
    """Pack a dense uint32 column (fast-field analog) at a single bit width."""
    vals = np.asarray(vals, dtype=np.uint32)
    n = len(vals)
    if n == 0:
        return np.array([0], dtype="<u4").tobytes() + b"\x01"
    w = _bit_width(int(vals.max()))
    return np.array([n], dtype="<u4").tobytes() + bytes([w]) + _pack(vals, w)


def decode_u32_column(blob: bytes) -> np.ndarray:
    n = int(np.frombuffer(blob, dtype="<u4", count=1)[0])
    if n == 0:
        return np.empty(0, np.uint32)
    w = blob[4]
    return _unpack(np.frombuffer(blob, dtype=np.uint8, offset=5), n, int(w))
