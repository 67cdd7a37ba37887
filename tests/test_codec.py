"""Codec round-trip tests: fixed fixtures (FIXTURES.md F5) + Hypothesis
properties, mirroring the reference's unit+proptest strategy (SURVEY.md §5).
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from quickwit_spark.functions.codec import (
    BLOCK,
    decode_blocks,
    decode_positions,
    decode_postings,
    decode_u32_column,
    encode_positions,
    encode_postings,
    encode_u32_column,
)


def _roundtrip(doc_ids, tfs):
    doc_ids = np.asarray(doc_ids, np.uint32)
    tfs = np.asarray(tfs, np.uint32)
    blob, last_doc, max_tf = encode_postings(doc_ids, tfs)
    d, t = decode_postings(blob)
    np.testing.assert_array_equal(d, doc_ids)
    np.testing.assert_array_equal(t, tfs)
    # skip-list invariants
    nblocks = (len(doc_ids) + BLOCK - 1) // BLOCK
    assert len(last_doc) == nblocks == len(max_tf)
    for b in range(nblocks):
        lo, hi = b * BLOCK, min((b + 1) * BLOCK, len(doc_ids))
        assert last_doc[b] == doc_ids[hi - 1]
        assert max_tf[b] == tfs[lo:hi].max()
    return blob, last_doc


@pytest.mark.parametrize(
    "n",
    [1, 2, BLOCK - 1, BLOCK, BLOCK + 1, 1000, 10_000],  # F5 codec fixtures
)
def test_fixed_sizes(n):
    rng = np.random.RandomState(42)
    gaps = rng.randint(1, 1000, size=n)
    doc_ids = np.cumsum(gaps).astype(np.uint32) - 1
    tfs = rng.randint(1, 50, size=n).astype(np.uint32)
    _roundtrip(doc_ids, tfs)


def test_empty():
    blob, last_doc, max_tf = encode_postings(np.empty(0, np.uint32), np.empty(0, np.uint32))
    d, t = decode_postings(blob)
    assert len(d) == 0 and len(t) == 0 and len(last_doc) == 0


def test_single_doc_zero():
    _roundtrip([0], [1])


def test_known_bytes():
    """Hand-computed layout check: 2 docs, gaps (5, 2) width 3, tfs (1,3) width 2."""
    blob, _, _ = encode_postings(np.array([5, 7], np.uint32), np.array([1, 3], np.uint32))
    n, nblocks = np.frombuffer(blob, "<u4", count=2)
    assert (n, nblocks) == (2, 1)
    assert blob[8] == 3 and blob[9] == 2  # w_doc, w_tf
    # doc bits: 101 010 -> 10101000 = 0xA8 ; tf bits: 01 11 -> 01110000 = 0x70
    assert blob[10] == 0xA8 and blob[11] == 0x70


def test_partial_block_decode():
    rng = np.random.RandomState(7)
    n = 5 * BLOCK + 17
    doc_ids = np.cumsum(rng.randint(1, 9, size=n)).astype(np.uint32)
    tfs = rng.randint(1, 5, size=n).astype(np.uint32)
    blob, last_doc = _roundtrip(doc_ids, tfs)[:2]
    for sel in ([0], [5], [1, 3], [0, 2, 5], list(range(6))):
        d, t = decode_blocks(blob, last_doc, np.array(sel))
        exp_d = np.concatenate([doc_ids[b * BLOCK : (b + 1) * BLOCK] for b in sel])
        exp_t = np.concatenate([tfs[b * BLOCK : (b + 1) * BLOCK] for b in sel])
        np.testing.assert_array_equal(d, exp_d)
        np.testing.assert_array_equal(t, exp_t)


@settings(max_examples=200, deadline=None)
@given(
    gaps=st.lists(st.integers(min_value=1, max_value=2**20), min_size=1, max_size=700),
    data=st.data(),
)
def test_property_roundtrip(gaps, data):
    doc_ids = np.cumsum(np.array(gaps, np.uint64)).astype(np.uint32) - 1
    tfs = np.array(
        data.draw(st.lists(st.integers(1, 2**16), min_size=len(gaps), max_size=len(gaps))),
        np.uint32,
    )
    _roundtrip(doc_ids, tfs)


def test_positions_roundtrip():
    # three docs with tfs 2, 1, 3; positions within each doc increasing
    tfs = np.array([2, 1, 3], np.int64)
    positions = np.array([4, 9, 0, 7, 7, 12], np.uint32)  # doc1:(4,9) doc2:(0) doc3:(7,7?,12)
    positions = np.array([4, 9, 0, 7, 8, 12], np.uint32)
    blob = encode_positions(positions, tfs)
    out = decode_positions(blob, tfs)
    np.testing.assert_array_equal(out, positions)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.lists(st.integers(0, 500), min_size=1, max_size=20), min_size=1, max_size=50))
def test_positions_property(doclists):
    doclists = [sorted(d) for d in doclists]
    tfs = np.array([len(d) for d in doclists], np.int64)
    flat = np.array([p for d in doclists for p in d], np.uint32)
    out = decode_positions(encode_positions(flat, tfs), tfs)
    np.testing.assert_array_equal(out, flat)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(0, 2**32 - 1), min_size=0, max_size=500))
def test_u32_column_property(vals):
    arr = np.array(vals, np.uint32)
    np.testing.assert_array_equal(decode_u32_column(encode_u32_column(arr)), arr)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.lists(st.integers(0, 5000), min_size=1, max_size=20), min_size=1, max_size=60),
    st.data(),
)
def test_positions_subset_property(doclists, data):
    """decode_positions_subset(idx) == the full decode sliced to idx's runs,
    for any sorted subset of docs (the phrase skip path)."""
    from quickwit_spark.functions.codec import decode_positions_subset

    doclists = [sorted(d) for d in doclists]
    tfs = np.array([len(d) for d in doclists], np.int64)
    flat = np.array([p for d in doclists for p in d], np.uint32)
    blob = encode_positions(flat, tfs)
    n = len(doclists)
    k = data.draw(st.integers(0, n))
    idx = np.array(
        sorted(data.draw(st.sets(st.integers(0, n - 1), min_size=k, max_size=k))),
        np.int64,
    )
    starts = np.concatenate(([0], np.cumsum(tfs)))
    expect = (
        np.concatenate([flat[starts[i] : starts[i + 1]] for i in idx])
        if len(idx)
        else np.empty(0, np.uint32)
    )
    got = decode_positions_subset(blob, tfs, idx)
    np.testing.assert_array_equal(got, expect)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(1, 9), min_size=1, max_size=600),
    st.data(),
)
def test_block_tf_cum_and_positions_at(tfs_list, data):
    """block_tf_cum + an intra-block tf cumsum locate EXACTLY the same
    position runs as the whole-row tf cumsum, for any doc-range slice of
    any multi-block list — the phrase doc-range skip path
    (executor._SplitPostings.phrase_view)."""
    from quickwit_spark.functions.codec import (
        BLOCK,
        block_tf_cum,
        decode_positions_at,
        decode_positions_subset,
    )

    tfs = np.array(tfs_list, np.int64)
    n = len(tfs)
    # synthetic increasing positions per doc
    flat = np.concatenate([np.arange(t, dtype=np.uint32) * 3 + 1 for t in tfs])
    blob = encode_positions(flat, tfs)
    tfc = block_tf_cum(tfs)
    # the skip data equals the whole-row exclusive cumsum at block starts
    full_ex = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    np.testing.assert_array_equal(tfc, full_ex[np.arange(0, n, BLOCK)])
    # any contiguous block slice: vstarts reconstructed from skip data
    nblk = len(tfc)
    b0 = data.draw(st.integers(0, nblk - 1))
    b1 = data.draw(st.integers(b0 + 1, nblk))
    lo_i, hi_i = b0 * BLOCK, min(b1 * BLOCK, n)
    t_slice = tfs[lo_i:hi_i]
    ex = np.cumsum(t_slice) - t_slice
    sizes = np.minimum(
        np.arange(b0, b1) * BLOCK + BLOCK, n
    ) - np.arange(b0, b1) * BLOCK
    bstart = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    vstarts = ex - np.repeat(ex[bstart], sizes) + np.repeat(tfc[b0:b1], sizes)
    np.testing.assert_array_equal(vstarts, full_ex[lo_i:hi_i])
    # and decode_positions_at on those offsets == subset decode
    idx = np.arange(lo_i, hi_i, dtype=np.int64)
    np.testing.assert_array_equal(
        decode_positions_at(blob, vstarts, t_slice),
        decode_positions_subset(blob, tfs, idx),
    )


def test_phrase_view_fallback_matches_skip_path():
    """_SplitPostings.phrase_view: the block-sliced skip path and the
    whole-row fallback (row without block_tf_cum — a round-2 split) return
    identical (docs, tfs, vstarts) for the same doc range."""
    import pandas as pd

    from quickwit_spark.functions.codec import block_tf_cum, encode_postings
    from quickwit_spark.search.executor import _SplitPostings

    rng = np.random.default_rng(7)
    docs = np.sort(rng.choice(5000, size=900, replace=False)).astype(np.uint32)
    tfs = rng.integers(1, 6, size=900).astype(np.uint32)
    flat = np.concatenate([np.arange(t, dtype=np.uint32) for t in tfs])
    blob, last_doc, max_tf = encode_postings(docs, tfs)
    row = {
        "field": "text", "term": "x", "doc_freq": 900,
        "blob": blob, "positions": encode_positions(flat, tfs),
        "block_last_doc": last_doc.astype(np.int64).tolist(),
        "block_max_tf": max_tf.astype(np.int64).tolist(),
        "block_tf_cum": block_tf_cum(tfs).tolist(),
    }
    for lo, hi in [(0, 5000), (1000, 2000), (4900, 5000), (0, 1), (2500, 2501)]:
        with_skip = _SplitPostings(pd.DataFrame([row]), lo, hi)
        legacy = _SplitPostings(
            pd.DataFrame([{k: v for k, v in row.items() if k != "block_tf_cum"}]),
            lo, hi,
        )
        a = with_skip.phrase_view(("text", "x"))
        b = legacy.phrase_view(("text", "x"))
        for x, y in zip(a, b):
            np.testing.assert_array_equal(x, y)
        np.testing.assert_array_equal(
            with_skip.positions_at(("text", "x"), a[2], a[1]),
            legacy.positions_at(("text", "x"), b[2], b[1]),
        )


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 300),  # list length
            st.integers(8, 32),  # doc-id magnitude (bits)
            st.integers(1, 12),  # tf magnitude (bits)
        ),
        min_size=0,
        max_size=30,
    ),
    st.integers(0, 2**31 - 1),
)
def test_batched_decoders_match_per_blob(specs, seed):
    """decode_gaps_tfs_many / decode_u32_many == the per-blob decoders, for
    any mix of single-block and multi-block blobs (the merge fast path)."""
    from quickwit_spark.functions.codec import decode_gaps_tfs_many, decode_u32_many

    rng = np.random.default_rng(seed)
    blobs, cols, expect = [], [], []
    for n, db, tb in specs:
        docs = np.unique(rng.integers(0, 1 << db, n).astype(np.uint32))
        tfs = rng.integers(1, 1 << tb, len(docs)).astype(np.uint32)
        blob, _, _ = encode_postings(docs, tfs)
        blobs.append(blob)
        cols.append(encode_u32_column(tfs))
        expect.append((docs, tfs))
    gaps, tfs_f, counts = decode_gaps_tfs_many(blobs)
    vals, ns = decode_u32_many(cols)
    assert counts.tolist() == [len(d) for d, _ in expect]
    off = np.concatenate(([0], np.cumsum(counts)[:-1])) if len(counts) else []
    for i, (docs, tfs) in enumerate(expect):
        g = gaps[off[i] : off[i] + counts[i]]
        np.testing.assert_array_equal(
            np.cumsum(g.astype(np.uint64)).astype(np.uint32), docs
        )
        np.testing.assert_array_equal(tfs_f[off[i] : off[i] + counts[i]], tfs)
        np.testing.assert_array_equal(vals[off[i] : off[i] + counts[i]], tfs)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.lists(st.integers(0, 60000), min_size=1, max_size=15), min_size=1, max_size=25),
)
def test_position_deltas_many_roundtrip(doclists):
    """position_deltas_many returns the raw delta streams: re-packing a
    blob's stream at its own width must round-trip through
    decode_positions (the merge concat path)."""
    from quickwit_spark.functions.codec import (
        encode_positions_from_deltas,
        position_deltas_many,
    )

    doclists = [sorted(d) for d in doclists]
    tfs = np.array([len(d) for d in doclists], np.int64)
    flat = np.array([p for d in doclists for p in d], np.uint32)
    blob = encode_positions(flat, tfs)
    deltas, cnts, ws = position_deltas_many([blob, blob])
    assert cnts.tolist() == [len(flat)] * 2
    for k in range(2):
        sl = deltas[k * len(flat) : (k + 1) * len(flat)]
        got = decode_positions(encode_positions_from_deltas(sl, int(ws[k])), tfs)
        np.testing.assert_array_equal(got, flat)


def _merge_groups_per_term(blobs, positions, lens_blobs, offsets, g_starts, g_ends):
    """Reference k-way merge: decode every row to absolute doc ids, concat
    per group and encode each term with the per-term encoders."""
    from quickwit_spark.functions.codec import (
        block_tf_cum,
        encode_positions_from_deltas,
        position_deltas_many,
    )

    out = []
    for s, e in zip(g_starts, g_ends):
        docs, tfs, lens, deltas, widths = [], [], [], [], []
        for j in range(s, e):
            d, t = decode_postings(blobs[j])
            docs.append(d.astype(np.int64) + offsets[j])
            tfs.append(t)
            lens.append(decode_u32_column(lens_blobs[j]))
            if positions[j] is not None:
                dl, _, w = position_deltas_many([positions[j]])
                deltas.append(dl)
                widths.append(int(w[0]))
        docs, tfs, lens = np.concatenate(docs), np.concatenate(tfs), np.concatenate(lens)
        blob, last_doc, max_tf = encode_postings(docs, tfs)
        pos = (
            encode_positions_from_deltas(np.concatenate(deltas), max(widths))
            if widths
            else None
        )
        out.append((
            len(docs), int(tfs.sum()), blob, pos, encode_u32_column(lens),
            last_doc.astype(np.int64).tolist(), max_tf.astype(np.int64).tolist(),
            np.minimum.reduceat(lens, np.arange(0, len(docs), BLOCK)).astype(np.int64).tolist(),
            block_tf_cum(tfs).tolist(),
        ))
    return out


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**31 - 1))
def test_merge_posting_groups_batched_matches_per_term(seed):
    """The batched single-block re-encode of merge_posting_groups gives
    bit-identical row tails to per-term encoding, for random groups mixing
    single- and multi-block results, positions on and off, and differing
    input widths."""
    from quickwit_spark.functions.codec import merge_posting_groups

    rng = np.random.default_rng(seed)
    blobs, poss, lenss, offsets, lasts, g_starts, g_ends = [], [], [], [], [], [], []
    for _ in range(int(rng.integers(1, 40))):
        with_pos = bool(rng.integers(0, 2))
        g_starts.append(len(blobs))
        base = int(rng.integers(0, 1000))
        for _ in range(int(rng.integers(1, 5))):
            # mostly tiny rows; sometimes big enough for a multi-block group
            df = int(rng.integers(1, 200 if rng.random() < 0.15 else 40))
            span = df + int(rng.integers(0, 1 << int(rng.integers(1, 16))))
            docs = np.sort(rng.choice(span, df, replace=False)).astype(np.uint32)
            tfs = rng.integers(1, 1 << int(rng.integers(1, 6)), df).astype(np.uint32)
            blob, last, _ = encode_postings(docs, tfs)
            blobs.append(blob)
            lenss.append(encode_u32_column(rng.integers(1, 1 << int(rng.integers(1, 12)), df)))
            offsets.append(base)
            lasts.append(int(last[-1]))
            base += span
            if with_pos:
                pb = int(rng.integers(0, 14))
                flat = np.concatenate([
                    np.sort(rng.choice(max(int(t), 1 << pb), int(t), replace=False))
                    for t in tfs
                ]).astype(np.uint32)
                poss.append(encode_positions(flat, tfs))
            else:
                poss.append(None)
        g_ends.append(len(blobs))
    got = merge_posting_groups(
        blobs, poss, lenss, np.asarray(offsets), np.asarray(lasts),
        np.asarray(g_starts), np.asarray(g_ends),
    )
    want = _merge_groups_per_term(blobs, poss, lenss, offsets, g_starts, g_ends)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w
