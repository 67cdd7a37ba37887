"""Per-split term-presence Bloom filter — driver-side split pruning for
selective queries.

The reference opens every split's FST and pays ~one dictionary probe to
learn a term is absent (tantivy ``TermDictionary::get``); our per-split
miss costs a whole Spark task, so at 10^4 splits a rare-term query would
schedule 10^4 tasks to find the ~k splits that matter.  This sidecar makes
term-presence a DRIVER-side check: each split publishes a small Bloom
filter over its (field, term) dictionary at

    <index>/termbloom/split_id=<sid>/bloom.bin

written at split finalize (builder, in-task) and derived by bit-OR at
merge/demux (see ``fold_or`` — no rescan of the merged postings), GC'd
with the split like any table.  The root loads candidate splits' blooms
once (immutable; byte-capped driver LRU) and drops every split that
provably lacks a required term — splits a Bloom can only FALSE-POSITIVE
into the leaf job, never falsely out of it, so pruning is always safe.

Determinism note: membership hashing is blake2b (not a language/library
hash) — a Bloom written by one pandas/numpy version MUST answer probes
from any other, and a hash mismatch would be a silent FALSE NEGATIVE
(wrong query results), the one failure mode a Bloom must never have.

Sizing: m = next power of two >= BITS_PER_TERM * n_terms (k=6 probes,
false-positive rate ~2% at 10 bits/term), capped at MAX_BITS
(2^25 bits = 4 MiB) — a cap overflow only raises the FP rate
(less pruning), never correctness.  A merged 10M-doc transcript split
(~1-2M terms) stays under the cap at ~10 bits/term.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct

import numpy as np

MAGIC = b"QWTB"
TERMBLOOM_VERSION = 1
TERMBLOOM_DIRNAME = "termbloom"
K_PROBES = 6
BITS_PER_TERM = 10
MIN_BITS = 1 << 13  # 1 KiB floor — header dominates below this
MAX_BITS = 1 << 25  # 4 MiB cap per split filter


def bloom_path(index_dir: str, split_id: str) -> str:
    return os.path.join(
        index_dir, TERMBLOOM_DIRNAME, f"split_id={split_id}", "bloom.bin"
    )


def _hash_pair(field: str, term: str) -> tuple[int, int]:
    """Two independent 64-bit hashes of one dictionary entry (Kirsch-
    Mitzenmacher double hashing: probe_i = h1 + i*h2)."""
    d = hashlib.blake2b(
        f"{field}\x1f{term}".encode("utf-8"), digest_size=16
    ).digest()
    return struct.unpack("<QQ", d)


def _pick_bits(n_terms: int) -> int:
    m = MIN_BITS
    want = max(1, n_terms) * BITS_PER_TERM
    cap = MAX_BITS
    while m < want and m < cap:
        m <<= 1
    return m


def build_bloom(entries) -> bytes:
    """Serialize a Bloom over ``entries`` (iterable of (field, term))."""
    pairs = [_hash_pair(f, t) for f, t in entries]
    m = _pick_bits(len(pairs))
    bits = np.zeros(m >> 3, np.uint8)
    if pairs:
        h = np.asarray(pairs, np.uint64)  # (n, 2)
        mask = np.uint64(m - 1)
        for i in range(K_PROBES):
            pos = (h[:, 0] + np.uint64(i) * h[:, 1]) & mask
            np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                             np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)))
    header = json.dumps(
        {"version": TERMBLOOM_VERSION, "k": K_PROBES, "m_bits": m,
         "n_terms": len(pairs)}
    ).encode()
    return b"".join(
        [MAGIC, struct.pack("<I", TERMBLOOM_VERSION),
         struct.pack("<I", len(header)), header, bits.tobytes()]
    )


class TermBloom:
    """Parsed bloom.bin — in-memory probes only."""

    def __init__(self, data: bytes):
        if data[:4] != MAGIC:
            raise ValueError("not a termbloom object")
        version = struct.unpack("<I", data[4:8])[0]
        if version > TERMBLOOM_VERSION:
            raise ValueError(f"termbloom version {version} is from the future")
        hlen = struct.unpack("<I", data[8:12])[0]
        self.header = json.loads(data[12 : 12 + hlen])
        self.k = int(self.header["k"])
        self.m = int(self.header["m_bits"])
        self.bits = np.frombuffer(data, np.uint8, self.m >> 3, 12 + hlen)
        self.nbytes = len(data)

    def may_contain(self, field: str, term: str) -> bool:
        h1, h2 = _hash_pair(field, term)
        mask = self.m - 1
        for i in range(self.k):
            pos = (h1 + i * h2) & mask
            if not (self.bits[pos >> 3] >> (pos & 7)) & 1:
                return False
        return True


def fold_or(blobs: list[bytes]) -> bytes:
    """Bloom of a MERGED split from its inputs' blooms, no postings rescan:
    fold every input down to the smallest m (OR-ing a power-of-two Bloom's
    halves preserves membership — position mod the smaller m), then OR.
    The result may-contain every input term (supersets are safe: a demuxed
    split that dropped some terms keeps a conservative Bloom)."""
    parsed = [TermBloom(b) for b in blobs]
    if len({p.k for p in parsed}) != 1:
        # mixed probe counts cannot OR meaningfully (future-version inputs)
        raise ValueError("cannot fold blooms with differing k")
    m = min(p.m for p in parsed)
    acc = np.zeros(m >> 3, np.uint8)
    n_terms = 0
    for p in parsed:
        bits = p.bits
        while len(bits) > (m >> 3):
            half = len(bits) >> 1
            bits = bits[:half] | bits[half:]
        acc |= bits
        n_terms += int(p.header.get("n_terms", 0))
    header = json.dumps(
        {"version": TERMBLOOM_VERSION, "k": K_PROBES, "m_bits": m,
         "n_terms": n_terms}
    ).encode()
    return b"".join(
        [MAGIC, struct.pack("<I", TERMBLOOM_VERSION),
         struct.pack("<I", len(header)), header, acc.tobytes()]
    )


def write_split_termbloom(paths: dict, split_id: str) -> None:
    """Build + PUT one split's Bloom from its termstats sidecar (the
    (bucket, field, term, doc_freq) dictionary written at the same
    finalize).  Like every split file: written before the catalog
    stage/publish, invisible until commit, immutable after."""
    import pyarrow.dataset as pads

    from ..storage import storage_for

    st = storage_for(paths["termbloom"])
    ts_dir = os.path.join(paths["termstats"], f"split_id={split_id}")
    files = st.list_files(ts_dir)
    if not files:
        return  # no dictionary (empty split) — probe-less, never pruned
    tbl = pads.dataset(
        [st.fs_path(f) for f in files], filesystem=st.fs
    ).to_table(columns=["field", "term"])
    pdf = tbl.to_pandas()
    blob = build_bloom(zip(pdf["field"], pdf["term"]))
    st.write_bytes(
        bloom_path(os.path.dirname(paths["termbloom"]), split_id), blob
    )


def derive_merged_termbloom(
    paths: dict, input_split_ids: list[str], output_split_id: str
) -> bool:
    """Write the output split's Bloom as the fold-OR of its inputs' blooms
    (merge/demux path — the merged dictionary is a subset of the union).
    Returns False (and writes nothing) if any input lacks one: a missing
    Bloom just means that split is never term-pruned."""
    from ..storage import storage_for

    st = storage_for(paths["termbloom"])
    index_dir = os.path.dirname(paths["termbloom"])
    blobs = []
    for sid in input_split_ids:
        p = bloom_path(index_dir, sid)
        if not st.exists(p):
            return False
        blobs.append(st.read_bytes(p))
    try:
        folded = fold_or(blobs)
    except ValueError:
        return False
    st.write_bytes(bloom_path(index_dir, output_split_id), folded)
    return True
