"""Single-read split open — the hotcache analog.

The reference packs a split into ONE bundle file whose tail carries a
"hotcache": the footers/metadata of every inner file, so a cold split
open costs a single ranged GET instead of one round trip per inner file
(quickwit-storage/src/split.rs:103-180 packs the bundle,
quickwit-directories/src/hot_directory.rs:35-123 serves file reads from
the cached slices).

Our split is a directory of parquet objects (docs / postings /
fastfields), which merge units read and write part by part — so instead
of one bundle we write ONE SIDECAR per split at finalize:

    <index>/hotcache/split_id=<sid>/hotcache.bin

containing, in a single object:

* the split's file listing (names + sizes for docs/postings/fastfields)
  — replaces per-table LISTs at open;
* the parquet FOOTER of every postings/docs part — replaces the footer
  read per part that an open from a listing issues;
* the fastfields parquet payload when the split's fast fields total at
  most ``FF_EMBED_MAX`` bytes — the scorer needs doc lens/timestamps for
  every scored query anyway (the reference's hotcache likewise carries
  fieldnorms and fast-field headers in full).  Bigger fast-field parts
  (merged multi-M-doc splits) are stored like postings parts: their
  footer, and the part itself is read from its own file on first use.

A cold leaf open on an object store is then exactly TWO storage reads —
one HEAD (the cache-epoch token) + one GET (this object) — before the
first postings byte; postings data itself is served by row-group ranged
reads through the stored footers (``search/split_io.SplitFooters``).
Splits without a sidecar open from a listing instead (one LIST per table
plus one footer read per part), so the sidecar is an accelerator, never
a correctness dependency.  Local filesystems always open from a listing:
a local footer read is a syscall, not a round trip, so local builds
write no sidecar.

Entry kinds: ``tail`` — bytes ending at the part's end whose last
``meta_len + 8`` are its footer (the exact footer in sidecars written
now, a 64 KB tail in older ones); ``full`` — a whole inline fastfields part;
``ext`` (version 2) — a fastfields part copied to a sibling object, read
now as a reference to the part's own file (its footer comes from there).
"""

from __future__ import annotations

import json
import os
import struct

MAGIC = b"QWHC"
HOTCACHE_VERSION = 3
HOTCACHE_DIRNAME = "hotcache"
# a split's fast-field parts embed inline up to this many bytes in total
FF_EMBED_MAX = 8 << 20
# footers are read as one ranged read of this many bytes; parquet footers
# of our files are a few KB, so one read suffices
_TAIL_GUESS = 64 << 10


def hotcache_path(index_dir: str, split_id: str) -> str:
    return os.path.join(
        index_dir, HOTCACHE_DIRNAME, f"split_id={split_id}", "hotcache.bin"
    )


def footer_of(tail: bytes) -> bytes:
    """The parquet footer (thrift metadata, its length, the magic) that
    ``tail`` ends with."""
    if len(tail) < 8 or tail[-4:] != b"PAR1":
        raise ValueError("stored tail does not end with a parquet footer")
    (meta_len,) = struct.unpack("<I", tail[-8:-4])
    if len(tail) < meta_len + 8:
        raise ValueError("stored tail does not hold the whole parquet footer")
    return tail[-(meta_len + 8):]


def _read_footer(storage, logical: str, size: int) -> bytes:
    """One part's exact footer: one ranged read of its tail, a second one
    only when the footer is longer than the guess (giant schemas)."""
    want = min(size, _TAIL_GUESS)
    with storage.fs.open_input_file(storage.fs_path(logical)) as f:
        tail = f.read_at(want, size - want)
        (meta_len,) = struct.unpack("<I", tail[-8:-4])
        if meta_len + 8 > len(tail):
            tail = f.read_at(meta_len + 8, size - meta_len - 8)
    return footer_of(tail)


def write_split_hotcache(paths: dict, split_id: str) -> None:
    """Build + PUT the split's hotcache sidecar.  Called at split finalize
    (builder in-task, merge driver-side) AFTER the data files exist and
    BEFORE the catalog stage/publish — like every split file, it is
    invisible until the catalog commit and immutable afterwards.

    Fast-field parts totalling at most ``FF_EMBED_MAX`` bytes embed inline
    (version-1 format, cold scored open = 2 reads); bigger ones are stored
    by footer (version 3), and scoring reads them from their own files."""
    from ..storage import storage_for

    storage = storage_for(paths["hotcache"])
    listing = {
        table: storage.list_file_sizes(os.path.join(paths[table], f"split_id={split_id}"))
        for table in ("postings", "docs", "fastfields")
    }
    embed_ff = sum(size for _, size in listing["fastfields"]) <= FF_EMBED_MAX
    tables: dict[str, list[dict]] = {}
    blobs: list[bytes] = []
    off = 0
    for table, files in listing.items():
        entries = tables[table] = []
        for logical, size in files:
            if table == "fastfields" and embed_ff:
                blob, kind = storage.read_bytes(logical), "full"
            else:
                blob, kind = _read_footer(storage, logical, size), "tail"
            entries.append({"name": os.path.basename(logical), "size": size,
                            "kind": kind, "off": off, "len": len(blob)})
            blobs.append(blob)
            off += len(blob)
    # embedded-fast-field sidecars keep the version-1 bytes (older readers
    # open them unchanged); fast fields stored by footer need version 3
    version = 1 if embed_ff else HOTCACHE_VERSION
    header = json.dumps(
        {"version": version, "split_id": split_id, "tables": tables}
    ).encode("utf-8")
    out = b"".join(
        [MAGIC, struct.pack("<I", version), struct.pack("<I", len(header)), header]
        + blobs
    )
    storage.write_bytes(hotcache_path(os.path.dirname(paths["hotcache"]), split_id), out)


def parse_hotcache(data: bytes) -> dict[str, list[tuple[str, int, str, bytes]]]:
    """table → [(part name, size, kind, bytes)] of a sidecar, in name
    order: a ``tail`` entry's bytes are the part's exact footer, a
    ``full`` entry's the whole part, an ``ext`` entry's empty.
    ValueError on a foreign, truncated or future object."""
    if data[:4] != MAGIC or len(data) < 12:
        raise ValueError("not a hotcache object")
    version = struct.unpack("<I", data[4:8])[0]
    if version > HOTCACHE_VERSION:
        raise ValueError(f"hotcache version {version} is from the future")
    hlen = struct.unpack("<I", data[8:12])[0]
    base = 12 + hlen
    out = {}
    try:
        for table, entries in json.loads(data[12:base])["tables"].items():
            out[table] = []
            for e in entries:
                kind, blob = e.get("kind", "tail"), b""
                if kind != "ext":  # 'ext' offsets point into the old sibling
                    s = base + e["off"]
                    blob = data[s : s + e["len"]]
                    if len(blob) != e["len"]:
                        raise ValueError("truncated hotcache object")
                    if kind == "tail":
                        blob = footer_of(blob)
                out[table].append((e["name"], e["size"], kind, blob))
    except (KeyError, TypeError, AttributeError) as e:
        raise ValueError("malformed hotcache header") from e
    return out
