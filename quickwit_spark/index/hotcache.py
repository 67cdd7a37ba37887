"""Single-read split open — the hotcache analog.

The reference packs a split into ONE bundle file whose tail carries a
"hotcache": the footers/metadata of every inner file, so a cold split
open costs a single ranged GET instead of one round trip per inner file
(quickwit-storage/src/split.rs:103-180 packs the bundle,
quickwit-directories/src/hot_directory.rs:35-123 serves file reads from
the cached slices).

Our split is a directory of parquet objects (docs / postings /
fastfields), which Spark needs for the merge pipeline's native reads —
so instead of one bundle we write ONE SIDECAR per split at finalize:

    <index>/hotcache/split_id=<sid>/hotcache.bin

containing, in a single object:

* the split's file listing (names + sizes for docs/postings/fastfields)
  — replaces per-table LISTs at open;
* the parquet FOOTER TAIL of every postings/docs part — replaces the
  footer GET per part that a pyarrow dataset open would issue;
* the ENTIRE fastfields parquet payload — the scorer needs doc
  lens/timestamps for every scored query anyway, and it is the split's
  smallest table (the reference's hotcache likewise carries fieldnorms
  and fast-field headers in full).

A cold leaf open on an object store is then exactly TWO storage reads —
one HEAD (the worker-cache epoch token) + one GET (this object) — before
the first postings byte; postings data itself is served by row-group
ranged reads through the cached footers (`tail_file`).  Splits written
before this existed (or whose hotcache is missing) fall back to the
listing path, so the sidecar is an accelerator, never a correctness
dependency.

Local filesystems skip the read path by default: mmap'd pyarrow datasets
are already single-digit-µs there, and serving parquet through a Python
file object would add overhead for nothing.  QW_FORCE_HOTCACHE=1 forces
it on (tests).
"""

from __future__ import annotations

import io
import json
import os
import struct

MAGIC = b"QWHC"
HOTCACHE_VERSION = 2
HOTCACHE_DIRNAME = "hotcache"
# footer tails are read as one ranged GET of this many bytes; parquet
# footers of our 4k-row-group files are a few KB, so one read suffices
_TAIL_GUESS = 64 << 10


def _embed_ff_max() -> int:
    """Fastfields payloads up to this many bytes embed in hotcache.bin
    (cold scored open = 1 HEAD + 1 GET, the round-2 shape).  Above it —
    merged 10M-doc splits, where the payload is no longer 'hot-cache-
    sized' — the payload moves to a SIBLING object fetched once on first
    scoring use: the footer part a cold open always pays stays
    hotcache-sized (still 1 HEAD + 1 GET) and the big payload is one
    further GET when the split's fast fields are parsed (the parsed table
    is cached, not the payload)."""
    return int(os.environ.get("QW_HOTCACHE_EMBED_FF_BYTES", str(8 << 20)))


def hotcache_path(index_dir: str, split_id: str) -> str:
    return os.path.join(
        index_dir, HOTCACHE_DIRNAME, f"split_id={split_id}", "hotcache.bin"
    )


def hotcache_ff_path(index_dir: str, split_id: str) -> str:
    """Sibling object carrying a BIG split's full fastfields payload
    (entries of kind 'ext' offset into it)."""
    return os.path.join(
        index_dir, HOTCACHE_DIRNAME, f"split_id={split_id}", "hotcache-ff.bin"
    )


def _list_with_sizes(storage, logical_dir: str) -> list[tuple[str, int]]:
    """Sorted (file name, size) of the dir's parquet files — ONE list call."""
    import pyarrow.fs as pafs

    sel = pafs.FileSelector(
        storage.fs_path(logical_dir), allow_not_found=True, recursive=False
    )
    return sorted(
        (os.path.basename(i.path), int(i.size or 0))
        for i in storage.fs.get_file_info(sel)
        if i.type == pafs.FileType.File and i.path.endswith(".parquet")
    )


def _read_tail(storage, logical: str, size: int) -> bytes:
    """The parquet footer tail of one file: last _TAIL_GUESS bytes, grown
    if the footer metadata is longer (rare: giant schemas)."""
    want = min(size, _TAIL_GUESS)
    with storage.fs.open_input_file(storage.fs_path(logical)) as f:
        tail = f.read_at(want, size - want)
        if size >= 8:
            (meta_len,) = struct.unpack("<I", tail[-8:-4])
            need = meta_len + 8
            if need > len(tail) and need <= size:
                tail = f.read_at(need, size - need)
    return tail


def write_split_hotcache(
    paths: dict, split_id: str, embed_ff_max: int | None = None
) -> None:
    """Build + PUT the split's hotcache sidecar.  Called at split finalize
    (builder in-task, merge driver-side) AFTER the data files exist and
    BEFORE the catalog stage/publish — like every split file, it is
    invisible until the catalog commit and immutable afterwards.

    Fastfields payloads up to ``embed_ff_max`` bytes (default
    QW_HOTCACHE_EMBED_FF_BYTES; pass explicitly from in-task callers —
    worker env is frozen at JVM start) embed inline (version-1 format,
    cold scored open = 2 reads).  Bigger payloads — merged multi-M-doc
    splits — write to the sibling ``hotcache-ff.bin`` (version-2 'ext'
    entries): the footer part stays hotcache-sized and is still 1 HEAD +
    1 GET; scoring adds ONE GET of the sibling on first use."""
    from ..storage import storage_for

    if embed_ff_max is None:
        embed_ff_max = _embed_ff_max()
    hc_dir = paths["hotcache"]
    index_dir = os.path.dirname(hc_dir)
    storage = storage_for(hc_dir)
    tables: dict[str, list[dict]] = {}
    blobs: list[bytes] = []
    off = 0
    ff_sizes = _list_with_sizes(storage, os.path.join(paths["fastfields"], f"split_id={split_id}"))
    externalize = sum(s for _, s in ff_sizes) > embed_ff_max
    ext_blobs: list[bytes] = []
    ext_off = 0
    for table in ("postings", "docs", "fastfields"):
        d = os.path.join(paths[table], f"split_id={split_id}")
        entries = []
        for name, size in _list_with_sizes(storage, d):
            logical = os.path.join(d, name)
            if table == "fastfields":
                blob = storage.read_bytes(logical)
                if externalize:
                    entries.append(
                        {"name": name, "size": size, "kind": "ext",
                         "off": ext_off, "len": len(blob)}
                    )
                    ext_blobs.append(blob)
                    ext_off += len(blob)
                    continue
                kind = "full"
            else:
                blob = _read_tail(storage, logical, size)
                kind = "tail"
            entries.append(
                {"name": name, "size": size, "kind": kind, "off": off, "len": len(blob)}
            )
            blobs.append(blob)
            off += len(blob)
        tables[table] = entries
    # embedded-only sidecars keep the version-1 bytes (older readers open
    # them unchanged); only 'ext' entries need the version bump
    version = 2 if externalize else 1
    header = json.dumps(
        {"version": version, "split_id": split_id, "tables": tables}
    ).encode("utf-8")
    out = b"".join(
        [MAGIC, struct.pack("<I", version), struct.pack("<I", len(header)), header]
        + blobs
    )
    if externalize:
        storage.write_bytes(hotcache_ff_path(index_dir, split_id), b"".join(ext_blobs))
    storage.write_bytes(hotcache_path(index_dir, split_id), out)


class Hotcache:
    """Parsed hotcache of one split + lazily-opened per-part readers."""

    def __init__(self, index_dir: str, split_id: str, data: bytes, token):
        if data[:4] != MAGIC:
            raise ValueError("not a hotcache object")
        version = struct.unpack("<I", data[4:8])[0]
        if version > HOTCACHE_VERSION:
            raise ValueError(f"hotcache version {version} is from the future")
        hlen = struct.unpack("<I", data[8:12])[0]
        self.header = json.loads(data[12 : 12 + hlen])
        self._blob_base = 12 + hlen
        self._data = data
        self.index_dir = index_dir
        self.split_id = split_id
        # cache-epoch token (the hotcache object's mtime/size): published
        # splits are immutable, so this only changes on rebuild-in-place
        self.token = token
        self.nbytes = len(data)
        self._pq_files: dict = {}

    def files(self, table: str) -> list[tuple[str, int]]:
        return [(e["name"], e["size"]) for e in self.header["tables"][table]]

    def _blob(self, entry: dict) -> bytes:
        s = self._blob_base + entry["off"]
        return self._data[s : s + entry["len"]]

    def fastfields_pdf(self):
        """The whole fastfields table (same name-ordered concat as the
        dataset path).  'ext' entries slice the sibling payload, fetched
        with ONE GET per call and not kept: the caller caches the parsed
        table, not these bytes."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        entries = self.header["tables"]["fastfields"]
        ext = None
        if any(e.get("kind") == "ext" for e in entries):
            from ..search.plan import _count_read
            from ..storage import storage_for

            _count_read("get")
            ext = storage_for(self.index_dir).read_bytes(
                hotcache_ff_path(self.index_dir, self.split_id)
            )
        parts = [
            pq.read_table(pa.BufferReader(
                ext[e["off"] : e["off"] + e["len"]] if e.get("kind") == "ext"
                else self._blob(e)
            ))
            for e in entries
        ]
        if not parts:
            return None
        return (
            pa.concat_tables(parts).to_pandas()
            if len(parts) > 1
            else parts[0].to_pandas()
        )

    def close(self) -> None:
        """Release the per-part readers and their remote file handles
        (cache eviction calls this so evicted entries don't pin fds)."""
        for pf in self._pq_files.values():
            try:
                pf.close()
            except Exception:
                pass
        self._pq_files.clear()

    def parquet_file(self, storage, table: str, name: str):
        """Worker-cached pyarrow ParquetFile over one part, with the footer
        served from the embedded tail — opening it costs ZERO storage
        reads; row-group reads issue ranged GETs (pre-buffered/coalesced)."""
        key = (table, name)
        pf = self._pq_files.get(key)
        if pf is None:
            import pyarrow.parquet as pq

            entry = next(
                e for e in self.header["tables"][table] if e["name"] == name
            )
            logical = os.path.join(
                self.index_dir, table, f"split_id={self.split_id}", name
            )
            f = _TailBackedFile(storage, logical, entry["size"], self._blob(entry))
            pf = pq.ParquetFile(f, pre_buffer=True)
            self._pq_files[key] = pf
        return pf


class _TailBackedFile(io.RawIOBase):
    """Seekable read-only file: byte ranges inside the cached tail are
    served from memory (footer parses never touch storage); anything else
    opens the remote object lazily and reads by range (hot_directory.rs's
    read-through behavior)."""

    def __init__(self, storage, logical: str, size: int, tail: bytes):
        self._storage = storage
        self._logical = logical
        self._size = size
        self._tail = tail
        self._tail_off = size - len(tail)
        self._pos = 0
        self._remote = None

    def readable(self):
        return True

    def seekable(self):
        return True

    def seek(self, off: int, whence: int = os.SEEK_SET) -> int:
        if whence == os.SEEK_SET:
            self._pos = off
        elif whence == os.SEEK_CUR:
            self._pos += off
        else:
            self._pos = self._size + off
        return self._pos

    def tell(self) -> int:
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._size - self._pos
        n = max(0, min(n, self._size - self._pos))
        if n == 0:
            return b""
        start, end = self._pos, self._pos + n
        if start >= self._tail_off:
            out = self._tail[start - self._tail_off : end - self._tail_off]
        elif end <= self._tail_off:
            out = self._read_remote(start, n)
        else:  # straddles the cached boundary
            head = self._read_remote(start, self._tail_off - start)
            out = head + self._tail[: end - self._tail_off]
        self._pos += len(out)
        return out

    def _read_remote(self, off: int, n: int) -> bytes:
        if self._remote is None:
            self._remote = self._storage.fs.open_input_file(
                self._storage.fs_path(self._logical)
            )
        return self._remote.read_at(n, off)

    def close(self):
        if self._remote is not None:
            self._remote.close()
            self._remote = None
        super().close()
