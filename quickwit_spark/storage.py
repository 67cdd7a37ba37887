"""Storage abstraction — the quickwit-storage/src/storage.rs analog.

Every index-dir touch (split writes, leaf reads, merge rewrites, GC
deletes, catalog commits) routes through ONE resolved `Storage`, so an
index can live on local disk, S3/GCS/Azure (pyarrow.fs), or any custom
scheme, without the engine assuming POSIX semantics:

* **No renames in the publish protocol.**  The reference's S3-first design
  (object_storage/s3_compatible_storage.rs) publishes by PUT-then-
  metastore-commit; here, split files are written straight to their final
  (content-unique, unpublished) names and the CATALOG write is the only
  commit point — readers never look at a split dir the catalog doesn't
  list as Published, so partial writes are invisible and crash-retries
  simply overwrite.  On local filesystems writes still go through a
  temp-name + atomic rename (free crash hygiene), but nothing in the
  protocol *requires* it.
* **Logical paths keep the index-dir's own form** ("/data/idx" or
  "s3://bucket/idx"); `os.path.join` composes them, and Storage strips
  the scheme for pyarrow-native calls.
* **Spark jobs see the same data** via `spark_url()` (s3:// → s3a:// for
  Hadoop); schemes Spark cannot read raise, so the paths that read split
  tables with Spark SQL (demux, cluster-scale term-stats aggregation)
  degrade loudly, not silently.  Build and merge tasks read and write
  split files through this layer themselves.

The `qwsim://` scheme is an object-store SIMULATOR for tests: a local-
disk-backed pyarrow FileSystem whose handler hard-fails `move` and
append — running the full build/search/merge/GC cycle on it proves the
engine's own protocol never relies on rename, the property S3 lacks.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow.fs as pafs


class ObjectStoreSimHandler(pafs.FileSystemHandler):
    """Local-disk-backed FileSystemHandler with object-store semantics:
    whole-object PUT/GET/DELETE and prefix listing only — `move` and
    append raise, exactly like S3.  Used by the qwsim:// test scheme."""

    def __init__(self):
        self._local = pafs.LocalFileSystem()

    # identity / equality (required by pyarrow)
    def get_type_name(self):
        return "qwsim"

    def __eq__(self, other):
        return isinstance(other, ObjectStoreSimHandler)

    def __ne__(self, other):
        return not isinstance(other, ObjectStoreSimHandler)

    def get_file_info(self, paths):
        return self._local.get_file_info(paths)

    def get_file_info_selector(self, selector):
        return self._local.get_file_info(selector)

    def create_dir(self, path, recursive):
        # object stores have no directories; keys imply them.  The local
        # backing needs real dirs, created lazily by open_output_stream.
        pass

    def delete_dir(self, path):
        self._local.delete_dir(path)  # batch DELETE of a prefix

    def delete_dir_contents(self, path, missing_dir_ok=False):
        self._local.delete_dir_contents(path, missing_dir_ok=missing_dir_ok)

    def delete_root_dir_contents(self):
        raise NotImplementedError("refusing to clear a whole object store")

    def delete_file(self, path):
        self._local.delete_file(path)

    def move(self, src, dest):
        raise NotImplementedError(
            "object stores cannot rename (qwsim enforces this: the engine "
            "must publish via catalog commit, not move)"
        )

    def copy_file(self, src, dest):
        self._local.copy_file(src, dest)

    def open_input_stream(self, path):
        return self._local.open_input_stream(path)

    def open_input_file(self, path):
        return self._local.open_input_file(path)

    def open_output_stream(self, path, metadata):
        d = os.path.dirname(path)
        if d:
            os.makedirs(d, exist_ok=True)
        return self._local.open_output_stream(path)

    def open_append_stream(self, path, metadata):
        raise NotImplementedError("object stores cannot append")

    def normalize_path(self, path):
        return self._local.normalize_path(path)


class Storage:
    """One resolved (FileSystem, scheme) pair + the engine's I/O verbs.

    All methods take LOGICAL paths — the same form as the index dir
    ("/data/idx/docs" or "s3://bucket/idx/docs")."""

    def __init__(self, fs: pafs.FileSystem, scheme: str, spark_scheme: str | None):
        self.fs = fs
        self.scheme = scheme  # "" for plain local paths
        self.is_local = isinstance(fs, pafs.LocalFileSystem)
        # scheme Spark/Hadoop can read this storage under (s3 → s3a), or
        # None when Spark cannot see it
        self._spark_scheme = spark_scheme

    # -- path mapping -----------------------------------------------------
    def fs_path(self, logical: str) -> str:
        """Logical path → the filesystem's native path (scheme stripped)."""
        if "://" in logical:
            return logical.split("://", 1)[1]
        return logical

    def _logical(self, fsp: str) -> str:
        return f"{self.scheme}://{fsp}" if self.scheme else fsp

    def spark_url(self, logical: str) -> str:
        """URL Spark/Hadoop reads this path under; raises for schemes Spark
        cannot see (demux reads its inputs with Spark SQL)."""
        if self._spark_scheme is None:
            raise ValueError(
                f"storage scheme {self.scheme!r} is not Spark-readable; "
                "demux needs a Hadoop-visible index URI (file://, s3a://)"
            )
        p = self.fs_path(logical)
        return f"{self._spark_scheme}://{p}" if self._spark_scheme else p

    # -- metadata ----------------------------------------------------------
    def info(self, logical: str) -> pafs.FileInfo:
        return self.fs.get_file_info(self.fs_path(logical))

    def exists(self, logical: str) -> bool:
        return self.info(logical).type != pafs.FileType.NotFound

    def isdir(self, logical: str) -> bool:
        return self.info(logical).type == pafs.FileType.Directory

    def size(self, logical: str) -> int:
        return int(self.info(logical).size or 0)

    def mtime(self, logical: str) -> float:
        """Seconds-precision mtime for cache keys; 0.0 when missing.  On
        stores without directory mtimes, callers fold file mtimes in."""
        i = self.info(logical)
        if i.type == pafs.FileType.NotFound:
            return 0.0
        mt = i.mtime_ns
        return (mt / 1e9) if mt is not None else 0.0

    def makedirs(self, logical: str) -> None:
        self.fs.create_dir(self.fs_path(logical), recursive=True)

    def listing_fingerprint(self, logical_dir: str) -> float:
        """Cache-epoch stand-in for stores without directory mtimes: a
        stable hash of the dir's (file name, size, mtime) listing, so a
        delete-and-rebuild at the same path (deterministic split ids)
        changes every worker cache key.  One LIST per call (~ms on object
        stores); 0.0 when the dir is missing/empty."""
        import zlib

        sel = pafs.FileSelector(
            self.fs_path(logical_dir), allow_not_found=True, recursive=False
        )
        infos = self.fs.get_file_info(sel)
        acc = 0
        for i in sorted(infos, key=lambda x: x.path):
            if i.type != pafs.FileType.File:
                continue
            rec = f"{i.path}|{i.size}|{i.mtime_ns}".encode()
            acc = zlib.crc32(rec, acc)
        return float(acc)

    def list_files(self, logical_dir: str, suffix: str = ".parquet") -> list[str]:
        """Sorted logical paths of suffix-matching files directly under the
        dir (object-store prefix listing)."""
        return [p for p, _ in self.list_file_sizes(logical_dir, suffix)]

    def list_file_sizes(
        self, logical_dir: str, suffix: str = ".parquet"
    ) -> list[tuple[str, int]]:
        """:meth:`list_files` with each file's byte size (same one LIST)."""
        sel = pafs.FileSelector(
            self.fs_path(logical_dir), allow_not_found=True, recursive=False
        )
        infos = self.fs.get_file_info(sel)
        return sorted(
            (self._logical(i.path), int(i.size or 0))
            for i in infos
            if i.type == pafs.FileType.File and i.path.endswith(suffix)
        )

    # -- whole-object read/write -------------------------------------------
    def read_bytes(self, logical: str) -> bytes:
        with self.fs.open_input_stream(self.fs_path(logical)) as f:
            return f.read()

    def write_bytes(self, logical: str, data: bytes) -> None:
        """Whole-object PUT.  Local: temp + atomic rename (readers of the
        same path never see a torn file — the catalog needs this); object
        stores: direct PUT, which is atomic per-object by contract."""
        fsp = self.fs_path(logical)
        if self.is_local:
            os.makedirs(os.path.dirname(fsp), exist_ok=True)
            tmp = f"{fsp}.tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, fsp)
        else:
            with self.fs.open_output_stream(fsp) as f:
                f.write(data)

    def write_table(self, table, logical: str, row_group_size: int | None = None) -> int:
        """Write one parquet object; returns its byte size.  Local keeps the
        temp+rename hygiene; remote writes the final name directly — safe
        because split files are only read once their split id is published
        (catalog commit is the publish point)."""
        import pyarrow.parquet as pq

        fsp = self.fs_path(logical)
        stats = _stats_columns(table.schema)
        if self.is_local:
            os.makedirs(os.path.dirname(fsp), exist_ok=True)
            tmp = f"{fsp}.tmp-{os.getpid()}"
            pq.write_table(
                table,
                tmp,
                compression="snappy",
                row_group_size=row_group_size,
                write_statistics=stats,
            )
            size = os.path.getsize(tmp)
            os.replace(tmp, fsp)
            return size
        pq.write_table(
            table,
            fsp,
            compression="snappy",
            row_group_size=row_group_size,
            write_statistics=stats,
            filesystem=self.fs,
        )
        return self.size(logical)

    def parquet_writer(self, logical: str, schema, plain_columns=()):
        """Streaming ParquetWriter to a logical path.  Returns
        (writer, finish) — call finish() after writer.close() to make the
        object visible at its final name (local rename; remote no-op).
        ``plain_columns`` names top-level columns written without
        dictionary encoding (see _dictionary_columns)."""
        import pyarrow.parquet as pq

        fsp = self.fs_path(logical)
        opts = {"compression": "snappy", "write_statistics": _stats_columns(schema)}
        if plain_columns:
            opts["use_dictionary"] = _dictionary_columns(schema, plain_columns)
        if self.is_local:
            os.makedirs(os.path.dirname(fsp), exist_ok=True)
            tmp = f"{fsp}.tmp-{os.getpid()}"
            writer = pq.ParquetWriter(tmp, schema, **opts)
            return writer, lambda: os.replace(tmp, fsp)
        writer = pq.ParquetWriter(fsp, schema, filesystem=self.fs, **opts)
        return writer, lambda: None

    # -- conditional writes -------------------------------------------------
    def put_if_absent(self, logical: str, data: bytes) -> bool:
        """Conditional whole-object PUT: create the object with ``data``
        only if it does not already exist, ATOMICALLY across processes —
        the compare-and-swap primitive the CAS metastore's generation log
        commits through (metastore.CasObjectBackend).

        This is S3's ``If-None-Match: *`` conditional write (a standard
        S3 feature since late 2024), GCS's ``x-goog-if-generation-match:
        0``, and Azure's ``If-None-Match: *`` — every major object store
        has it.  pyarrow.fs cannot express the precondition header, so:

        * local-backed schemes (plain paths, file://, qwsim://) implement
          it exactly: the content is staged to a temp name, then
          hard-linked into place — ``link(2)`` is an atomic
          create-exclusive that fails with EEXIST if the key is taken, so
          the winner's object appears whole (never torn) and the loser
          learns it lost, precisely the conditional-PUT contract.  The
          qwsim:// object-store simulator thus ENFORCES the semantics the
          engine relies on (no rename anywhere: link creates a new name,
          it never moves or replaces one).
        * real remote filesystems raise until wired to their store's
          conditional-put API — committing without the precondition would
          silently lose racing catalog updates, the exact bug this
          primitive exists to prevent.

        Returns True iff this call created the object.
        """
        if self.scheme not in ("", "file", "qwsim"):
            raise NotImplementedError(
                f"put_if_absent on scheme {self.scheme!r}: pyarrow.fs cannot "
                "send conditional-put preconditions (S3 If-None-Match / GCS "
                "if-generation-match); wire the store's native API here "
                "before running a multi-writer metastore on it"
            )
        fsp = self.fs_path(logical)
        d = os.path.dirname(fsp)
        if d:
            os.makedirs(d, exist_ok=True)
        tmp = f"{fsp}.stage-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        try:
            with open(tmp, "wb") as f:
                f.write(data)
            try:
                os.link(tmp, fsp)
                return True
            except FileExistsError:
                return False
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    # -- deletes -------------------------------------------------------------
    def delete_dir(self, logical: str) -> None:
        try:
            self.fs.delete_dir(self.fs_path(logical))
        except (FileNotFoundError, OSError):
            pass

    def delete_file(self, logical: str) -> None:
        try:
            self.fs.delete_file(self.fs_path(logical))
        except (FileNotFoundError, OSError):
            pass

    # -- datasets --------------------------------------------------------------
    def dataset(self, files_or_dir):
        """pyarrow dataset over logical file paths (or one dir path)."""
        import pyarrow.dataset as pads

        if isinstance(files_or_dir, str):
            src = self.fs_path(files_or_dir)
        else:
            src = [self.fs_path(p) for p in files_or_dir]
        return pads.dataset(src, format="parquet", filesystem=self.fs)


def row_bytes(table) -> np.ndarray:
    """Per-row payload bytes: binary/string value lengths, 8 B per list
    element or scalar."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = np.zeros(table.num_rows, np.int64)
    for col in table.columns:
        t = col.type
        if pa.types.is_binary(t) or pa.types.is_string(t):
            out += pc.fill_null(pc.binary_length(col), 0).to_numpy()
        elif pa.types.is_list(t):
            out += 8 * pc.fill_null(pc.list_value_length(col), 0).to_numpy()
        else:
            out += 8
    return out


class BoundedParquetWriter:
    """A streamed parquet object whose row groups close at ~``block_bytes``
    of payload (readers prune on row-group min/max, so a file needs small
    groups however long its rows are; a row count cannot promise that).
    Opened on the first write: nothing written, no object."""

    def __init__(
        self, storage: Storage, logical: str, schema, block_bytes: int, plain_columns=()
    ):
        self.storage, self.path, self.schema, self.blk = storage, logical, schema, block_bytes
        self.plain_columns = plain_columns
        self._w = self._finish = None

    def write(self, table) -> None:
        if not table.num_rows:
            return
        if self._w is None:
            self._w, self._finish = self.storage.parquet_writer(
                self.path, self.schema, self.plain_columns
            )
        csum = np.cumsum(row_bytes(table))
        # a group ends with the row that crosses each block boundary
        cuts = np.unique(np.searchsorted(csum, np.arange(self.blk, csum[-1], self.blk)) + 1)
        for a, b in zip([0, *cuts.tolist()], [*cuts.tolist(), len(csum)]):
            if b > a:
                self._w.write_table(table.slice(a, b - a), row_group_size=b - a)

    def close(self) -> None:
        if self._w is not None:
            self._w.close()
            self._finish()


def _stats_columns(schema) -> list[str]:
    """Columns that get parquet min/max statistics: the scalar ones.
    Readers prune on scalar keys only (bucket, field, term, chunk_ord,
    doc_id, ...); min/max of a binary payload or a list column is never
    read, yet pyarrow copies it into page headers and the footer (a
    253-doc split: fastfields file -33%, postings -4%)."""
    import pyarrow as pa

    return [
        f.name
        for f in schema
        if not (pa.types.is_binary(f.type) or pa.types.is_list(f.type))
    ]


_STORAGE_CACHE: dict[str, Storage] = {}


def storage_for(logical_path: str) -> Storage:
    """Resolve the Storage for an index dir / any logical path under it.
    Plain paths and file:// → local; qwsim:// → the object-store
    simulator; anything else → pyarrow.fs.FileSystem.from_uri (s3, gs,
    abfs/az, hdfs...).  Cached per (scheme, authority): different buckets
    may resolve to differently-configured filesystems (region,
    credentials), so the bucket is part of the key — Storage objects are
    otherwise stateless."""
    if "://" not in logical_path:
        scheme, key = "", ""
    else:
        scheme, rest = logical_path.split("://", 1)
        # authority = the bucket/host segment for object stores; local-ish
        # schemes (file, qwsim) share one filesystem regardless of path
        key = scheme if scheme in ("file", "qwsim") else f"{scheme}://{rest.split('/', 1)[0]}"
    st = _STORAGE_CACHE.get(key)
    if st is not None:
        return st
    if scheme in ("", "file"):
        st = Storage(pafs.LocalFileSystem(), scheme, scheme)
    elif scheme == "qwsim":
        st = Storage(pafs.PyFileSystem(ObjectStoreSimHandler()), "qwsim", "file")
    else:
        fs, _ = pafs.FileSystem.from_uri(logical_path)
        spark_scheme = {"s3": "s3a", "gs": "gs", "hdfs": "hdfs", "abfs": "abfs"}.get(scheme)
        st = Storage(fs, scheme, spark_scheme)
    _STORAGE_CACHE[key] = st
    return st


def _dictionary_columns(schema, plain_columns) -> list[str]:
    """Parquet leaf paths of every column except the ``plain_columns``
    top-level ones — pyarrow's per-column ``use_dictionary`` takes leaf
    paths (a list column ``x`` is ``x.list.element``) and turns the
    dictionary off for every leaf it does not name.  A column of unique
    values (doc ids, timestamps, free text) gains nothing from a
    dictionary: every value lands in it once, and each row still pays an
    index into it on top."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def leaves(t) -> int:
        if pa.types.is_struct(t):
            return sum(leaves(t.field(i).type) for i in range(t.num_fields))
        if pa.types.is_map(t):
            return leaves(t.key_type) + leaves(t.item_type)
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return leaves(t.value_type)
        return 1

    buf = pa.BufferOutputStream()
    pq.write_table(schema.empty_table(), buf)
    md = pq.read_metadata(pa.BufferReader(buf.getvalue()))
    paths = iter(md.schema.column(i).path for i in range(md.num_columns))
    out = []
    for f in schema:
        mine = [next(paths) for _ in range(leaves(f.type))]
        if f.name not in plain_columns:
            out.extend(mine)
    return out
