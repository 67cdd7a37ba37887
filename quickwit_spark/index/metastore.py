"""Pluggable metastore backends for the split catalog.

The reference hides its metastore behind one trait with two shipped
implementations — a single-file JSON metastore and a PostgreSQL metastore —
exercised by a shared contract suite (quickwit-metastore/src/metastore/
file_backed_metastore/*.rs, postgresql_metastore.rs, tests.rs).  This module
is that seam for the rebuild: the Catalog's state-machine logic (publish /
replace / checkpoint-delta validation) stays in one place (catalog.py), and
the *persistence + transaction* layer is swapped underneath it:

* ``JsonFileBackend`` — the whole catalog state as one JSON object PUT
  through the storage abstraction; mutations serialize via an exclusive
  flock on local filesystems.
* ``CasObjectBackend`` — the object-store MULTI-WRITER backend: a
  generation-numbered commit log (``catalog_log/gen-<N>.json``) advanced
  by conditional PUT, so concurrent writer processes on S3-class storage
  serialize through the store's own compare-and-swap instead of a lock
  (default for non-local index dirs).
* ``SqliteBackend`` — the SQL-metastore analog (stdlib ``sqlite3``; the
  sandbox's PostgreSQL stand-in).  Split metadata is NORMALIZED into rows
  (one row per split, exactly like postgresql_metastore.rs's ``splits``
  table) and every mutation runs inside a ``BEGIN IMMEDIATE`` write
  transaction, so concurrent writer processes serialize on SQLite's
  database lock instead of a flock.  Mutations write only the rows they
  touched: at 10^4 splits a publish re-PUTs megabytes of JSON under the
  file backend but updates a handful of rows here — the scale reason the
  reference ships a SQL metastore at all.

Backend selection mirrors the reference's metastore-URI resolution
(metastore_uri: file:// vs postgres://): an existing index is detected by
which catalog file is present; a new index honors the explicit
``metastore=`` argument (CLI ``create --metastore``) or ``$QW_METASTORE``,
defaulting to the JSON file backend.
"""

from __future__ import annotations

import json
import os
import sqlite3
from typing import Callable

JSON_FILENAME = "catalog.json"
SQLITE_FILENAME = "catalog.sqlite"
CAS_LOG_DIRNAME = "catalog_log"


class CasObjectBackend:
    """Object-store-safe MULTI-WRITER metastore: a generation-numbered
    commit log driven by conditional PUT (``Storage.put_if_absent``).

    The round-2 restriction this removes: the JSON backend has no lock
    primitive on object stores, so those deployments were documented
    single-metastore-writer.  Real object stores *do* ship the needed
    primitive — conditional PUT (S3 ``If-None-Match``, GCS
    ``if-generation-match``) — and the standard commit protocol built on
    it is the Delta-Lake-style log: each commit is an immutable object
    ``catalog_log/gen-<N>.json`` created with put-if-absent, and whoever
    creates generation N+1 first wins; losers reload and retry.  (The
    reference reaches the same guarantee differently — a PostgreSQL
    metastore, quickwit-metastore/src/postgresql_metastore.rs — because
    tantivy-era S3 had no conditional writes; today the store itself can
    arbitrate.)

    Each generation object holds the FULL catalog state, like the
    file-backed metastore; readers LIST the log prefix and GET the
    highest generation.  Old generations are pruned at commit time,
    keeping a safety window so a reader that just LISTed never GETs a
    vanished object (and if it somehow does, it re-LISTs).  At 10^4
    splits a commit re-PUTs the whole state — the same O(catalog) cost
    the reference's file-backed metastore pays; deployments hot enough to
    feel that graduate to the SQL backend, exactly as in the reference.
    """

    kind = "cas"
    KEEP_GENERATIONS = 16
    MAX_COMMIT_ATTEMPTS = 256

    def __init__(self, index_dir: str, storage):
        self.index_dir = index_dir
        self.storage = storage
        self.log_dir = os.path.join(index_dir, CAS_LOG_DIRNAME)
        self.path = self.log_dir

    def _gen_path(self, gen: int) -> str:
        return os.path.join(self.log_dir, f"gen-{gen:012d}.json")

    def _list_gens(self) -> list[int]:
        gens = []
        for p in self.storage.list_files(self.log_dir, suffix=".json"):
            name = p.rsplit("/", 1)[-1]
            if name.startswith("gen-"):
                try:
                    gens.append(int(name[4:-5]))
                except ValueError:
                    pass
        gens.sort()
        return gens

    def exists(self) -> bool:
        return bool(self._list_gens())

    def _latest(self) -> tuple[int, dict | None]:
        """(generation, state) of the newest commit; (0, None) on a fresh
        log.  A GET that loses a prune race (possible only for a reader
        stalled past the KEEP_GENERATIONS window) re-LISTs."""
        for _ in range(8):
            gens = self._list_gens()
            if not gens:
                return 0, None
            g = gens[-1]
            try:
                return g, json.loads(self.storage.read_bytes(self._gen_path(g)))
            except (FileNotFoundError, OSError):
                continue
        raise RuntimeError(
            f"catalog log at {self.log_dir} kept vanishing under reads"
        )

    def load(self) -> dict | None:
        return self._latest()[1]

    def _commit(self, make_state: Callable[[dict | None], dict]) -> dict:
        """CAS loop: read latest gen G, build the next state, put-if-absent
        gen G+1.  Lost race → reload and retry with fresh state, so racing
        writers serialize without locks and nobody's update is lost.

        A committer stalled between the read and the put while more than
        KEEP_GENERATIONS commits land can WIN the put on a G+1 that _prune
        already freed — readers take the highest generation and would never
        see it.  So after a win the log is LISTed again: a generation above
        G+1 with G itself gone is that stale win (_prune deletes in
        ascending order, so a freed G+1 means G went first), and the
        object is dropped and the commit retried like any lost race.  A
        higher generation with G still present is a successor that read
        this commit — retrying then would apply the update twice."""
        import random
        import time

        for attempt in range(self.MAX_COMMIT_ATTEMPTS):
            gen, persisted = self._latest()
            state = make_state(persisted)
            data = json.dumps(state).encode("utf-8")
            if self.storage.put_if_absent(self._gen_path(gen + 1), data):
                if (
                    gen == 0
                    or self._list_gens()[-1] == gen + 1
                    or self.storage.exists(self._gen_path(gen))
                ):
                    self._prune(gen + 1)
                    return state
                self.storage.delete_file(self._gen_path(gen + 1))
            # exponential backoff with jitter so N racing committers fan out
            time.sleep(
                min(0.1, 0.002 * (2 ** min(attempt, 5))) * (0.5 + random.random())
            )
        raise RuntimeError(
            f"catalog CAS commit lost {self.MAX_COMMIT_ATTEMPTS} consecutive "
            f"races at {self.log_dir}"
        )

    def rmw(self, fn: Callable[[dict], None], initial: dict) -> dict:
        import copy

        def make(persisted: dict | None) -> dict:
            state = persisted if persisted is not None else copy.deepcopy(initial)
            fn(state)
            return state

        return self._commit(make)

    def put(self, state: dict) -> None:
        # wholesale overwrite (single-writer _save flows) — still claims a
        # unique generation so it cannot tear a concurrent rmw's commit
        self._commit(lambda _persisted: state)

    def _prune(self, latest: int) -> None:
        """Best-effort delete of generations older than the safety window;
        every committer prunes, so the log stays O(KEEP_GENERATIONS)."""
        cutoff = latest - self.KEEP_GENERATIONS
        if cutoff <= 0:
            return
        for g in self._list_gens():
            if g < cutoff:
                self.storage.delete_file(self._gen_path(g))

    def state_token(self) -> tuple | None:
        gens = self._list_gens()
        return ("cas", gens[-1]) if gens else None


class JsonFileBackend:
    """Whole-state JSON document through storage.py (the reference's
    file-backed metastore: one serialized object per index, atomic PUT)."""

    kind = "json"

    def __init__(self, index_dir: str, storage):
        self.index_dir = index_dir
        self.storage = storage
        self.path = os.path.join(index_dir, JSON_FILENAME)
        self._lock_path = (
            os.path.join(storage.fs_path(index_dir), ".catalog.lock")
            if storage.is_local
            else None
        )

    def exists(self) -> bool:
        return self.storage.exists(self.path)

    def load(self) -> dict | None:
        if not self.exists():
            return None
        return json.loads(self.storage.read_bytes(self.path))

    def _locked(self):
        from contextlib import contextmanager

        @contextmanager
        def cm():
            if self._lock_path is None:
                yield
                return
            import fcntl

            os.makedirs(os.path.dirname(self._lock_path), exist_ok=True)
            with open(self._lock_path, "w") as lf:
                fcntl.flock(lf, fcntl.LOCK_EX)
                try:
                    yield
                finally:
                    fcntl.flock(lf, fcntl.LOCK_UN)

        return cm()

    def rmw(self, fn: Callable[[dict], None], initial: dict) -> dict:
        """Locked read-modify-write: reload persisted state (another process
        may have committed since we loaded), apply, commit."""
        with self._locked():
            state = self.load()
            if state is None:
                state = initial
            fn(state)
            self.put_unlocked(state)
            return state

    def put(self, state: dict) -> None:
        with self._locked():
            self.put_unlocked(state)

    def put_unlocked(self, state: dict) -> None:
        self.storage.write_bytes(self.path, json.dumps(state).encode("utf-8"))

    def state_token(self) -> tuple | None:
        """Cheap change-detection token for driver caches."""
        import pyarrow.fs as pafs

        info = self.storage.info(self.path)
        if info.type != pafs.FileType.File:
            return None
        return ("json", info.mtime_ns, info.size)


class SqliteBackend:
    """Normalized SQL metastore (postgresql_metastore.rs analog).

    Schema::

        splits(split_id TEXT PRIMARY KEY, state TEXT, create_seq INTEGER,
               meta TEXT)               -- meta = the SplitMetadata JSON
        meta(key TEXT PRIMARY KEY, val TEXT)
               -- every non-split top-level state key (config, checkpoint,
               --  next_seq, sources, termstats, builds, ...) as JSON, plus
               --  the `_revision` counter bumped on every commit (the
               --  cache-invalidation token; WAL commits don't touch the
               --  main db file's mtime, so mtime can't be the token here)

    Transactions use BEGIN IMMEDIATE so the write lock is taken before the
    read half of read-modify-write — two racing writers serialize instead
    of deadlocking on lock upgrade.  Local filesystems only (SQLite's
    locking contract does not hold on object stores)."""

    kind = "sqlite"

    def __init__(self, index_dir: str, storage):
        if not storage.is_local:
            raise ValueError(
                "sqlite metastore requires a local index dir; object-store "
                "indexes use the json metastore (single-writer)"
            )
        self.index_dir = index_dir
        self.storage = storage
        self.path = os.path.join(storage.fs_path(index_dir), SQLITE_FILENAME)

    def _connect(self) -> sqlite3.Connection:
        con = sqlite3.connect(self.path, timeout=60.0, isolation_level=None)
        con.execute("PRAGMA journal_mode=WAL")
        con.execute("PRAGMA synchronous=NORMAL")
        con.execute(
            "CREATE TABLE IF NOT EXISTS splits ("
            " split_id TEXT PRIMARY KEY, state TEXT NOT NULL,"
            " create_seq INTEGER NOT NULL, meta TEXT NOT NULL)"
        )
        con.execute(
            "CREATE TABLE IF NOT EXISTS meta (key TEXT PRIMARY KEY, val TEXT NOT NULL)"
        )
        con.execute(
            "INSERT OR IGNORE INTO meta (key, val) VALUES ('_revision', '0')"
        )
        return con

    def exists(self) -> bool:
        return os.path.exists(self.path)

    @staticmethod
    def _load_con(con: sqlite3.Connection) -> dict | None:
        meta_rows = dict(con.execute("SELECT key, val FROM meta").fetchall())
        if "config" not in meta_rows:
            return None  # never committed a state
        state = {
            k: json.loads(v) for k, v in meta_rows.items() if not k.startswith("_")
        }
        state["splits"] = {
            sid: json.loads(m)
            for sid, m in con.execute("SELECT split_id, meta FROM splits")
        }
        return state

    @staticmethod
    def _write_con(con: sqlite3.Connection, state: dict, before: dict | None) -> None:
        """Write only what changed vs the in-transaction snapshot ``before``
        — O(touched rows), not O(splits)."""
        prev_splits = (before or {}).get("splits", {})
        new_splits = state.get("splits", {})
        for sid in prev_splits.keys() - new_splits.keys():
            con.execute("DELETE FROM splits WHERE split_id = ?", (sid,))
        for sid, row in new_splits.items():
            old = prev_splits.get(sid)
            if old is not None and old == row:
                continue
            con.execute(
                "INSERT INTO splits (split_id, state, create_seq, meta)"
                " VALUES (?, ?, ?, ?)"
                " ON CONFLICT(split_id) DO UPDATE SET"
                " state=excluded.state, create_seq=excluded.create_seq,"
                " meta=excluded.meta",
                (sid, row["state"], row.get("create_seq", 0), json.dumps(row)),
            )
        prev_meta = {k: v for k, v in (before or {}).items() if k != "splits"}
        for key in prev_meta.keys() - (state.keys() - {"splits"}):
            con.execute("DELETE FROM meta WHERE key = ?", (key,))
        for key, val in state.items():
            if key == "splits":
                continue
            if before is not None and key in prev_meta and prev_meta[key] == val:
                continue
            con.execute(
                "INSERT INTO meta (key, val) VALUES (?, ?)"
                " ON CONFLICT(key) DO UPDATE SET val=excluded.val",
                (key, json.dumps(val)),
            )
        con.execute(
            "UPDATE meta SET val = CAST(CAST(val AS INTEGER) + 1 AS TEXT)"
            " WHERE key = '_revision'"
        )

    def load(self) -> dict | None:
        if not self.exists():
            return None
        con = self._connect()
        try:
            return self._load_con(con)
        finally:
            con.close()

    def rmw(self, fn: Callable[[dict], None], initial: dict) -> dict:
        import copy

        con = self._connect()
        try:
            con.execute("BEGIN IMMEDIATE")
            before = self._load_con(con)
            state = copy.deepcopy(before) if before is not None else initial
            fn(state)
            self._write_con(con, state, before)
            con.execute("COMMIT")
            return state
        except BaseException:
            try:
                con.execute("ROLLBACK")
            except sqlite3.OperationalError:
                pass
            raise
        finally:
            con.close()

    def put(self, state: dict) -> None:
        con = self._connect()
        try:
            con.execute("BEGIN IMMEDIATE")
            before = self._load_con(con)
            self._write_con(con, state, before)
            con.execute("COMMIT")
        except BaseException:
            try:
                con.execute("ROLLBACK")
            except sqlite3.OperationalError:
                pass
            raise
        finally:
            con.close()

    def state_token(self) -> tuple | None:
        if not self.exists():
            return None
        con = self._connect()
        try:
            row = con.execute(
                "SELECT val FROM meta WHERE key = '_revision'"
            ).fetchone()
            if row is None:
                return None
            # the inode distinguishes index GENERATIONS: a dropped-and-
            # recreated index restarts _revision, and a bare counter would
            # collide with cache entries of the old index at the same path
            return ("sqlite", os.stat(self.path).st_ino, int(row[0]))
        finally:
            con.close()


def resolve_backend(index_dir: str, storage, metastore: str | None = None):
    """Pick the backend for ``index_dir``.  An existing catalog wins (you
    can't change an index's metastore by env var); otherwise the explicit
    ``metastore`` argument, then ``$QW_METASTORE``, then the default for
    the storage class: json on local filesystems (flock'd single file),
    cas on object stores (multi-writer conditional-put log)."""
    json_b = JsonFileBackend(index_dir, storage)
    sqlite_path = (
        os.path.join(storage.fs_path(index_dir), SQLITE_FILENAME)
        if storage.is_local
        else None
    )
    sqlite_exists = sqlite_path is not None and os.path.exists(sqlite_path)
    # cheap probes first, and return WITHOUT the CAS-log LIST when a file
    # catalog exists: resolution runs on every Catalog()/state_token()
    # call, and an extra object-store LIST per call is real money.  A
    # stray catalog_log next to a catalog.json is therefore ignored
    # (deterministically: the file catalog wins), not an error — only the
    # two stat-cheap backends conflict-check against each other.
    if json_b.exists():
        if sqlite_exists:
            raise ValueError(
                f"{index_dir} has BOTH {JSON_FILENAME} and {SQLITE_FILENAME}; "
                "delete one"
            )
        return json_b
    if sqlite_exists:
        return SqliteBackend(index_dir, storage)
    cas_b = CasObjectBackend(index_dir, storage)
    if cas_b.exists():
        return cas_b
    kind = (
        metastore
        or os.environ.get("QW_METASTORE")
        or ("json" if storage.is_local else "cas")
    ).lower()
    if kind == "json":
        return json_b
    if kind == "sqlite":
        return SqliteBackend(index_dir, storage)
    if kind == "cas":
        return cas_b
    raise ValueError(
        f"unknown metastore kind {kind!r} (expected json|sqlite|cas)"
    )
