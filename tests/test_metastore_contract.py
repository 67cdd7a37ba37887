"""Metastore contract suite — port of the split-lifecycle semantics from
the reference's metastore test contract (quickwit-metastore/src/tests.rs:
stage_split:238, publish_splits:286, replace_splits:679,
mark_splits_for_deletion:904, delete_splits:971, list_splits:1210).

The Catalog is the metastore analog; the state machine it must enforce:

    Staged --publish--> Published --replace/mark--> MarkedForDeletion --delete--> gone

* publishing anything not Staged fails (SplitsNotStaged)
* publishing an unknown split fails (SplitsDoNotExist analog: KeyError)
* a checkpoint delta that overlaps or regresses rejects the WHOLE publish
* deleting a Published split fails (SplitsNotDeletable)
* replace atomically publishes the new ids and marks the old
"""

from __future__ import annotations

import pytest

from quickwit_spark.index.catalog import (
    MARKED_FOR_DELETION,
    PUBLISHED,
    STAGED,
    Catalog,
    IncompatibleCheckpointDelta,
    SplitMetadata,
    SplitsNotDeletableError,
    SplitsNotStagedError,
)


@pytest.fixture(params=["json", "sqlite", "cas", "cas-qwsim"])
def cat(tmp_path, request):
    """The whole suite runs against ALL metastore backends — the
    reference's shared contract suite exercises its file-backed AND
    PostgreSQL metastores through one trait (tests.rs + the
    metastore_for_test matrix); sqlite is the SQL-metastore analog here,
    and cas is the object-store conditional-put log, exercised both on a
    plain local path and through the qwsim:// object-store simulator."""
    if request.param == "cas-qwsim":
        return Catalog.create(
            f"qwsim://{tmp_path}/idx", {"index_id": "contract"}, metastore="cas"
        )
    return Catalog.create(
        str(tmp_path / "idx"), {"index_id": "contract"}, metastore=request.param
    )


def _stage(cat, sid, num_docs=1):
    cat.stage_split(SplitMetadata(split_id=sid, num_docs=num_docs, ts_min=0, ts_max=99))


def _states(cat):
    return {
        s.split_id: s.state
        for s in cat.splits(states=(STAGED, PUBLISHED, MARKED_FOR_DELETION))
    }


def test_publish_unknown_split_rejected(cat):
    # tests.rs:331-349 (SplitsDoNotExist)
    with pytest.raises(KeyError):
        cat.publish_splits(["nope"], {})


def test_publish_staged_split(cat):
    # tests.rs:352-375
    _stage(cat, "s1")
    cat.publish_splits(["s1"], {"p0": (None, "00000001")})
    assert _states(cat) == {"s1": PUBLISHED}


def test_publish_published_split_rejected(cat):
    # tests.rs:377-415 + 420-456 (SplitsNotStaged)
    _stage(cat, "s1")
    cat.publish_splits(["s1"], {"p0": (None, "00000001")})
    with pytest.raises(SplitsNotStagedError):
        cat.publish_splits(["s1"], {"p0": ("00000001", "00000002")})


def test_publish_marked_split_rejected(cat):
    # tests.rs:420-456: publish after mark-for-deletion must fail
    _stage(cat, "s1")
    cat.publish_splits(["s1"], {})
    _stage(cat, "s2")
    cat.replace_splits(["s2"], ["s1"])
    _stage(cat, "s1b")  # a NEW row is fine; republishing the marked one is not
    with pytest.raises(SplitsNotStagedError):
        cat.publish_splits(["s1"], {})


def test_publish_mixed_staged_and_unknown_rejects_all(cat):
    # tests.rs:458-498: one bad split poisons the whole publish
    _stage(cat, "s1")
    with pytest.raises(KeyError):
        cat.publish_splits(["s1", "ghost"], {})
    assert _states(cat)["s1"] == STAGED  # nothing was published


def test_overlapping_checkpoint_rejects_publish_atomically(cat):
    # checkpoint.rs:299-353 via publish (tests.rs:395-415)
    _stage(cat, "s1")
    cat.publish_splits(["s1"], {"p0": (None, "00000005")})
    _stage(cat, "s2")
    with pytest.raises(IncompatibleCheckpointDelta):
        cat.publish_splits(["s2"], {"p0": (None, "00000003")})  # wrong from
    with pytest.raises(IncompatibleCheckpointDelta):
        cat.publish_splits(["s2"], {"p0": ("00000005", "00000004")})  # regress
    assert _states(cat)["s2"] == STAGED
    assert cat.checkpoint() == {"p0": "00000005"}


def test_replace_splits_atomic_swap(cat):
    # tests.rs:679+ (replace_splits): new published, old marked, one commit
    for sid in ("a", "b"):
        _stage(cat, sid)
    cat.publish_splits(["a", "b"], {})
    _stage(cat, "m")
    cat.replace_splits(["m"], ["a", "b"])
    assert _states(cat) == {"m": PUBLISHED, "a": MARKED_FOR_DELETION, "b": MARKED_FOR_DELETION}


def test_delete_published_split_rejected(cat):
    # delete_splits contract: only Staged / MarkedForDeletion are deletable
    _stage(cat, "s1")
    cat.publish_splits(["s1"], {})
    with pytest.raises(SplitsNotDeletableError):
        cat.delete_splits(["s1"])
    assert _states(cat)["s1"] == PUBLISHED


def test_delete_marked_and_staged_splits(cat):
    _stage(cat, "s1")
    cat.publish_splits(["s1"], {})
    _stage(cat, "m")
    cat.replace_splits(["m"], ["s1"])
    _stage(cat, "stale")  # a staged orphan (crashed build)
    cat.delete_splits(["s1", "stale", "never-existed"])  # unknown ids are no-ops
    assert _states(cat) == {"m": PUBLISHED}


def test_list_splits_filters_by_state_and_orders_by_seq(cat):
    # tests.rs:1095+ (list_all_splits / list_splits)
    for sid in ("s1", "s2", "s3"):
        _stage(cat, sid)
    cat.publish_splits(["s2"], {})
    assert [s.split_id for s in cat.splits([STAGED])] == ["s1", "s3"]
    assert [s.split_id for s in cat.splits([PUBLISHED])] == ["s2"]
    seqs = [s.create_seq for s in cat.splits([STAGED, PUBLISHED])]
    assert seqs == sorted(seqs)


def test_contract_survives_reload(cat):
    """Every transition is durable: a fresh Catalog over the same dir sees
    the same state machine (the file-backed metastore property)."""
    _stage(cat, "s1")
    cat.publish_splits(["s1"], {"p0": (None, "00000009")})
    fresh = cat.reload()
    assert _states(fresh) == {"s1": PUBLISHED}
    assert fresh.checkpoint() == {"p0": "00000009"}
    with pytest.raises(SplitsNotStagedError):
        fresh.publish_splits(["s1"], {})


def test_backward_compat_minimal_catalog(tmp_path):
    """A catalog serialized by an older engine version — before the
    termstats LSM, sources, and builds keys existed — must still load,
    list splits, and accept new mutations (the reference pins serialized
    metadata fixtures in quickwit-metastore/src/backward_compatibility_tests
    for exactly this).  Missing termstats marks the LSM incomplete, which
    downgrades global-df reads to the per-split scan, never an error."""
    import json
    import os

    idx = str(tmp_path / "old_idx")
    os.makedirs(idx)
    old_state = {
        "config": {"index_id": "old"},
        "splits": {
            "s1": {
                "split_id": "s1",
                "state": PUBLISHED,
                "num_docs": 7,
                "ts_min": 0,
                "ts_max": 99,
                "tags": ["tool:grep"],
                "num_merge_ops": 0,
                "create_seq": 0,
                "field_len_sums": {"text": 70},
                "metrics": {},
            }
        },
        "checkpoint": {"p0": "00000007"},
        "next_seq": 1,
        # no "termstats", no "sources", no "builds"
    }
    with open(os.path.join(idx, "catalog.json"), "w") as f:
        json.dump(old_state, f)

    cat = Catalog(idx)
    assert [s.split_id for s in cat.splits()] == ["s1"]
    assert cat.termstats_files() is None  # incomplete, not an error
    assert cat.sources() == {}
    assert cat.global_stats() == {"num_docs": 7, "avg_len": {"text": 10.0}}
    # new mutations still work against the old serialization
    _stage(cat, "s2")
    cat.publish_splits(["s2"], {"p1": (None, "00000001")})
    fresh = cat.reload()
    assert _states(fresh) == {"s1": PUBLISHED, "s2": PUBLISHED}
    assert fresh.checkpoint() == {"p0": "00000007", "p1": "00000001"}


def test_delete_source_spares_sibling_prefix(cat):
    """delete_source('app') must not touch 'app-errors' checkpoints: the
    source-scoped key prefix is 'app~~' (a raw 'app-' prefix also matched
    the sibling, destroying its exactly-once resume state; '~~' rather
    than '//' because these keys are split ids, which become hive
    partition directory names)."""
    cat.add_source("app", "ndjson", {})
    cat.add_source("app-errors", "ndjson", {})

    def seed(state):
        state["checkpoint"]["app~~b0-00001"] = "pos-a"
        state["checkpoint"]["app-errors~~b0-00001"] = "pos-b"

    cat.update(seed)
    cat.delete_source("app")
    cp = cat.checkpoint()
    assert "app~~b0-00001" not in cp
    assert cp["app-errors~~b0-00001"] == "pos-b"
    # reserved separator chars are rejected at add time
    import pytest as _pytest

    with _pytest.raises(ValueError, match="may not contain"):
        cat.add_source("bad/name", "ndjson", {})
    with _pytest.raises(ValueError, match="may not contain"):
        cat.add_source("bad~name", "ndjson", {})


def _race_worker(index_dir: str, wid: int, rounds: int) -> None:
    """One writer process: stage -> publish its own splits with a private
    checkpoint partition, periodically merge-replace two of its published
    splits, and mark every third publish for deletion."""
    from quickwit_spark.index.catalog import Catalog as C
    from quickwit_spark.index.catalog import SplitMetadata as SM

    cat = C(index_dir)
    prev = None
    published: list[str] = []
    docs = {}  # split_id -> num_docs (merges carry the sum of their inputs)
    for r in range(rounds):
        sid = f"w{wid}-{r:03d}"
        cat.stage_split(SM(split_id=sid, num_docs=1))
        docs[sid] = 1
        pos = f"{r:08d}"
        cat.publish_splits([sid], {f"p{wid}": (prev, pos)})
        prev = pos
        published.append(sid)
        if r % 3 == 2:
            cat.mark_for_deletion([published.pop()])
        if len(published) >= 4:
            merged = f"w{wid}-m{r:03d}"
            docs[merged] = docs[published[0]] + docs[published[1]]
            cat.stage_split(SM(split_id=merged, num_docs=docs[merged]))
            cat.replace_splits([merged], published[:2])
            published = [merged] + published[2:]


def _race_gc(index_dir: str, stop_flag) -> None:
    """Janitor process: run garbage_collect in a loop with the default
    staged grace (in-flight staged splits must survive) and a zero
    deletion grace (marked splits are reclaimed while writers race)."""
    from quickwit_spark.index.merge import garbage_collect

    while not stop_flag.is_set():
        garbage_collect(index_dir, deletion_grace_secs=0.0)


@pytest.mark.parametrize("metastore", ["json", "sqlite", "cas", "cas-qwsim"])
def test_processes_racing_publish_merge_gc(tmp_path, metastore):
    """Three OS writer processes racing stage/publish/replace/mark while a
    janitor process garbage-collects concurrently: every checkpoint
    partition ends at its writer's last position (no lost publish),
    replace never double-spends an input, and GC's staged grace never eats
    an in-flight staged split — the reference metastore's
    concurrent-writers contract (tests.rs) plus garbage_collector.rs
    running alongside.  The cas-qwsim variant runs the same race through
    the qwsim:// object-store simulator, where the only commit primitive
    is conditional PUT — no flock, no rename — proving the multi-writer
    metastore contract holds on object storage."""
    import multiprocessing as mp

    if metastore == "cas-qwsim":
        index_dir = f"qwsim://{tmp_path}/race_lifecycle"
        metastore = "cas"
    else:
        index_dir = str(tmp_path / "race_lifecycle")
    Catalog.create(index_dir, {"index_id": "race"}, metastore=metastore)
    rounds = 24
    stop = mp.Event()
    writers = [
        mp.Process(target=_race_worker, args=(index_dir, w, rounds))
        for w in range(3)
    ]
    janitor = mp.Process(target=_race_gc, args=(index_dir, stop))
    janitor.start()
    try:
        for p in writers:
            p.start()
        for p in writers:
            p.join(timeout=120)
            assert p.exitcode == 0, "writer crashed (lost race / contract violation)"
    finally:
        # a failed writer must not leave the janitor (or a hung writer)
        # running: pytest would wait for it at exit
        stop.set()
        janitor.join(timeout=60)
        for p in [*writers, janitor]:
            if p.is_alive():
                p.terminate()
    assert janitor.exitcode == 0

    from quickwit_spark.index.merge import garbage_collect

    garbage_collect(index_dir, deletion_grace_secs=0.0)  # final sweep
    cat = Catalog(index_dir)
    # no lost publish: each partition's checkpoint is its writer's last pos
    cp = cat._state["checkpoint"]
    assert cp == {f"p{w}": f"{rounds - 1:08d}" for w in range(3)}
    final = _states(cat)
    # the final sweep reclaimed everything marked; nothing is stuck staged
    # (every staged split was published or replace-published by its writer)
    assert all(st == PUBLISHED for st in final.values()), final
    # per-writer doc conservation: publishes - marks survive, with merges
    # preserving num_docs (replace is swap, not loss)
    for w in range(3):
        mine = [s for s in cat.splits() if s.split_id.startswith(f"w{w}-")]
        marked = sum(1 for r in range(rounds) if r % 3 == 2)
        assert sum(s.num_docs for s in mine) == rounds - marked


def _cas_pair(tmp_path, where):
    from quickwit_spark.index.metastore import CasObjectBackend
    from quickwit_spark.storage import storage_for

    index_dir = f"qwsim://{tmp_path}/idx" if where == "qwsim" else str(tmp_path / "idx")
    a, b = (CasObjectBackend(index_dir, storage_for(index_dir)) for _ in "ab")
    a.put({"entries": []})  # generation 1
    return a, b


def _append(name):
    return lambda state: state["entries"].append(name)


@pytest.mark.parametrize("where", ["local", "qwsim"])
def test_cas_stalled_committer_update_survives_prune(tmp_path, where):
    """Writer A reads generation 1 and stalls in its state function while
    writer B lands KEEP_GENERATIONS + 2 commits (pruning generation 2's
    name): A's put on the freed name must not count as a commit — its
    entry ends in the final state, exactly once."""
    a, b = _cas_pair(tmp_path, where)
    n_b = a.KEEP_GENERATIONS + 2
    stalled = []

    def a_update(state):
        if not stalled:
            stalled.append(True)
            for i in range(n_b):
                b.rmw(_append(f"b{i}"), {})
        state["entries"].append("a")

    a.rmw(a_update, {})
    final = b.load()["entries"]
    assert sorted(final) == sorted(["a"] + [f"b{i}" for i in range(n_b)])


@pytest.mark.parametrize("where", ["local", "qwsim"])
def test_cas_successor_of_a_won_commit_is_not_reapplied(tmp_path, where):
    """A commit whose successor lands between its winning put and its
    post-put LIST is a real commit: it must not retry and apply twice."""
    a, b = _cas_pair(tmp_path, where)
    real_put = a.storage.put_if_absent
    fired = []

    def put_then_successor(path, data):
        won = real_put(path, data)
        if won and not fired:
            fired.append(True)
            b.rmw(_append("b"), {})
        return won

    a.storage.put_if_absent = put_then_successor
    try:
        a.rmw(_append("a"), {})
    finally:
        del a.storage.put_if_absent
    assert b.load()["entries"] == ["a", "b"]
