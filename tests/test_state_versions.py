"""Versioned graph-state snapshots: atomic publication, O(1) rollback,
crash-mid-save invisibility, in-flight reader isolation, roll-forward,
and pruning — the blue/green layout shared with the durable ANN index
(fsutil.publish_version / resolve_version_dir / rollback_version).

The reference has no undo: a bad release re-runs the full build over
the surviving dumps (the Nextflow DAG rebuilds the world). Here a bad
fold is undone by swinging a pointer; no table moves.

Every pointer mutation lives in ONE lifecycle test so each test is
self-contained under -k selection or randomized ordering (the shared
fixture only ever provides the immutable v1/v2 baseline).
"""

import os
import tempfile

import pytest

from grebi_spark.fsutil import next_version, publish_version, resolve_version_dir
from grebi_spark.incremental import (
    add_datasource,
    build_graph_stateful,
    load_state_current,
    prune_state_versions,
    rollback_state,
    save_state_version,
)
from grebi_spark.sources.jsonl import jsonl_to_nodes

from . import fixtures as FX
from .test_incremental import _canon
from .test_pipeline import CONFIG, _lines_df


def _tiny_sources(spark):
    a = jsonl_to_nodes(
        _lines_df(
            spark,
            FX.jsonl(
                [
                    {"id": "x:1", "grebi:type": ["t:A"], "grebi:name": ["one"]},
                    {"id": "x:2", "grebi:type": ["t:A"], "grebi:name": ["two"]},
                ]
            ),
        ),
        "srca",
    )
    b = jsonl_to_nodes(
        _lines_df(
            spark,
            FX.jsonl(
                [
                    {
                        "id": "x:3",
                        "grebi:type": ["t:B"],
                        "grebi:name": ["three"],
                        "t:rel": ["x:1"],
                    }
                ]
            ),
        ),
        "srcb",
    )
    return a, b


@pytest.fixture(scope="module")
def lifecycle(spark):
    """One shared v1(base) → verb → v2(base+srcb) version root. Tests
    treat this as an immutable baseline; the pointer-mutating sequence
    below works on its own copy of the pointer state."""
    a, b = _tiny_sources(spark)
    root = tempfile.mkdtemp(prefix="grebi_state_vtest_")
    s1 = build_graph_stateful([a], CONFIG)
    v1 = save_state_version(s1, root)
    s2 = add_datasource(s1, b)
    v2 = save_state_version(s2, root)
    return {"root": root, "v1": v1, "v2": v2, "s1": s1, "s2": s2}


def test_versions_publish_in_order(lifecycle):
    assert (lifecycle["v1"], lifecycle["v2"]) == ("v1", "v2")


def test_rollback_lifecycle(spark, lifecycle):
    """The full pointer lifecycle in publication order: serve-latest,
    crash-mid-save invisibility, rollback (value restore + in-flight
    reader isolation + maintenance resume), roll-forward, prune."""
    root = lifecycle["root"]

    # CURRENT serves the latest publish, round-tripping value-for-value
    assert resolve_version_dir(spark, root).endswith("/v2")
    loaded = load_state_current(spark, root)
    assert _canon(loaded.graph.merged) == _canon(lifecycle["s2"].graph.merged)

    # a version directory without its _COMMITTED marker (a crash
    # mid-save) neither serves nor blocks the next save's name
    torn = os.path.join(root, "v3")
    os.makedirs(os.path.join(torn, "merged"), exist_ok=True)
    with open(os.path.join(torn, "merged", "part-torn.parquet"), "w") as fh:
        fh.write("torn write")
    assert resolve_version_dir(spark, root).endswith("/v2")
    assert next_version(spark, root) == "v4"

    # a reader opens v2 BEFORE the rollback...
    pre_swap_reader = load_state_current(spark, root).graph.merged
    assert rollback_state(spark, root) == "v1"
    # ...the rolled-back snapshot serves the exact pre-verb graph...
    restored = load_state_current(spark, root)
    assert _canon(restored.graph.merged) == _canon(lifecycle["s1"].graph.merged)
    # ...and the in-flight reader still completes against v2's files
    assert _canon(pre_swap_reader) == _canon(lifecycle["s2"].graph.merged)

    # the rolled-back snapshot is a live maintenance input: re-applying
    # the verb must equal the graph the verb produced originally
    _a, b = _tiny_sources(spark)
    again = add_datasource(restored, b)
    assert _canon(again.graph.merged) == _canon(lifecycle["s2"].graph.merged)

    # rollback moved no data, so v2 can be re-published (roll-forward)
    publish_version(spark, root, "v2")
    assert resolve_version_dir(spark, root).endswith("/v2")
    assert rollback_state(spark, root) == "v1"

    # prune keeps CURRENT's version (v1) — v2 and the torn v3 are swept
    assert prune_state_versions(spark, root) == 2
    with pytest.raises(ValueError):
        rollback_state(spark, root)


def test_time_travel_and_version_diff(spark, lifecycle):
    """Any committed version stays loadable by name (time travel), and
    the version diff reports exactly the verb's triple-level effect —
    here add_datasource(srcb) added x:3's triples and touched nothing
    else. Own snapshot root: the lifecycle test prunes the shared one."""
    from grebi_spark.incremental import (
        load_state_version,
        save_state_version,
        state_version_diff,
    )

    root = tempfile.mkdtemp(prefix="grebi_state_diff_")
    save_state_version(lifecycle["s1"], root)
    save_state_version(lifecycle["s2"], root)
    v1 = load_state_version(spark, root, "v1")
    assert _canon(v1.graph.merged) == _canon(lifecycle["s1"].graph.merged)
    diff = state_version_diff(spark, root, "v1", "v2").collect()
    assert diff and all(r["status"] == "added" for r in diff)
    assert {r["node_id"] for r in diff} == {"x:3"}
    # the reverse diff is the exact mirror
    rev = state_version_diff(spark, root, "v2", "v1").collect()
    assert sorted((r["node_id"], r["prop_key"], r["value"]) for r in rev) == sorted(
        (r["node_id"], r["prop_key"], r["value"]) for r in diff
    )
    assert all(r["status"] == "removed" for r in rev)
    with pytest.raises(ValueError):
        load_state_version(spark, root, "v9")


def test_interrupted_rollback_swing_completes(spark):
    """A crash between CURRENT's delete and the rename must not re-serve
    the version being rolled away from: the fully-written CURRENT.tmp is
    the swing's intent record and resolves first (rollback to v1 with
    CURRENT absent serves v1, not max-committed v2)."""
    from grebi_spark.fsutil import fs_of

    root = tempfile.mkdtemp(prefix="grebi_state_torn_swing_")
    jvm, fs = fs_of(spark, root)
    P = jvm.org.apache.hadoop.fs.Path
    for v in ("v1", "v2"):
        os.makedirs(os.path.join(root, v))
        open(os.path.join(root, v, "_COMMITTED"), "w").close()
    # simulate the torn swing: tmp names v1, CURRENT already deleted
    with open(os.path.join(root, "CURRENT.tmp"), "w") as fh:
        fh.write("v1")
    assert not fs.exists(P(f"{root}/CURRENT"))
    assert resolve_version_dir(spark, root).endswith("/v1")
    # ...but a tmp naming an uncommitted version is ignored
    with open(os.path.join(root, "CURRENT.tmp"), "w") as fh:
        fh.write("v9")
    assert resolve_version_dir(spark, root).endswith("/v2")


def test_rollback_on_flat_layout_raises(spark):
    root = tempfile.mkdtemp(prefix="grebi_state_flat_")
    with pytest.raises(ValueError):
        rollback_state(spark, root)


@pytest.fixture(scope="module")
def mroot(spark):
    """A second, never-pruned v1 -> verb -> v2 root for the round-trip
    test (the lifecycle fixture's root is pruned by the pointer-lifecycle
    test)."""
    from grebi_spark.incremental import add_datasource, build_graph_stateful

    a, b = _tiny_sources(spark)
    root = tempfile.mkdtemp(prefix="grebi_state_roundtrip_")
    s1 = build_graph_stateful([a], CONFIG)
    save_state_version(s1, root)
    s2 = add_datasource(s1, b)
    save_state_version(s2, root)
    return {"root": root, "s2": s2}


def _rows_canon(df):
    """Order-free canonical form of any frame (arrays -> sorted tuples)."""

    def norm(v):
        if isinstance(v, list):
            return tuple(sorted(map(str, v)))
        return v

    return sorted(
        tuple(norm(v) for v in row) for row in df.collect()
    ), sorted(df.columns)


def test_all_frames_roundtrip_through_a_version(spark, mroot):
    """Every one of the 12 durable frames must reload from a published
    version value-identical to the live maintained state."""
    from grebi_spark.incremental import (
        _STATE_FRAMES,
        _state_frames_dict,
        load_state_version,
    )

    live = _state_frames_dict(mroot["s2"])
    reloaded = _state_frames_dict(
        load_state_version(spark, mroot["root"], "v2")
    )
    for fname in _STATE_FRAMES:
        assert _rows_canon(reloaded[fname]) == _rows_canon(live[fname]), fname


def test_manifest_versions_across_all_three_verbs(spark):
    """One chain exercising every verb — add, remove, update — each
    result snapshotted as a version; every version must reload
    value-identical to the live state it captured, and the kept version
    must survive the final prune of the retired ones."""
    from grebi_spark.incremental import (
        add_datasource,
        build_graph_stateful,
        load_state_version,
        remove_datasource,
        save_state_version,
        update_datasource,
    )

    a, b = _tiny_sources(spark)
    c = jsonl_to_nodes(
        _lines_df(
            spark,
            FX.jsonl(
                [{"id": "x:9", "grebi:type": ["t:C"], "grebi:name": ["nine"]}]
            ),
        ),
        "srcc",
    )
    b2 = jsonl_to_nodes(
        _lines_df(
            spark,
            FX.jsonl(
                [
                    {
                        "id": "x:3",
                        "grebi:type": ["t:B"],
                        "grebi:name": ["three-revised"],
                        "t:rel": ["x:2"],
                    }
                ]
            ),
        ),
        "srcb",
    )

    root = tempfile.mkdtemp(prefix="grebi_state_verbs_")
    live = {}
    s = build_graph_stateful([a, b], CONFIG)
    live[save_state_version(s, root)] = _canon(s.graph.merged)
    s = add_datasource(s, c)
    live[save_state_version(s, root)] = _canon(s.graph.merged)
    s = remove_datasource(s, "srca")
    live[save_state_version(s, root)] = _canon(s.graph.merged)
    s = update_datasource(s, "srcb", b2)
    live[save_state_version(s, root)] = _canon(s.graph.merged)

    assert sorted(live) == ["v1", "v2", "v3", "v4"]
    for vname, want in live.items():
        got = load_state_version(spark, root, vname)
        assert _canon(got.graph.merged) == want, vname

    # prune retires v1-v3; the kept version still reloads exactly
    prune_state_versions(spark, root)
    assert _canon(load_state_current(spark, root).graph.merged) == live["v4"]


def test_multi_fold_snapshot_composes_one_level_per_frame(spark):
    """THREE verbs between snapshots must persist as ONE version holding
    one directory per frame — snapshot writes are per SNAPSHOT, not per
    verb — and the reload must be value-identical across all 12
    frames."""
    from grebi_spark.incremental import (
        _STATE_FRAMES,
        _state_frames_dict,
        load_state_version,
        remove_datasource,
    )

    a, b = _tiny_sources(spark)
    c = jsonl_to_nodes(
        _lines_df(
            spark,
            FX.jsonl(
                [{"id": "x:7", "grebi:type": ["t:C"], "grebi:name": ["seven"]}]
            ),
        ),
        "srcc",
    )
    root = tempfile.mkdtemp(prefix="grebi_state_compose_")
    s = build_graph_stateful([a], CONFIG)
    save_state_version(s, root)
    s = add_datasource(s, b)
    s = add_datasource(s, c)
    s = remove_datasource(s, "srcb")
    v2 = save_state_version(s, root)

    entries = [n for n in os.listdir(root) if not n.startswith(".")]  # .crc
    assert sorted(entries) == ["CURRENT", "v1", "v2"]
    frames = {
        d for d in os.listdir(os.path.join(root, v2))
        if os.path.isdir(os.path.join(root, v2, d))
    }
    assert frames == set(_STATE_FRAMES) | {"config"}
    live = _state_frames_dict(s)
    reloaded = _state_frames_dict(load_state_version(spark, root, v2))
    for fname in _STATE_FRAMES:
        assert _rows_canon(reloaded[fname]) == _rows_canon(live[fname]), fname


def test_concurrent_publishers_get_disjoint_versions_and_sane_pointer(spark):
    """Two publishers racing on ONE root (the 100 TB multi-maintenance-
    job scenario): claim_version's CAS must hand them DISJOINT version
    directories, and the lock-serialized pointer swings must leave
    CURRENT existing and naming a committed version — the enforced form
    of what used to be a documented single-writer contract."""
    import tempfile
    import threading

    from grebi_spark.fsutil import (
        claim_version,
        publish_version,
        resolve_version_dir,
    )

    root = tempfile.mkdtemp(prefix="grebi_pub_race_")
    claimed: list[str] = []
    errors: list[BaseException] = []
    gate = threading.Barrier(4)

    def publisher() -> None:
        try:
            gate.wait(timeout=30)
            for _ in range(3):
                v = claim_version(spark, root)
                claimed.append(v)  # list.append is atomic under the GIL
                publish_version(spark, root, v)
        except BaseException as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=publisher) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    # 12 claims, all distinct — no two publishers shared a directory
    assert len(claimed) == 12 and len(set(claimed)) == 12, sorted(claimed)
    # the pointer survived 12 racing swings and names a committed version
    served = resolve_version_dir(spark, root)
    assert served.rsplit("/", 1)[-1] in set(claimed)
    import os

    assert os.path.exists(os.path.join(root, "CURRENT"))
    assert os.path.exists(os.path.join(served, "_COMMITTED"))


def test_publish_lock_stale_break_and_timeout(spark):
    """A crashed holder's lock (old mtime) is broken and publication
    proceeds; a LIVE lock makes a second acquirer time out loudly
    instead of deadlocking or silentlydouble-publishing."""
    import os
    import tempfile
    import time

    import pytest

    from grebi_spark.fsutil import (
        acquire_publish_lock,
        release_publish_lock,
    )

    root = tempfile.mkdtemp(prefix="grebi_pub_lock_")
    lock = os.path.join(root, "_PUBLISH_LOCK")

    # stale lock: pretend a holder died 1h ago → broken, acquired
    open(lock, "w").close()
    os.utime(lock, (time.time() - 3600, time.time() - 3600))
    acquire_publish_lock(spark, root, timeout_sec=5, stale_sec=600)
    assert os.path.exists(lock)

    # live lock (the one we now hold): a second acquire times out
    with pytest.raises(TimeoutError):
        acquire_publish_lock(spark, root, timeout_sec=0.5, stale_sec=600)
    release_publish_lock(spark, root)
    assert not os.path.exists(lock)


def test_crash_mid_write_level_orphan_segments_ignored_and_pruned(spark):
    """A save killed mid-write leaves a claimed, uncommitted version
    directory holding partial frame files (the commit marker and the
    pointer swing come last). Readers must never see them — resolution
    goes pointer → committed version only — and prune_state_versions
    must sweep them as debris. Runs on a PRIVATE root: the sweep prunes
    old versions too."""
    import os

    from grebi_spark.incremental import (
        load_state_current,
        prune_state_versions,
    )

    a, b = _tiny_sources(spark)
    root = tempfile.mkdtemp(prefix="grebi_crash_orphan_")
    s1 = build_graph_stateful([a], CONFIG)
    save_state_version(s1, root)
    s2 = add_datasource(s1, b)
    save_state_version(s2, root)
    # fabricate the crash artifacts: a claimed-but-never-committed v9
    # whose merged frame was torn mid-write
    torn = os.path.join(root, "v9", "merged")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as fh:
        fh.write(b"PAR1 torn mid-write")
    open(os.path.join(root, "v9", "_CLAIMED"), "w").close()
    # the crash happened an hour ago: the claim marker has aged past the
    # DEFAULT grace window, so the sweep treats it as debris, not as an
    # in-flight publisher (a fresh claim would be spared by default)
    import time as _time

    old = _time.time() - 3600
    os.utime(os.path.join(root, "v9", "_CLAIMED"), (old, old))

    before = _canon(s2.graph.merged)
    # the orphans are invisible: the served state is exactly v2's
    cur = load_state_current(spark, root)
    assert _canon(cur.graph.merged) == before
    # ...and the sweep deletes them
    prune_state_versions(spark, root)
    assert not os.path.exists(os.path.join(root, "v9"))
    after = load_state_current(spark, root)
    assert _canon(after.graph.merged) == before
    # re-snapshot onto the pruned root still works (fresh claim)
    s3 = load_state_current(spark, root)
    vname = save_state_version(s3, root)
    assert vname not in ("v1", "v2")


def test_prune_claim_grace_spares_inflight_publisher(spark):
    """With concurrent publishers, a maintenance prune must not sweep a
    save that has CLAIMED its directory but not yet committed: a grace
    window spares fresh claims, while old uncommitted claims (crash
    debris) and the default grace=0 behavior still sweep."""
    import os
    import tempfile
    import time

    from grebi_spark.fsutil import claim_version, prune_versions

    a, _b = _tiny_sources(spark)
    root = tempfile.mkdtemp(prefix="grebi_prune_grace_")
    s1 = build_graph_stateful([a], CONFIG)
    save_state_version(s1, root)

    vname = claim_version(spark, root)  # an in-flight publisher
    claim = os.path.join(root, vname, "_CLAIMED")
    assert os.path.exists(claim)
    # the DEFAULT prune is graced: the fresh claim is spared without the
    # caller remembering to opt in (safe-by-default)
    prune_versions(spark, root)
    assert os.path.exists(claim)
    # an OLD claim is crash debris: swept even with the grace on
    os.utime(claim, (time.time() - 3600, time.time() - 3600))
    prune_versions(spark, root, claim_grace_sec=600)
    assert not os.path.exists(os.path.join(root, vname))
    # explicit grace=0: aggressive single-writer sweep, fresh claims too
    v2 = claim_version(spark, root)
    prune_versions(spark, root, claim_grace_sec=0)
    assert not os.path.exists(os.path.join(root, v2))
    # serving untouched throughout
    assert load_state_current(spark, root).graph.merged.count() > 0


def test_prune_spares_inflight_publishers_data_segments(spark, monkeypatch):
    """The concurrent-prune data race: ``save_state_version`` writes
    its frames (the longest phase) before it commits, so a maintenance
    prune racing the save sees an uncommitted version directory full of
    fresh data. The graced sweep must spare it, or the publisher commits
    a version whose files are gone. Interleaves a graced prune at exactly
    the race point (after the frame writes, before the publish) inside a
    REAL save and proves the committed version loads row-identical."""
    import grebi_spark.fsutil as fsutil
    from grebi_spark.incremental import load_state_version

    a, b = _tiny_sources(spark)
    root = tempfile.mkdtemp(prefix="grebi_prune_race_")
    s1 = build_graph_stateful([a], CONFIG)
    save_state_version(s1, root)
    s2 = add_datasource(s1, b)
    want = _canon(s2.graph.merged)

    real_publish = fsutil.publish_version
    raced: dict = {}

    def racing_publish(spark_, root_, vname_):
        # frames are on disk, the version is not committed: the race point
        raced["report"] = prune_state_versions(
            spark_, root, claim_grace_sec=600, report=True
        )
        real_publish(spark_, root_, vname_)

    monkeypatch.setattr(fsutil, "publish_version", racing_publish)
    vname = save_state_version(s2, root)
    monkeypatch.undo()

    rep = raced["report"]
    assert vname in rep["spared_claims"], rep
    # the publisher's freshly written frames survived the sweep: its
    # committed version (and the now-serving state) load row-identical
    assert _canon(load_state_version(spark, root, vname).graph.merged) == want
    assert _canon(load_state_current(spark, root).graph.merged) == want
    # the report shape is the GC observability surface
    assert set(rep) == {"versions_removed", "spared_claims"}


def test_publish_lock_owner_token_and_stale_break_safety(spark):
    """A >stale_sec holder whose lock was broken and replaced must NOT
    delete the usurper's fresh lock on release: releases are scoped to
    the owner token the acquire returned."""
    import time

    from grebi_spark.fsutil import (
        _read_small,
        acquire_publish_lock,
        release_publish_lock,
    )

    root = tempfile.mkdtemp(prefix="grebi_lock_token_")
    lock = os.path.join(root, "_PUBLISH_LOCK")

    tok_a = acquire_publish_lock(spark, root, timeout_sec=5, stale_sec=600)
    # holder A stalls past the stale threshold (simulated by aging)
    old = time.time() - 3600
    os.utime(lock, (old, old))
    # waiter B breaks the stale lock (rename-to-tombstone) and acquires
    tok_b = acquire_publish_lock(spark, root, timeout_sec=5, stale_sec=600)
    assert tok_a != tok_b
    # A wakes up and releases: a no-op against B's fresh lock
    release_publish_lock(spark, root, tok_a)
    assert os.path.exists(lock)
    assert _read_small(spark, lock) == tok_b
    # B's own release removes it
    release_publish_lock(spark, root, tok_b)
    assert not os.path.exists(lock)


def test_publish_lock_break_guard_serializes_and_ages(spark):
    """The break guard closes the stat→rename preemption hole (a
    breaker paused between its stale re-stat and its rename must not
    be able to rename a lock rebuilt in the gap): while a LIVE guard
    exists, a waiter facing a stale lock neither breaks nor acquires;
    once the guard is released it breaks and enters. A CRASHED
    breaker's guard (older than the guard-stale threshold) is aged out
    rather than deadlocking every future break."""
    import threading
    import time

    from grebi_spark.fsutil import acquire_publish_lock, release_publish_lock

    root = tempfile.mkdtemp(prefix="grebi_lock_guard_")
    lock = os.path.join(root, "_PUBLISH_LOCK")
    guard = lock + ".breaker"
    old = time.time() - 3600

    # live guard: the waiter must stall on the stale lock
    open(lock, "w").close()
    os.utime(lock, (old, old))
    open(guard, "w").close()  # another breaker mid-break, fresh mtime
    got = []

    def worker():
        got.append(acquire_publish_lock(spark, root, timeout_sec=30))

    t = threading.Thread(target=worker)
    t.start()
    time.sleep(2.0)
    assert got == [] and os.path.exists(lock)  # guarded: no break yet
    os.remove(guard)  # breaker finishes; waiter may now break + claim
    t.join(timeout=30)
    assert len(got) == 1
    release_publish_lock(spark, root, got[0])
    assert not os.path.exists(lock)

    # crashed breaker's guard: aged out, the break proceeds
    open(lock, "w").close()
    os.utime(lock, (old, old))
    open(guard, "w").close()
    os.utime(guard, (old, old))  # stale guard = dead process
    tok = acquire_publish_lock(spark, root, timeout_sec=30)
    release_publish_lock(spark, root, tok)
    assert not os.path.exists(lock) and not os.path.exists(guard)


def test_publish_lock_contention_single_entry(spark):
    """Forced stale break under real thread contention: four waiters
    all observe the same crashed holder's stale lock; the rename-based
    break admits them strictly one at a time (critical-section
    occupancy never exceeds 1), and every waiter eventually enters."""
    import threading
    import time

    from grebi_spark.fsutil import acquire_publish_lock, release_publish_lock

    root = tempfile.mkdtemp(prefix="grebi_lock_race_")
    lock = os.path.join(root, "_PUBLISH_LOCK")
    open(lock, "w").close()  # a crashed holder's stale lock
    old = time.time() - 3600
    os.utime(lock, (old, old))

    mu = threading.Lock()
    inside, peak, entered, errors = [], [0], [0], []

    def worker():
        try:
            tok = acquire_publish_lock(
                spark, root, timeout_sec=60, stale_sec=600
            )
            with mu:
                inside.append(1)
                peak[0] = max(peak[0], len(inside))
                entered[0] += 1
            time.sleep(0.05)
            with mu:
                inside.pop()
            release_publish_lock(spark, root, tok)
        except Exception as exc:  # surfaced below — threads must not hide
            errors.append(exc)

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert entered[0] == 4
    assert peak[0] == 1, f"{peak[0]} holders inside the critical section"
    assert not os.path.exists(lock)
