"""REAL kill-mid-snapshot crash test: a CHILD process starts
``save_state_version`` onto a root that already serves v1, and the
parent SIGKILLs it while the save's frame files are landing (no Python
cleanup, no atexit — the honest crash). The parent then proves, in its
own Spark session:

1. the served state is still exactly v1's (the torn save is invisible
   — resolution goes pointer → committed version only);
2. ``prune_state_versions`` sweeps the claimed-but-uncommitted version
   directory the kill left;
3. a fresh save on the same root claims a NEW version name and
   publishes normally (the crash poisons nothing).

Usage: python scripts_dev/crash_kill_snapshot.py <sf_dir>
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHILD = """
import sys
sys.path.insert(0, sys.argv[3])
from grebi_spark.session import get_spark
from grebi_spark.incremental import (add_datasource, load_state_current,
                                     save_state_version)
from grebi_spark.plans.parity import _zone_source

spark = get_spark("crash_child", shuffle_partitions=8)
root, sf = sys.argv[1], sys.argv[2]
st = load_state_current(spark, root)
st2 = add_datasource(st, _zone_source(spark, sf))
print("CHILD-SAVING", flush=True)
save_state_version(st2, root)
print("CHILD-DONE", flush=True)  # the parent kills us before this
"""


def main() -> None:
    if len(sys.argv) != 2:
        raise SystemExit(__doc__.rsplit("Usage: ", 1)[1])
    sf = sys.argv[1]

    from grebi_spark.incremental import (
        build_graph_stateful,
        load_state_current,
        prune_state_versions,
        save_state_version,
    )
    from grebi_spark.plans.parity import INC_CONFIG, _star_graph_long
    from grebi_spark.session import get_spark

    spark = get_spark("crash_parent", shuffle_partitions=8)
    customers, nations, regions = _star_graph_long(spark, sf)
    state = build_graph_stateful([customers, nations, regions], INC_CONFIG)
    root = tempfile.mkdtemp(prefix="crash_kill_")
    save_state_version(state, root)
    v1_rows = sorted(
        map(tuple, load_state_current(spark, root).graph.merged.collect())
    )
    print(f"parent: v1 published, {len(v1_rows)} merged rows", flush=True)

    # child starts a second save; kill it while frame files are landing
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as fh:
        fh.write(CHILD)
        child_script = fh.name
    child = subprocess.Popen(
        [sys.executable, child_script, root, sf, REPO],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    # wait for the save to START (the claim creates v2/), then kill
    # while the frame writes are in flight
    deadline = time.time() + 300
    v2 = os.path.join(root, "v2")
    while time.time() < deadline and not os.path.exists(v2):
        if child.poll() is not None:
            raise SystemExit("child exited before claiming — too fast")
        time.sleep(0.02)
    # give the writes a beat so partial parquet actually lands
    time.sleep(1.5)
    os.kill(child.pid, signal.SIGKILL)
    child.wait()
    print("parent: child SIGKILLed mid-save", flush=True)
    torn_committed = os.path.exists(os.path.join(v2, "_COMMITTED"))
    torn_frames = sorted(os.listdir(v2))
    print(
        f"parent: torn v2 committed={torn_committed} entries={torn_frames}",
        flush=True,
    )
    assert not torn_committed, "killed save must not look published"

    # 1. serving intact: still exactly v1
    cur = load_state_current(spark, root)
    assert sorted(map(tuple, cur.graph.merged.collect())) == v1_rows
    print("parent: serving still v1-exact after the kill", flush=True)

    # 2. prune sweeps the torn version. grace=0 is the operator's
    # statement of fact — we KNOW the publisher is dead (we killed it);
    # the default 600 s grace would spare the fresh claim as in-flight
    prune_state_versions(spark, root, claim_grace_sec=0)
    assert not os.path.exists(v2), "claimed torn version dir must be swept"
    cur = load_state_current(spark, root)
    assert sorted(map(tuple, cur.graph.merged.collect())) == v1_rows
    print("parent: prune swept the torn version, v1 still exact", flush=True)

    # 3. the root is not poisoned: a fresh save publishes normally
    st = load_state_current(spark, root)
    vname = save_state_version(st, root)
    cur = load_state_current(spark, root)
    assert sorted(map(tuple, cur.graph.merged.collect())) == v1_rows
    print(f"parent: post-crash save published {vname}; CRASH TEST PASSED",
          flush=True)


if __name__ == "__main__":
    main()
