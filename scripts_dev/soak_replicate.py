"""Scale soak: replicate the fact tables N x with shifted keys into a
scratch sf_dir (dims copied unchanged), then time chosen queries there.

Usage: python scripts_dev/soak_replicate.py [N] [query ...]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod  # noqa: E402
from grebi_spark.session import get_spark  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICATED = ("lineitem", "events", "documents", "embeddings")
COPIED = ("region", "nation", "customer", "supplier", "part", "orders")

SHIFTS = {
    "lineitem": ("l_orderkey", 10_000_000),
    "events": ("event_id", 10_000_000),
    "documents": ("doc_id", 10_000_000),
    "embeddings": ("vec_id", 10_000_000),
}


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    names = sys.argv[2:]
    spark = get_spark("soak", shuffle_partitions=32)
    # SOAK_KEEP_DIR: build the replicated corpus at a persistent path and
    # keep it, so later soaks (scripts_dev/check_query.py --sf <dir>) can
    # reuse it
    keep = os.environ.get("SOAK_KEEP_DIR")
    out = keep or tempfile.mkdtemp(prefix=f"grebi_soak_{n}x_")
    if keep:
        os.makedirs(out, exist_ok=True)
    from pyspark.sql import functions as F

    for t in COPIED:
        shutil.copy(f"{BASE}/{t}.parquet", f"{out}/{t}.parquet")
    for t in REPLICATED:
        df = spark.read.parquet(f"{BASE}/{t}.parquet")
        key, span = SHIFTS[t]
        parts = [df]
        for i in range(1, n):
            parts.append(df.withColumn(key, F.col(key) + i * span))
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.coalesce(8).write.mode("overwrite").parquet(f"{out}/_{t}")
        # the harness expects <table>.parquet as a single path; a dir
        # works. Clear a previous keep-dir run's table first: os.rename
        # onto an existing non-empty directory raises.
        shutil.rmtree(f"{out}/{t}.parquet", ignore_errors=True)
        os.rename(f"{out}/_{t}", f"{out}/{t}.parquet")
        print(f"replicated {t}: {u.count()} rows", flush=True)

    qs = entry_mod.queries()
    for name in names:
        t0 = time.time()
        rows = qs[name](spark, out).collect()
        print(f"SOAK {n}x {name}: {time.time()-t0:.1f}s ({len(rows)} rows)", flush=True)
    spark.stop()
    if not keep:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
