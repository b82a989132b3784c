"""SparkSession builders.

Local test sessions run on ``local[N]`` (one JVM); the same configs are
what we would set fleet-wide on a 1000-executor cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow for the
Pandas-UDF slow path, and shuffle partitions sized to the parallelism at
hand rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# share of physical RAM the driver heap gets when SPARK_DRIVER_MEMORY is
# unset: local mode runs every executor inside this one JVM, and the
# Python workers and the OS page cache need the other half
_DRIVER_MEMORY_SHARE = 0.5


def _default_driver_memory() -> str:
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{int(phys * _DRIVER_MEMORY_SHARE) // (1 << 20)}m"


def get_spark(
    app_name: str = "grebi_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` sets the local-mode thread count and
    ``SPARK_DRIVER_MEMORY`` the driver heap. Unset, they default to the
    CPUs this process may run on and to half of physical RAM, so a
    session never asks for more than the machine has. On a real cluster
    spark-submit supplies the master instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    # Make this package importable in executor Python workers regardless of
    # the driver script's cwd (cluster equivalent: ship a wheel via
    # spark-submit --py-files).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(":"):
        os.environ["PYTHONPATH"] = f"{pkg_root}:{existing}" if existing else pkg_root
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: coalesce post-shuffle partitions, split skewed ones, and
        # convert to broadcast joins at runtime — essential at 100 TB where
        # static planning cannot know per-key cardinalities.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at its default (true):
        # the byte-targeting mode was measured to coalesce CPU-dense
        # stages (Python UDF parsing, iterative join rounds) down to ONE
        # post-shuffle partition on small inputs, serializing exactly
        # the work that needs the cores.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow batches for the (rare) Pandas-UDF path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the harness events table stores TIMESTAMP(NANOS) which the Spark
        # parquet reader rejects by default; read as long (nanos since epoch)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Catalyst constraint propagation accumulates constraint SETS
        # across plan generations — and localCheckpoint PRESERVES them
        # (originConstraints), so a long incremental-verb sequence makes
        # every later fold's ANALYSIS super-linear (measured: one
        # count-delta join analyzing in 7-12 s by fold 18, 0.01 s with
        # propagation off; fold latency 6× over 30 folds). The engine's
        # filters are all explicit, so the rule buys nothing here — the
        # standard mitigation for iterative/maintained-plan workloads.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # managed (bucketed) tables go to a scratch warehouse, never the cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/grebi_spark_warehouse"),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Make ``grebi_spark`` importable in executor Python workers of ANY
    session — including one created by a host harness before this package
    was importable (PYTHONPATH exports don't reach workers of an
    already-started JVM). Ships a package zip via ``addPyFile``, which
    workers prepend to sys.path. Idempotent per SparkContext."""
    sc = spark.sparkContext
    if getattr(sc, "_grebi_spark_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), "grebi_spark_pkg.zip")
    sources = [
        os.path.join(dirpath, fn)
        for dirpath, _dirnames, filenames in os.walk(pkg_dir)
        if "__pycache__" not in dirpath
        for fn in filenames
        if fn.endswith(".py")
    ]
    newest = max(os.path.getmtime(p) for p in sources)
    # rebuild when any source is newer than the zip — a cached stale zip
    # would ship outdated code to workers silently
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest:
        fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tempfile.gettempdir())
        os.close(fd)
        with zipfile.ZipFile(tmp, "w") as zf:
            for full in sources:
                zf.write(
                    full, os.path.join("grebi_spark", os.path.relpath(full, pkg_dir))
                )
        os.replace(tmp, zip_path)  # atomic: concurrent sessions see old or new
    sc.addPyFile(zip_path)
    sc._grebi_spark_shipped = True


# Lazy DataFrame HANDLES per (session, table path, mtime) — a handle is a
# logical plan, not data: every execution through it still scans parquet,
# so timed runs stay compute-honest (nothing is cached across the timed
# region). What the memo saves is the per-call driver work of
# spark.read.parquet — py4j round trips, file listing, footer/schema read
# — which measured ~0.10-0.14 s per table per call and is paid by nearly
# every registered query (guide §5: the driver should do almost no
# repeated metadata work on the query path). The mtime in the key drops
# the entry when the file/dir is replaced (soak corpora, test scratch).
_TABLE_CACHE: dict[tuple, "object"] = {}
_SESSION_CONF_DONE: set[str] = set()
# last (path, mtime) registered as each session's temp view, so repeat
# calls skip the per-view py4j round trip; nothing else in the engine
# registers views under the base-table names (grep: all other
# createOrReplaceTempView sites use _-prefixed or graph_* names)
_VIEWS_REGISTERED: dict[tuple, tuple] = {}


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the harness parquet tables as a dict of DataFrames and register
    them as temp views (the engine's native batch-query mode, cf. GrEBI
    stage 08 which runs *.cypher against the built Neo4j —
    08_run_queries/run_queries.slurm.py:20-60)."""
    all_names = (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    # defend against foreign sessions (e.g. the driver harness): the events
    # table stores TIMESTAMP(NANOS), unreadable unless this legacy conf is
    # on — it is runtime-settable, so set it here rather than only at build.
    # The timezone must be UTC for the timestamp_ntz→timestamp cast (and
    # every date_trunc/unix_micros) to agree with the naive-as-UTC oracles.
    app_id = spark.sparkContext.applicationId
    if app_id not in _SESSION_CONF_DONE:
        for conf_key, conf_val in (
            ("spark.sql.legacy.parquet.nanosAsLong", "true"),
            ("spark.sql.session.timeZone", "UTC"),
        ):
            try:
                spark.conf.set(conf_key, conf_val)
            except Exception:
                pass  # conf locked down → the session owner already chose a policy
        _SESSION_CONF_DONE.add(app_id)
    out = {}
    for name in names or all_names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            key = (app_id, path, os.path.getmtime(path))
            df = _TABLE_CACHE.get(key)
            if df is None:
                df = spark.read.parquet(path)
                if name == "events":
                    ts_dtype = dict(df.dtypes).get("ts")
                    if ts_dtype == "bigint":
                        # nanos-as-long (see get_spark) → real timestamp column
                        df = df.withColumn(
                            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
                        )
                    elif ts_dtype == "timestamp_ntz":
                        # no-tz parquet micros; session tz is UTC so values are
                        # unchanged, and watermarks require TimestampType
                        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
                _TABLE_CACHE[key] = df
            view_key = (app_id, name)
            if _VIEWS_REGISTERED.get(view_key) != key:
                df.createOrReplaceTempView(name)
                _VIEWS_REGISTERED[view_key] = key
            out[name] = df
    return out
