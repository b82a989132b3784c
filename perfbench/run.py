"""The repository's benchmark: build and serve a seeded GrEBI-shaped corpus.

Usage (from the repository root)::

    python3 perfbench/run.py --workload build --seed 1 --seconds 16 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

* ``build`` — one op is a whole build: per-datasource parquet ->
  ``pipeline.build_graph`` -> ``sinks.kv.build_kv_store`` ->
  ``sinks.solr_jsonl.build_solr_core``. One untimed warm-up build on a
  small corpus runs first, in the same JVM.
* ``serve`` — one op is one HTTP GET to ``api.http_api.GrebiApiServer``
  over the graph built during set-up, with its KV store and search core
  attached; one load-generator process, two closed-loop connections, a
  fixed route mix, Zipf-skewed node ids.

Every answer is checked against the generator's ground truth; an op that
raises, returns a non-200 status or a wrong answer counts as failed.
The last line of standard output is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the run's diagnostics (load average, CPU steal, corpus sizes).
``--trace 1`` wraps the layers' public functions, enables the Spark
event log and reports per-layer metrics instead of end-to-end ones.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# --- steadiness controls ------------------------------------------------
# Cores: the session defaults to local[32]; pin it at or below nproc.
CPUS = min(4, len(os.sched_getaffinity(0)))
# Heap: the session defaults to 24g, above this class of machine's RAM.
DRIVER_MEMORY = "2g"
# A run measures a fixed number of ops, so the op count (and the
# harness's CPU time per op) does not depend on how fast one run went;
# the counts are sized from --seconds for a 4-core machine.
BUILD_OP_S = 16.0            # seconds of --seconds per timed build op
SERVE_CYCLES_PER_S = 0.75    # route-mix cycles per second of --seconds
# Untimed request cycles before the measured ones. Route latencies fall
# for the first ~25 cycles in a fresh JVM (JIT); a few cycles take the
# steepest part of that slope out of the measurement.
SERVE_WARM_CYCLES = 2
CONNECTIONS = 2
READS_PER_BUILD = 500      # KV aliases checked after each build
# Zipf exponent of the node ids requested. A chosen, unmeasured
# assumption: no request log of a deployed GrEBI API is at hand. A value
# a little above 1 sends a large share of requests to a few hot nodes,
# so a cache on the read path would show.
ZIPF_S = 1.1

# The serve mix: one cycle is one request per route, in a shuffled
# order. With no traffic figures for the API at hand, every route gets
# the same weight. Resolve is a KV point read; every other route runs
# Spark jobs per request. Each run sends whole cycles one after another,
# so every run, and every stretch of seven requests in it, carries the
# same requests per route.
ROUTES = (
    "resolve",
    "node",
    "incoming_edges",
    "outgoing_edges",
    "search",
    "search_bm25",
    "suggest",
)
EDGE_PAGE = 10
SEARCH_PAGE = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def host_sample() -> dict:
    """Load average and cumulative CPU jiffies (for steal) of the host."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"load1": load1, "total": sum(cpu), "steal": cpu[7] if len(cpu) > 7 else 0}


def host_diagnostics(before: dict, after: dict) -> dict:
    total = max(1, after["total"] - before["total"])
    return {
        "load1_start": before["load1"],
        "load1_end": after["load1"],
        "steal_pct": round(100.0 * (after["steal"] - before["steal"]) / total, 3),
    }


# --- result accounting ---------------------------------------------------

class Ledger:
    """Ops attempted and failed; a failure keeps its reason for stderr."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(reason)

    def result(self, metrics: dict[str, tuple[float, str]]) -> dict:
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


# --- session ---------------------------------------------------------------

def make_env(run_dir: str) -> None:
    """Keep every file the run writes inside its own scratch directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    # the short-lived JVM that spark-submit starts to build the command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp


def start_session(run_dir: str, event_dir: str | None):
    from grebi_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark("perfbench", shuffle_partitions=CPUS, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM this process launched and wait for it
    (it exits when its stdin closes; its Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def drop_frames(spark) -> None:
    """Release the previous op's frames: Python references first, then a
    JVM collection so Spark's cleaner drops their checkpoint blocks."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


# --- build -------------------------------------------------------------------

def config():
    from grebi_spark.config import SubgraphConfig

    from corpus import IDENTIFIER_PROPS

    # identifier-valued properties resolve to the node itself after
    # id assignment; only reference properties become edges
    return SubgraphConfig(exclude_edges=IDENTIFIER_PROPS)


def build_once(spark, corpus, out_dir: str, tracer=None):
    """One build op; returns (graph, kv path, core root, seconds)."""
    from grebi_spark.pipeline import build_graph
    from grebi_spark.sinks.kv import build_kv_store
    from grebi_spark.sinks.solr_jsonl import build_solr_core

    from layertrace import null_span

    span = tracer.span if tracer else null_span
    os.makedirs(out_dir, exist_ok=True)
    kv_path = os.path.join(out_dir, "kv.sqlite")
    core_root = os.path.join(out_dir, "core")
    t0 = time.perf_counter()
    with span("build"):
        with span("sources"):
            sources = [spark.read.parquet(p) for p in corpus.base_paths]
        with span("pipeline"):
            g = build_graph(sources, config())
        with span("kv"):
            build_kv_store(g.merged, g.nodes, kv_path, shards=CPUS, edges=g.edges)
        with span("core"):
            build_solr_core(g.merged, g.nodes, g.edges, core_root)
    return g, kv_path, core_root, time.perf_counter() - t0


def check_build(spark, corpus, g, kv_path, core_root, rng, n_reads):
    """Compare a build against the ground truth, reading ``n_reads``
    sampled aliases back from its KV store; returns (ok, reason, counts)."""
    from grebi_spark.sinks.kv import kv_store_get

    # the unwrapped read: in a traced run, kv.get covers only API reads
    kv_get = getattr(kv_store_get, "__wrapped__", kv_store_get)
    truth = corpus.truth()
    counts = {"nodes": g.nodes.count(), "edges": g.edges.count(), "merged": g.merged.count()}
    if counts["nodes"] != len(truth.nodes):
        return False, f"nodes {counts['nodes']} != {len(truth.nodes)}", counts
    if counts["edges"] != len(truth.edges):
        return False, f"edges {counts['edges']} != {len(truth.edges)}", counts
    docs = spark.read.parquet(f"{core_root}/nodes/segments/seg=0").count()
    if docs != len(truth.nodes):
        return False, f"core docs {docs} != {len(truth.nodes)}", counts
    aliases = sorted(truth.canon)
    for alias in rng.sample(aliases, min(n_reads, len(aliases))):
        got = kv_get(kv_path, [alias])
        doc = json.loads(got[alias]) if alias in got else None
        if doc is None or doc["node_id"] != truth.canon[alias]:
            return False, f"kv alias {alias} -> {doc and doc['node_id']}", counts
    return True, "", counts


def run_build(args, spark, corpus, run_dir, ledger, tracer):
    from corpus import CorpusSpec, write_corpus

    rng = random.Random(args.seed * 7919 + 1)
    # untimed warm-up: one whole build on a small corpus of the same shape
    warm = write_corpus(
        CorpusSpec(n_concepts=150, hub_members=20),
        args.seed + 10**6,
        os.path.join(run_dir, "warm_corpus"),
    )
    g, kv, core, warm_s = build_once(spark, warm, os.path.join(run_dir, "warm_out"))
    ok, reason, _ = check_build(spark, warm, g, kv, core, rng, 20)
    if not ok:
        raise RuntimeError(f"warm-up build is wrong: {reason}")
    g = None
    setup_end = time.perf_counter()

    n_ops = max(1, round(args.seconds / BUILD_OP_S))
    op_s: list[float] = []
    counts: dict = {}
    for i in range(n_ops):
        drop_frames(spark)
        out = os.path.join(run_dir, f"op{i}")
        try:
            g, kv, core, secs = build_once(spark, corpus, out, tracer)
            ok, reason, counts = check_build(
                spark, corpus, g, kv, core, rng, READS_PER_BUILD
            )
        except Exception as exc:  # an op that raises is a failed op
            ok, reason, secs = False, f"{type(exc).__name__}: {exc}", None
        ledger.record(ok, reason)
        if secs is not None:
            op_s.append(secs)
        if i == n_ops - 1 and tracer is not None:
            counts["kv_bytes"] = os.path.getsize(kv)
            counts["core_bytes"] = dir_bytes(core)
        if i < n_ops - 1:
            g = None
            shutil.rmtree(out, ignore_errors=True)
    if tracer is not None and g is not None:
        # traced runs only: one request cycle over the last build, so the
        # read-side layers (api, kv reads, core reads) are measured here too
        from grebi_spark.api.http_api import GrebiApiServer

        server = GrebiApiServer(
            {"main": g}, kv_stores={"main": kv}, solr_cores={"main": core}
        ).start()
        try:
            counts["measured_spans_from"] = len(tracer.spans)
            probe = run_loadgen(run_dir, server.port, request_plan(corpus, rng, 1), "probe")
        finally:
            server.stop()
        bad = [r for r in probe["records"] if not r["ok"]]
        if bad:
            raise RuntimeError(f"probe requests failed: {bad}")
        counts["probe"] = probe
    return setup_end, op_s, counts, {
        "warmup_build_s": round(warm_s, 3),
        "op_s": [round(x, 3) for x in op_s],
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


# --- serve -------------------------------------------------------------------

def zipf_picker(rng: random.Random, items: list[str]):
    weights = [1.0 / (k + 1) ** ZIPF_S for k in range(len(items))]
    order = list(items)
    rng.shuffle(order)

    def pick() -> str:
        return rng.choices(order, weights=weights)[0]

    return pick


def request_plan(corpus, rng: random.Random, cycles: int) -> list[dict]:
    """``cycles`` whole cycles of the route mix, each cycle shuffled,
    each request with its expected answer."""
    from corpus import WORDS

    truth = corpus.truth()
    nodes = sorted(truth.nodes)
    pick_node = zipf_picker(rng, nodes)
    aliases_of: dict[str, list[str]] = {}
    for alias, node in truth.canon.items():
        aliases_of.setdefault(node, []).append(alias)
    for v in aliases_of.values():
        v.sort()
    routes = []
    for _ in range(cycles):
        cycle = list(ROUTES)
        rng.shuffle(cycle)
        routes += cycle
    base = "/api/v1/subgraphs/main"
    plan = []
    for route in routes:
        node = pick_node()
        word = rng.choice(WORDS)
        if route == "resolve":
            alias = rng.choice(aliases_of[node])
            path, expect = f"{base}/resolve/{alias}", {"kind": "resolve", "node": node}
        elif route == "node":
            path = f"{base}/nodes/{node}"
            expect = {"kind": "node", "node": node, "names": sorted(truth.names[node])}
        elif route in ("incoming_edges", "outgoing_edges"):
            deg = (truth.in_deg if route == "incoming_edges" else truth.out_deg).get(node, 0)
            path = f"{base}/nodes/{node}/{route}?size={EDGE_PAGE}"
            expect = {"kind": "count", "n": min(EDGE_PAGE, deg)}
        elif route == "search":
            path = f"{base}/search?q={word}&size={SEARCH_PAGE}"
            expect = {"kind": "count", "n": min(SEARCH_PAGE, truth.search_hits(word))}
        elif route == "search_bm25":
            path = f"{base}/search?q={word}&size={SEARCH_PAGE}&rank=bm25"
            expect = {"kind": "count", "n": min(SEARCH_PAGE, truth.bm25_hits(word))}
        else:
            prefix = word[:3]
            path = f"{base}/suggest?q={prefix}"
            expect = {"kind": "suggest", "names": truth.suggest(prefix)}
        plan.append({"route": route, "path": path, "expect": expect})
    return plan


def run_loadgen(run_dir: str, port: int, plan: list[dict], name: str) -> dict:
    """Send ``plan`` from a separate load-generator process."""
    plan_path = os.path.join(run_dir, f"{name}_plan.json")
    out_path = os.path.join(run_dir, f"{name}_out.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "loadgen.py"),
            "--port", str(port),
            "--plan", plan_path,
            "--out", out_path,
            "--connections", str(CONNECTIONS),
        ],
        check=True,
        timeout=170,
    )
    with open(out_path) as f:
        out = json.load(f)
    if len(out["records"]) != len(plan):
        raise RuntimeError(f"{len(out['records'])} replies recorded for {len(plan)} requests")
    return out


def serve_setup(spark, corpus, run_dir, tracer):
    from grebi_spark.api.http_api import GrebiApiServer

    g, kv, core, build_s = build_once(spark, corpus, os.path.join(run_dir, "served"), tracer)
    ok, reason, counts = check_build(spark, corpus, g, kv, core, random.Random(0), 20)
    if not ok:
        raise RuntimeError(f"served graph is wrong: {reason}")
    counts["kv_bytes"] = os.path.getsize(kv)
    counts["core_bytes"] = dir_bytes(core)
    server = GrebiApiServer({"main": g}, kv_stores={"main": kv}, solr_cores={"main": core})
    return server.start(), counts, build_s


def run_serve(args, spark, corpus, run_dir, ledger, tracer):
    rng = random.Random(args.seed * 7919 + 2)
    server, counts, build_s = serve_setup(spark, corpus, run_dir, tracer)
    try:
        # untimed warm-up cycles of the mix
        warm_plan = request_plan(corpus, rng, SERVE_WARM_CYCLES)
        warm = run_loadgen(run_dir, server.port, warm_plan, "warm")
        bad = [r for r in warm["records"] if not r["ok"]]
        if bad:
            raise RuntimeError(f"warm-up requests failed: {bad}")
        setup_end = time.perf_counter()
        if tracer is not None:
            counts["measured_spans_from"] = len(tracer.spans)

        cycles = max(1, round(args.seconds * SERVE_CYCLES_PER_S))
        plan = request_plan(corpus, rng, cycles)
        out = run_loadgen(run_dir, server.port, plan, "measure")
    finally:
        server.stop()
    for req, rec in zip(plan, out["records"]):
        ledger.record(rec["ok"], f"{req['path']}: status {rec['status']} {rec.get('error', '')}")
    by_route = {
        r: round(statistics.median([x["ms"] for x in out["records"] if x["route"] == r]), 2)
        for r in ROUTES
    }
    return setup_end, out, counts, {"setup_build_s": round(build_s, 3), "route_p50_ms": by_route}


# --- per-layer metrics ---------------------------------------------------------

# the build's layer self times must sum to within 10 % of its wall time
MIN_LAYER_COVER = 0.9
BUILD_LAYERS = ("sources", "groups", "merge", "index", "materialise", "kv", "core")


def install_tracing(tracer) -> None:
    """Wrap each layer's public functions for the rest of the process."""
    import grebi_spark.api.http_api as api
    import grebi_spark.pipeline as pipeline
    import grebi_spark.sinks.kv as kv
    import grebi_spark.sinks.solr_jsonl as solr

    from layertrace import wrap

    # the operators build_graph imports: lazy frames that run at the
    # next barrier, so each layer's span is sticky (see layertrace.py)
    for name, layer in (
        ("extract_identifiers", "groups"),
        ("identifier_pairs", "groups"),
        ("build_groups", "groups"),
        ("assign_ids", "merge"),
        ("lift_types", "merge"),
        ("merge_nodes", "merge"),
        ("node_table", "merge"),
        ("build_index", "index"),
        ("materialise_edges", "materialise"),
        ("display_types", "materialise"),
        ("edge_summary", "materialise"),
    ):
        wrap(tracer, pipeline, name, layer, sticky=True)
    # read side of the serving stores, called from inside the API
    wrap(tracer, kv, "kv_store_get", "kv.get", set_group=False)
    for name, layer in (
        ("read_solr_core", "core.read"),
        ("search_core_docs", "core.search"),
        ("search_core_docs_bm25", "core.bm25"),
        ("suggest_core_docs", "core.suggest"),
    ):
        wrap(tracer, solr, name, layer, sticky=True, set_group=False)

    handle = api.GrebiApiServer.handle

    def traced_handle(self, path, query):
        with tracer.span("api." + route_of(path, query)):
            return handle(self, path, query)

    api.GrebiApiServer.handle = traced_handle


def route_of(path: str, query: dict) -> str:
    parts = path.strip("/").split("/")
    tail = parts[4:] if len(parts) > 4 else []
    if tail[:1] == ["resolve"]:
        return "resolve"
    if tail[:1] == ["nodes"]:
        return tail[2] if len(tail) > 2 else "node"
    if tail == ["search"]:
        return "search_bm25" if query.get("rank") == ["bm25"] else "search"
    if tail == ["suggest"]:
        return "suggest"
    return "other"


def layer_metrics(tracer, groups, counts, corpus, session_s, op_ms, serve_out) -> dict:
    """Per-layer metrics from the spans and the event log's job groups."""
    from corpus import identifier_pair_count

    selft = tracer.self_times()
    tot = tracer.totals()
    ncall = tracer.counts()
    n_builds = max(1, ncall.get("build", 0))
    m: dict[str, tuple[float, str]] = {}

    def per_build(name: str) -> float:
        return selft.get(name, 0.0) / n_builds

    m["session.start_s"] = (session_s, "s")
    m["sources.read_s"] = (per_build("sources"), "s")
    m["sources.rows"] = (corpus.rows, "count")
    truth = corpus.truth()
    m["groups.s"] = (per_build("groups"), "s")
    m["groups.jobs"] = (groups["groups"].jobs / n_builds if "groups" in groups else 0, "count")
    m["groups.pairs"] = (identifier_pair_count(corpus), "count")
    m["groups.max_clique"] = (truth.max_clique, "count")
    m["merge.s"] = (per_build("merge"), "s")
    m["merge.rows"] = (counts.get("merged", 0), "count")
    m["index.s"] = (per_build("index"), "s")
    m["materialise.s"] = (per_build("materialise"), "s")
    m["materialise.edges"] = (counts.get("edges", 0), "count")
    m["kv.build_s"] = (per_build("kv"), "s")
    m["kv.bytes_per_input_byte"] = (counts.get("kv_bytes", 0) / corpus.input_bytes, "ratio")
    m["core.build_s"] = (per_build("core"), "s")
    m["core.segments"] = (1, "count")
    m["core.bytes_per_input_byte"] = (counts.get("core_bytes", 0) / corpus.input_bytes, "ratio")
    # read-side spans: mean duration per call
    for span_name, metric in (
        ("kv.get", "kv.get_ms"),
        ("core.search", "core.search_ms"),
        ("core.bm25", "core.bm25_ms"),
        ("core.suggest", "core.suggest_ms"),
    ):
        n = ncall.get(span_name, 0)
        m[metric] = (1000.0 * tot.get(span_name, 0.0) / n if n else 0.0, "ms")
    # API spans of the measured requests (the warm-up cycle excluded)
    measured = tracer.spans[counts.get("measured_spans_from", len(tracer.spans)):]
    handle_ms, overhead_ms = [], []
    for r in ROUTES:
        spans = [s for s in measured if s.name == "api." + r and s.end is not None]
        ms = [1000.0 * (s.end - s.start) for s in spans]
        handle_ms += ms
        overhead_ms += [1000.0 * s.overhead for s in spans]
        m[f"api.{r}_ms"] = (statistics.fmean(ms) if ms else 0.0, "ms")
        # the event log counts the warm-up cycle's jobs too
        n = ncall.get("api." + r, 0)
        jobs = groups["api." + r].jobs if "api." + r in groups else 0
        m[f"api.{r}.jobs_per_request"] = (jobs / n if n else 0.0, "count")
    # the tracer's own cost per request (setting and restoring the job
    # group around handle), which falls outside the handle spans
    m["trace.request_overhead_ms"] = (
        statistics.fmean(overhead_ms) if overhead_ms else 0.0, "ms"
    )
    client_ms = [r["ms"] for r in serve_out["records"]] if serve_out else []
    m["api.wait_ms"] = (
        statistics.fmean(client_ms) - statistics.fmean(handle_ms)
        - m["trace.request_overhead_ms"][0]
        if client_ms and handle_ms else 0.0,
        "ms",
    )
    # Spark work under every layer, from the event log by job group
    api_groups = [g for g in groups if g.startswith("api.")]
    for layer in BUILD_LAYERS + ("api",):
        names = api_groups if layer == "api" else [layer]
        st = [groups[n] for n in names if n in groups]
        wall_s = sum(tot.get(n, 0.0) if layer == "api" else selft.get(n, 0.0) for n in names)
        ex_ms = sum(s.executor_ms for s in st)
        m[f"{layer}.stages"] = (sum(s.stages for s in st), "count")
        m[f"{layer}.tasks"] = (sum(s.tasks for s in st), "count")
        m[f"{layer}.shuffle_write_mb"] = (sum(s.shuffle_write_bytes for s in st) / 2**20, "MB")
        m[f"{layer}.shuffle_read_mb"] = (sum(s.shuffle_read_bytes for s in st) / 2**20, "MB")
        m[f"{layer}.spill_mb"] = (sum(s.spill_bytes for s in st) / 2**20, "MB")
        m[f"{layer}.gc_ms"] = (sum(s.gc_ms for s in st), "ms")
        m[f"{layer}.busy_ratio"] = (
            ex_ms / (1000.0 * wall_s * CPUS) if wall_s > 0 else 0.0,
            "ratio",
        )
    # tracing checks: the traced op time, and the share of each build's
    # wall time that its layer spans account for. Sticky spans last until
    # the next layer starts, so the share is close to 1 by construction:
    # it leaves out only the time between the top-level calls and the time
    # inside build_graph before its first wrapped operator. It shows an
    # unwrapped stage ahead of the operators, not work charged to the
    # wrong sticky layer.
    m["trace.op_p50_ms"] = (statistics.median(op_ms), "ms") if op_ms else (0.0, "ms")
    build_total = tot.get("build", 0.0)
    cover = (
        1.0 - (selft.get("build", 0.0) + selft.get("pipeline", 0.0)) / build_total
        if build_total else 0.0
    )
    if cover < MIN_LAYER_COVER:
        raise RuntimeError(
            f"layer spans cover {cover:.3f} of the traced build, below {MIN_LAYER_COVER}"
        )
    m["trace.layer_cover"] = (cover, "ratio")
    return m


# --- main ----------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="grebi_spark build/serve benchmark")
    ap.add_argument("--workload", choices=("build", "serve"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import grebi_spark.pipeline  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from corpus import CorpusSpec, write_corpus
    from layertrace import Tracer, read_event_logs

    host0 = host_sample()
    run_dir = os.path.join(
        ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        make_env(run_dir)
        event_dir = os.path.join(run_dir, "events") if args.trace else None
        if event_dir:
            os.makedirs(event_dir)
        t0 = time.perf_counter()
        spark = start_session(run_dir, event_dir)
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            install_tracing(tracer)
        corpus = write_corpus(CorpusSpec(), args.seed, os.path.join(run_dir, "corpus"))
        ledger = Ledger()
        serve_out = None
        if args.workload == "build":
            setup_end, op_s, counts, phase = run_build(
                args, spark, corpus, run_dir, ledger, tracer
            )
            op_ms = [1000.0 * s for s in op_s]
            wall_s = sum(op_s)
        else:
            setup_end, serve_out, counts, phase = run_serve(
                args, spark, corpus, run_dir, ledger, tracer
            )
            recs = serve_out["records"]
            op_ms = [r["ms"] for r in recs]
            wall_s = serve_out["wall_s"]
        setup_s = setup_end - t0
        stop_session(spark)
        spark = None
        host1 = host_sample()

        if not op_ms:
            raise RuntimeError("no op completed")
        if args.trace:
            groups = read_event_logs(event_dir)
            tracer.write(os.path.join(run_dir, "spans.json"))
            keep = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(
                os.path.join(run_dir, "spans.json"),
                os.path.join(keep, f"{args.workload}-{args.seed}.json"),
            )
            metrics = layer_metrics(
                tracer, groups, counts, corpus, session_s, op_ms,
                serve_out or counts.get("probe"),
            )
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_ms": (statistics.median(op_ms), "ms"),
                "op_p90_ms": (percentile(op_ms, 90), "ms"),
                "ops_per_s": (len(op_ms) / wall_s, "1/s"),
            }
        diag = {
            "workload": args.workload,
            "seed": args.seed,
            "ops": len(op_ms),
            "corpus_rows": corpus.rows,
            "nodes": len(corpus.truth().nodes),
            "edges": len(corpus.truth().edges),
            "session_s": round(session_s, 3),
            **phase,
            **host_diagnostics(host0, host1),
        }
        for r in ledger.reasons:
            print(f"perfbench: failed op: {r}", file=sys.stderr)
        print(json.dumps({"diagnostics": diag}))
        print(json.dumps(ledger.result(metrics)))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
