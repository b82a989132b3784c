"""Maintenance-verb soak: five successive verbs on one graph state in one
JVM, each timed with its Spark job count, next to a from-scratch
``build_graph`` over the same four sources.

The corpus is the benchmark's seeded GrEBI-shaped one
(``perfbench/corpus.py``); its four datasources are split three + one:
the state is built over the first three, then the schedule
add(4th) -> update(4th, half its entities) -> remove(4th) -> add(4th)
-> update(4th, half) runs on it. Each verb's time includes forcing
every frame of the new graph. The last state is checked against a
from-scratch build over the same rows.

Usage: SPARK_DRIVER_MEMORY=2g SPARK_GRAFT_CPUS=4 \\
       python scripts_dev/soak_maintain.py [--concepts 1200] [--seed 301]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

from pyspark.sql import functions as F  # noqa: E402

from grebi_spark.config import SubgraphConfig  # noqa: E402
from grebi_spark.incremental import (  # noqa: E402
    add_datasource,
    build_graph_stateful,
    remove_datasource,
    update_datasource,
)
from grebi_spark.pipeline import build_graph  # noqa: E402
from grebi_spark.session import get_spark  # noqa: E402


def _force(graph) -> tuple[int, ...]:
    """Materialise every frame a graph carries."""
    return (
        graph.merged.count(),
        graph.edges.count(),
        graph.nodes.count(),
        graph.groups.count(),
        graph.index.prop_counts.count(),
        graph.index.type_counts.count(),
        graph.index.names.count(),
        graph.index.ids.count(),
        graph.display_types.count(),
        graph.edge_summary.count(),
    )


def _timed(spark, label: str, fn):
    """(result, seconds, jobs) of ``fn()`` under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    t0 = time.perf_counter()
    out = fn()
    secs = time.perf_counter() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup(label))
    sc.setJobGroup("idle", "idle")
    return out, secs, jobs


def main() -> None:
    from corpus import IDENTIFIER_PROPS, CorpusSpec, write_corpus

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--concepts", type=int, default=CorpusSpec().n_concepts)
    ap.add_argument("--seed", type=int, default=301)
    args = ap.parse_args()

    out = tempfile.mkdtemp(prefix="soak_maintain_")
    corpus = write_corpus(CorpusSpec(n_concepts=args.concepts), args.seed, out)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    spark = get_spark("soak_maintain", shuffle_partitions=cpus)
    config = SubgraphConfig(exclude_edges=IDENTIFIER_PROPS)

    sources = [spark.read.parquet(p).localCheckpoint() for p in corpus.base_paths]
    base, fourth = sources[:3], sources[3]
    name = fourth.select("datasource").first()["datasource"]
    half = fourth.filter(F.crc32("entity_id") % 2 == 0).localCheckpoint()
    print(f"corpus: {args.concepts} concepts, {corpus.rows} rows, 4th source {name}")

    _, secs, jobs = _timed(
        spark, "build4", lambda: _force(build_graph(sources, config))
    )
    print(f"build_graph over 4 sources: {secs:.1f} s, {jobs} jobs", flush=True)

    state, secs, jobs = _timed(
        spark, "build3", lambda: build_graph_stateful(base, config)
    )
    _force(state.graph)
    print(f"initial 3-source state: {secs:.1f} s, {jobs} jobs", flush=True)

    schedule = (
        ("add", lambda s: add_datasource(s, fourth)),
        ("update", lambda s: update_datasource(s, name, half)),
        ("remove", lambda s: remove_datasource(s, name)),
        ("add", lambda s: add_datasource(s, fourth)),
        ("update", lambda s: update_datasource(s, name, half)),
    )
    for i, (verb, apply) in enumerate(schedule, 1):
        def step(s=state, apply=apply):
            st = apply(s)
            _force(st.graph)
            return st

        try:
            state, secs, jobs = _timed(spark, f"verb{i}", step)
        except Exception as exc:  # an OOM surfaces as a Py4J error
            cause = [ln for ln in str(exc).splitlines() if "Error" in ln][:2]
            print(f"verb {i} {verb}: FAILED {type(exc).__name__}: {cause}",
                  flush=True)
            return
        print(
            f"verb {i} {verb}: {secs:.1f} s, {jobs} jobs, "
            f"rows partitions {state.rows.rdd.getNumPartitions()}",
            flush=True,
        )

    scratch = build_graph(base + [half], config)
    same = all(
        sorted(repr(tuple(r)) for r in getattr(state.graph, part).collect())
        == sorted(repr(tuple(r)) for r in getattr(scratch, part).collect())
        for part in ("groups", "nodes", "edges")
    )
    print(f"final state equals a from-scratch build: {same}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
