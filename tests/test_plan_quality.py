"""Physical-plan quality gates — correctness tests for the *plans*, not
the results: the merge partial-aggregates map-side. A regression here
means a stage silently lost its map-side combine.
"""

import contextlib
import io

from pyspark.sql import functions as F


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_merge_has_partial_aggregation(spark):
    """The merge groupBy must partial-aggregate map-side (the k-way-merge
    replacement relies on it at scale)."""
    from grebi_spark.config import SubgraphConfig
    from grebi_spark.operators.merge import merge_nodes
    from grebi_spark.schema import INGESTED

    rows = spark.createDataFrame(
        [("s", "d", "e:1", "grebi:type", "T", None)], INGESTED
    ).withColumnRenamed("entity_id", "node_id").withColumn(
        "source_ids", F.array(F.lit("e:1"))
    )
    merged = merge_nodes(rows.select(
        "subgraph", "datasource", "node_id", "source_ids", "prop_key", "value", "value_props"
    ), SubgraphConfig())
    plan = plan_of(merged, mode="simple")
    # two-phase aggregate: partial_ (map-side) then final
    assert "partial_" in plan or "ObjectHashAggregate" in plan
