"""Stateless record operators (SURVEY.md §2.2).

Kafka Streams anchors [R]: KStream#filter / #mapValues / #flatMapValues /
#split (BranchedKStream) / #merge. All are single-pass, shuffle-free
narrow transformations in Spark — they stay inside one WholeStageCodegen
span and cost one scan at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query


@query(
    "filter_purchases",
    oracle="""
SELECT event_id, ts, user_id, value
FROM events
WHERE event_type = 'purchase'
""",
)
def filter_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: KStream#filter. The predicate is pushed to the parquet scan."""
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "ts", "user_id", "value")
    )


@query(
    "project_events",
    oracle="""
SELECT event_id, user_id,
       upper(event_type) AS event_type_uc,
       round(value * 1.1, 4) AS value_adj
FROM events
""",
)
def project_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: KStream#mapValues — value transformation, key preserved."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.upper("event_type").alias("event_type_uc"),
        F.round(F.col("value") * 1.1, 4).alias("value_adj"),
    )


@query(
    "explode_tokens",
    oracle="""
SELECT doc_id, unnest(string_split(text, ' ')) AS token
FROM documents
""",
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: KStream#flatMapValues — one record to 0..n. `explode` is the
    Spark-native flatMap; generation happens JVM-side in codegen."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )


@query(
    "branch_by_type",
    oracle="""
SELECT event_id, event_type,
       CASE WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
            WHEN event_type = 'error' THEN 'error'
            ELSE 'engagement' END AS branch
FROM events
""",
)
def branch_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: KStream#split. Single-pass tag-column variant: at 100 TB one
    scan with a CASE beats N filtered re-scans; downstream consumers
    filter on the tag (which Catalyst pushes back down)."""
    ev = load_table(spark, sf_dir, "events")
    branch = (
        F.when(F.col("event_type").isin("purchase", "signup"), "conversion")
        .when(F.col("event_type") == "error", "error")
        .otherwise("engagement")
    )
    return ev.select("event_id", "event_type", branch.alias("branch"))


def peek(df: DataFrame, name: str, *metrics: "F.Column"):
    """P7: KStream#peek analog — side-effect-free observation of rows
    flowing through a plan. Spark-first form: `df.observe` attaches
    metric expressions evaluated DURING execution (no second scan, no
    foreach side effects). Returns (df, Observation); read
    `observation.get` after an action. Streaming twin:
    `streaming.observe.observe_stream` + `MetricsTap` listener.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    if not metrics:
        metrics = (F.count(F.lit(1)).alias("rows"),)
    return df.observe(obs, *metrics), obs


@query(
    "peek_event_counts",
    oracle="""
SELECT event_id, event_type, value FROM events
""",
)
def peek_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: KStream#peek — passthrough plan with an execution-time metric
    tap (row count + value sum). The observation rides the same scan;
    returned rows are identical to the untapped plan, which is exactly
    the peek contract."""
    import uuid

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    tapped, _obs = peek(
        ev,
        f"peek_events_{uuid.uuid4().hex[:8]}",
        F.count(F.lit(1)).alias("rows"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    return tapped


@query(
    "merge_streams",
    oracle="""
SELECT event_id, ts, user_id, event_type, value FROM events WHERE event_type = 'view'
UNION ALL
SELECT event_id, ts, user_id, event_type, value FROM events WHERE event_type = 'purchase'
""",
)
def merge_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: KStream#merge — UNION ALL of two branches (no dedup)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    views = ev.filter(F.col("event_type") == "view")
    purchases = ev.filter(F.col("event_type") == "purchase")
    return views.unionByName(purchases)


@query(
    "explode_tokens_with_position",
    oracle="""
SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS token
FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents) s
CROSS JOIN unnest(range(1, len(t) + 1)) AS u(i)
""",
)
def explode_tokens_with_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 positional form: posexplode keeps each element's index — the
    building block for span/position-aware text ops (the repeated-span
    scrub's mark join keys on exactly this (doc, pos) shape). Pure
    codegen generator, zero shuffle.
    """
    from ..catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "token"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "token")
