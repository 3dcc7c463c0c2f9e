"""Incremental KG construction: the batch pipeline's stateless stages
(HTML extract → mention/triple extraction → broadcast linking →
canonicalization) run unchanged over a Structured Streaming source —
mapInPandas and broadcast joins are stateless, so micro-batch results
are exactly the batch results on the same rows (pytest-gated).

At production scale this is the continuous-ingest shape: a file/Kafka
source of crawled pages, append-mode sink into the same partitioned
edges table the batch job writes (kg/graph.py), lineage per micro-batch
instead of per partition. Windowed aggregations stream too —
``kg_edge_window_counts_stream`` keeps per-(event-time window,
predicate) edge counts with a watermark on crawl time bounding the
state. Whole-graph stages (global entity dedup, PageRank) stay
batch/periodic — they need the full graph, which is why the pipeline
splits exactly there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.pages import ENTITIES, PREDICATES
from .events import run_stream_over_dir

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def kg_edges_stream(spark: SparkSession, pages_dir: str, query_name: str = "kg_edges_stream") -> DataFrame:
    """readStream over a pages directory → fused extract+link+canonicalize
    → drained append-mode memory sink (availableNow). Returns the edge
    table; equals build_kg(...)["edges"] on the same input."""
    from ..kg.graph import canonicalize_edges, predicate_context
    from ..kg.link import kb_index
    from ..kg.mentions import extract_link_from_html

    surfaces = [p[0] for p in PREDICATES]
    gazetteer = [a for _c, aliases, _cls in ENTITIES for a in aliases]
    idx = kb_index(ENTITIES)

    def transform(stream: DataFrame) -> DataFrame:
        linked = extract_link_from_html(stream, surfaces, gazetteer, idx)
        edges, _viol = canonicalize_edges(linked, predicate_context(PREDICATES))
        return edges

    return run_stream_over_dir(
        spark, pages_dir, transform, PAGES_SCHEMA, query_name, output_mode="append"
    )


def kg_edge_window_counts_stream(
    spark: SparkSession,
    pages_dir: str,
    query_name: str = "kg_edge_window_stream",
    watermark: str = "1 hour",
    window: str = "1 day",
) -> DataFrame:
    """Stateful incremental KG aggregation: per-(event-time window, pred)
    edge counts over the streaming pipeline, with a watermark on
    ``warc_ts`` (crawl time) bounding the aggregation state — the
    aggregating stage the module docstring previously kept batch-only.
    Late pages within the watermark still update their window; state for
    windows older than the watermark is evicted, so memory is bounded by
    (watermark span / window span) × |predicates| regardless of corpus
    size.

    ``warc_ts`` rides through the fused UDF via its ``passthrough``
    hook and the watermark is declared on the UDF OUTPUT (a mapInPandas
    barrier produces new attributes, so a pre-UDF watermark would not
    propagate). Predicate canonicalization is the same literal-map
    @context lookup as kg/graph.py's canonicalize_edges; rows failing
    linking or context lookup are dropped exactly as
    canonicalize_edges routes them to violations. Drained complete-mode
    for the bounded stream==batch test (run_stream_over_dir explains
    why); production runs append with windows finalizing as the
    watermark passes them."""
    from pyspark.sql import functions as F

    from ..coercion import literal_map
    from ..kg.graph import predicate_context
    from ..kg.link import kb_index
    from ..kg.mentions import extract_link_from_html

    surfaces = [p[0] for p in PREDICATES]
    gazetteer = [a for _c, aliases, _cls in ENTITIES for a in aliases]
    idx = kb_index(ENTITIES)
    pred_map = literal_map(predicate_context(PREDICATES))

    def transform(stream: DataFrame) -> DataFrame:
        linked = extract_link_from_html(
            stream, surfaces, gazetteer, idx, passthrough=("warc_ts",)
        )
        edges = linked.withColumn("pred", pred_map[F.col("pred_surface")]).where(
            F.col("subj_mention_entity").isNotNull()
            & F.col("obj_mention_entity").isNotNull()
            & F.col("pred").isNotNull()
        )
        return (
            edges.withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), "pred")
            .agg(F.count(F.lit(1)).alias("n_edges"))
            .select(F.col("w.start").alias("window_start"), "pred", "n_edges")
        )

    return run_stream_over_dir(
        spark, pages_dir, transform, PAGES_SCHEMA, query_name, output_mode="complete"
    )
