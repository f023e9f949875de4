"""End-to-end KG construction: transcripts -> canonical (subj, pred, obj)
triples -> fixpoint closure.

Stages (each checkpointable to a :class:`CheckpointStore` snapshot with
per-partition lineage + metrics, so runs resume mid-pipeline):

1. extract   — Arrow/RE2 (``mapInArrow``) alias triples, distinct per
               batch (``alias_triples``)
2. canonical — connected components over the alias/entity graph
               (driver-local union-find when small, star CC otherwise)
3. triples   — alias triples linked by broadcast joins against the
               canonical map: canonicalized, set-semantics (subj, pred, obj)
4. closure   — transitive predicates closed by semi-naive path doubling
               (driver-local BFS when small), see ``ops.graph``

The closure stage IS nemo re-imagined: derived triples are produced by
repeatedly joining a delta against the accumulating fact table until no new
facts appear (``nemo/src/execution/execution_engine.rs:295-345``), in
O(log diameter) doubling rounds instead of the rule engine's O(diameter).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nemo_spark.engine.checkpoint import CheckpointStore
from nemo_spark.kg import transcripts as T
from nemo_spark.kg.canonicalize import canonical_map_from_alias_dict
from nemo_spark.kg.extract import extract_alias_triples_arrow


@dataclass
class PipelineResult:
    canonical_map: DataFrame
    triples: DataFrame
    closure: DataFrame
    metrics: dict = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    alias_dict: DataFrame | None = None,
    checkpoint_store: CheckpointStore | None = None,
    transitive_preds: tuple[str, ...] = ("located_in",),
) -> PipelineResult:
    metrics: dict = {}
    t_start = time.time()

    # resume support: skip completed stages when a store is given.
    # materialize=True: without a store, eagerly localCheckpoint the stage
    # output so downstream broadcasts/reuses never recompute its lineage.
    def stage(name: str, build, step: int, materialize: bool = False) -> DataFrame:
        if checkpoint_store is not None:
            cached = checkpoint_store.load(name)
            if cached is not None:
                metrics[name] = {"resumed": True}
                return cached
        t0 = time.time()
        df = build()
        if checkpoint_store is not None:
            df = checkpoint_store.snapshot(name, df, step)
        elif materialize:
            df = df.localCheckpoint(eager=True)
        metrics[name] = {"wall_sec": time.time() - t0}
        return df

    alias_dict = alias_dict if alias_dict is not None else T.alias_dict(spark)

    # 1. extract — the triples-only Arrow/RE2 pass reads just `text` and
    # returns per-batch-distinct alias triples. Lazy without a store, so the
    # triples stage below fuses it into its own plan; with a store it is the
    # first resumable snapshot.
    alias_triples = stage("alias_triples", lambda: extract_alias_triples_arrow(transcripts), 1)

    # 2. canonical map: CC over the (alias, entity) bipartite graph.
    # The alias dictionary is dimension-sized, so the canonical map is small
    # and broadcastable; mentions never shuffle for linking. Both CC paths
    # return a materialized frame, so the stage adds no checkpoint of its own.
    canonical_map = stage("canonical_map", lambda: canonical_map_from_alias_dict(alias_dict), 1)

    # 3. canonical triples (set semantics); materialized once — extraction
    # and linking feed both the closure stage and the final union
    def build_triples() -> DataFrame:
        cm = F.broadcast(canonical_map)
        s = cm.withColumnRenamed("node", "__sn").withColumnRenamed("canonical_id", "subj")
        o = cm.withColumnRenamed("node", "__on").withColumnRenamed("canonical_id", "obj")
        # no alias-level dropDuplicates before the joins: the extractor
        # already returns per-batch-distinct rows, the canonical mapping is a
        # broadcast join (no shuffle), and the post-join dropDuplicates below
        # is the one real exchange — a pre-join distinct would only add a
        # full shuffle stage for rows the final dedup removes anyway
        out = (
            alias_triples
            .join(s, F.concat(F.lit("a:"), F.col("subj_alias")) == F.col("__sn"), "inner")
            .join(o, F.concat(F.lit("a:"), F.col("obj_alias")) == F.col("__on"), "inner")
            .select("subj", "pred", "obj")
            .dropDuplicates()
        )
        return out

    triples = stage("triples", build_triples, 1, materialize=True)

    # 4. fixpoint closure of transitive predicates — path-doubling semi-naive
    # (O(log diameter) rounds; the generic linear-recursion engine is
    # SemiNaiveEngine, exercised by the Datalog query surface)
    def build_closure() -> DataFrame:
        from nemo_spark.ops.graph import transitive_closure

        out = None
        # dedupe preds: a repeated predicate would union identical closure
        # parts, and (with the per-part sets now relied on for distinctness)
        # duplicate rows would survive to the output
        for pred in dict.fromkeys(transitive_preds):
            edges = triples.filter(F.col("pred") == pred).select(
                F.col("subj").alias("src"), F.col("obj").alias("dst")
            )
            # graph.py's 10k default stands: TC OUTPUT is quadratic in nodes,
            # so the single-task fast path must stay tightly bounded even
            # though CC tolerates 100k (its output is linear)
            part = transitive_closure(edges).select(
                F.col("src").alias("subj"), F.lit(pred).alias("pred"), F.col("dst").alias("obj")
            )
            out = part if out is None else out.unionByName(part)
        if out is None:
            return triples.limit(0)
        # no dropDuplicates: transitive_closure returns a distinct pair set
        # on both of its paths, and the per-pred parts are disjoint (each
        # carries its own pred literal), so the union is already a set —
        # the former dedup was a full extra shuffle stage for nothing
        return out

    closure = stage("closure", build_closure, 1)

    metrics["total_wall_sec"] = time.time() - t_start
    return PipelineResult(canonical_map, triples, closure, metrics)


def materialized_triples(result: PipelineResult) -> DataFrame:
    """Final KG: canonical triples plus closure-derived facts (set union)."""
    return result.triples.unionByName(result.closure).dropDuplicates()
