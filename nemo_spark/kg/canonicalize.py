"""Connected components for entity canonicalization.

Each node's component is the minimum node id it reaches over an undirected
edge list (nemo analogy: a recursive Datalog program ``label(x, min(l))``,
specialized because aggregate-in-recursion is not stratifiable). Two paths,
same output:

- small graphs (below ``small_graph_threshold`` edges, the common case for
  alias dictionaries): union-find on the driver over the size gate's
  bounded collect, one Spark job in all;
- everything else: alternating large-star / small-star rounds as DataFrame
  jobs, O(log n) rounds regardless of graph diameter, each round eagerly
  ``localCheckpoint``-ed (a CheckpointStore instead persists resumable
  parquet snapshots every ``checkpoint_every`` rounds).

Both return a materialized frame, so a consumer that broadcasts or reuses
the result never recomputes it.
"""

from __future__ import annotations

import logging
import time
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nemo_spark.session import local_rows, single_slice_frame

log = logging.getLogger("nemo_spark.cc")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 4,
    checkpoint_store: Any | None = None,
    max_rounds: int = 60,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """Return (node, component) where component = min node id in the CC.

    ``edges`` is undirected input (each pair listed once is enough).
    Node ids must be orderable (string or numeric).

    ``small_graph_threshold`` > 0 enables a size-adaptive fast path: when the
    edge list is below the threshold (dimension-sized graphs, e.g. an alias
    dictionary) and :func:`nemo_spark.session.local_rows` accepts its rows,
    union-find runs driver-side off the gate's bounded scan — one Spark job
    instead of O(log n) shuffle rounds. Everything else takes the
    alternating-star algorithm (:func:`_star_cc`). Output is identical
    (min node id per component).
    """
    # NULL-endpoint normalization, identical for every path: an edge with
    # one NULL endpoint registers its non-null node as an isolated self-edge
    # (SQL join semantics — NULL connects nothing), a both-NULL edge drops.
    # Without this the distributed path emitted a bogus (NULL, label) row
    # while the single-task path composed through None keys. Gated behind a
    # probe so null-free inputs (the common case) don't carry the extra
    # union in every fixpoint round's plan. ONE bounded probe answers BOTH
    # gates when the graph is small: the limit(threshold+1) scan sees every
    # edge, so it counts null endpoints for free — a separate null probe
    # would re-derive the whole edge frame a second time (a whole extra
    # Spark job/barrier per call). The schema-nullability check still skips
    # the standalone probe for engine-internal frames with provably
    # non-null columns on the distributed path.
    nullable = edges.schema[src].nullable or edges.schema[dst].nullable
    both = F.col(src).isNotNull() & F.col(dst).isNotNull()
    # the single-task path unions both endpoint columns into one node
    # domain: only sound when their types agree (mixed types also make
    # min-label CC ill-defined — let the distributed path surface
    # Spark's coercion consistently)
    small_ok = bool(small_graph_threshold) and (
        edges.schema[src].dataType == edges.schema[dst].dataType
    )
    if small_ok:
        # the gate IS the data: collect at most threshold+1 rows (bounded —
        # never a full materialization of a 100-TB edge relation) and, when
        # the graph fits, union-find driver-side in ONE Spark job total
        # (output is linear in nodes, so no size fallback needed)
        rows = edges.select(F.col(src), F.col(dst)).limit(small_graph_threshold + 1).collect()
        rows = local_rows(rows) if len(rows) <= small_graph_threshold else None
        if rows is not None:
            return _local_cc(edges.sparkSession, rows, edges.schema[src].dataType)
    if nullable and not edges.where(~both).limit(1).isEmpty():
        half = (
            edges.where(~both & (F.col(src).isNotNull() | F.col(dst).isNotNull()))
            .select(F.coalesce(F.col(src), F.col(dst)).alias(src))
            .select(F.col(src), F.col(src).alias(dst))
        )
        edges = edges.where(both).select(F.col(src), F.col(dst)).unionByName(half)
    return _star_cc(edges, src, dst, checkpoint_every, max_rounds, checkpoint_store)


def _star_cc(
    edges: DataFrame,
    src: str,
    dst: str,
    checkpoint_every: int,
    max_rounds: int,
    checkpoint_store: Any | None = None,
) -> DataFrame:
    """Alternating large-star / small-star connected components — O(log n)
    rounds regardless of graph diameter (min-label propagation needs
    O(diameter)), the right plan for long chains at cluster scale.

    large-star: every node points its LARGER neighbors at its minimum
    neighborhood label; small-star: every node and its smaller neighbors
    collapse onto that minimum. Both are one groupBy + one join per step;
    the edge set monotonically approaches a forest of stars (node -> root).
    Convergence is detected by an exact changed-edge anti-join (no
    fingerprint approximation)."""
    nodes = (
        edges.select(F.col(src).alias("n"))
        .unionByName(edges.select(F.col(dst).alias("n")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    if checkpoint_store is not None:
        # resume: the per-round edge set is a sound restart point (each
        # star round is a monotone transformation toward the star forest)
        resumed = checkpoint_store.load("cc_star_edges")
        if resumed is not None:
            e = resumed

    def large_star(ed: DataFrame) -> DataFrame:
        sym = ed.unionByName(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.least(F.first("u"), F.min("v")).alias("m"))
        out = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m, on="u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        return out.filter(F.col("u") != F.col("v")).dropDuplicates()

    def small_star(ed: DataFrame) -> DataFrame:
        # orient edges towards the smaller endpoint: (big, small)
        o = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        m = o.groupBy("u").agg(F.least(F.first("u"), F.min("v")).alias("m"))
        w = o.join(m, on="u")
        out = w.select(F.col("v").alias("u"), F.col("m").alias("v")).unionByName(
            m.select(F.col("u"), F.col("m").alias("v"))
        )
        return out.filter(F.col("u") != F.col("v")).dropDuplicates()

    rounds = 0
    changed = 0
    while rounds < max_rounds:
        rounds += 1
        t0 = time.time()
        nxt = small_star(large_star(e)).localCheckpoint(eager=True)
        changed = (
            nxt.join(e, on=["u", "v"], how="left_anti")
            .unionByName(e.join(nxt, on=["u", "v"], how="left_anti"))
            .limit(1)
            .count()
        )
        e = nxt
        if checkpoint_store is not None and rounds % checkpoint_every == 0:
            e = checkpoint_store.snapshot("cc_star_edges", e, rounds)
        log.debug("star-cc round %d changed=%s %.2fs", rounds, bool(changed), time.time() - t0)
        if not changed:
            break
    if changed:
        raise ValueError(
            f"connected_components(star) did not converge in {max_rounds} rounds; "
            f"raise max_rounds (star CC needs O(log n) rounds — hitting a cap of "
            f"{max_rounds} indicates something is deeply wrong with the input)"
        )
    # stars: every remaining edge points node -> root; isolated nodes self-root
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        nodes.join(labels, nodes["n"] == labels["node"], "left")
        .select(F.col("n").alias("node"), F.coalesce("component", "n").alias("component"))
        .localCheckpoint(eager=True)
    )


def _local_cc(spark, rows, dt) -> DataFrame:
    """Driver-side union-find for gate-collected graphs — the caller already
    holds every edge (bounded by ``limit(threshold+1).collect()``), so this
    costs zero extra Spark jobs and returns a single-slice driver-local
    frame (session.single_slice_frame). NULL handling
    matches the distributed path's normalization: a half-NULL edge registers
    its non-null node as isolated, a both-NULL edge drops."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        a, b = r[0], r[1]
        if a is None and b is None:
            continue
        if a is None or b is None:
            find(a if b is None else b)  # register as isolated node
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            if _spark_order(rb) < _spark_order(ra):
                ra, rb = rb, ra
            parent[rb] = ra
    from pyspark.sql.types import StructField, StructType

    schema = StructType([StructField("node", dt), StructField("component", dt)])
    nodes = list(parent)
    return single_slice_frame(spark, [(n, find(n)) for n in nodes], schema)


def _spark_order(v):
    """Sort key that orders node ids as Spark's ``min``/``least`` do: a
    struct (tuple) compares field by field with NULL first, recursively;
    Python alone cannot order ``None`` against a value."""
    if isinstance(v, tuple):
        return tuple((0,) if x is None else (1, _spark_order(x)) for x in v)
    return v


def canonical_map_from_alias_dict(alias_dict: DataFrame) -> DataFrame:
    """CC over the bipartite (alias, entity_id) graph; returns
    (node, canonical_id) for both alias and entity nodes. Node ids are
    namespaced ('a:' / 'e:') so aliases and entities cannot collide.

    Alias dictionaries are dimension-sized, so the driver-local union-find
    usually runs; huge dictionaries fall back to distributed star CC."""
    edges = alias_dict.select(
        F.concat(F.lit("a:"), F.col("alias")).alias("src"),
        F.concat(F.lit("e:"), F.col("entity_id")).alias("dst"),
    )
    cc = connected_components(edges)
    return cc.select(F.col("node"), F.col("component").alias("canonical_id"))
