"""Graph operators: distributed transitive closure with path doubling.

The generic rule engine evaluates linear recursion in O(diameter) rounds
(nemo's round-robin fixpoint). For the KG pipeline's closure stage we use the
non-linear doubling form instead::

    tc_{t+1} = tc_t UNION (tc_t JOIN tc_t)

which converges in O(log diameter) rounds — at cluster scale, rounds are
synchronization barriers, so halving round count beats shaving per-round cost.
Semi-naive refinement: a new pair must involve last round's delta on at least
one side (delta JOIN tc  UNION  tc JOIN delta).

Dedup-vs-history / checkpoint cadence follow the engine's pattern
(``nemo/src/execution/planning/operations/duplicates.rs``, defrag
``execution_engine.rs:263-292``).
"""

from __future__ import annotations

import logging
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nemo_spark.session import local_rows, single_slice_frame

log = logging.getLogger("nemo_spark.graph")

# the doubling path broadcasts a round's delta when it has at most this many
# rows AND an estimated size of at most _BROADCAST_MAX_BYTES
_BROADCAST_ROWS = 2_000_000
_BROADCAST_MAX_BYTES = 64 << 20
# doubling needs O(log diameter) rounds, so 64 covers any real graph; a
# closure still growing at the cap raises rather than return a subset
_MAX_ROUNDS = 64


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    small_graph_threshold: int = 10_000,
) -> DataFrame:
    """All (src, dst) pairs reachable via 1+ edges. Columns preserved.

    ``small_graph_threshold`` > 0 (default 10k edges): dimension-sized edge
    lists close driver-side off the gate's bounded collect (one job)
    instead of O(log d) distributed rounds — same output; data-sized inputs
    take the distributed doubling path automatically. The default is
    deliberately smaller than the CC threshold: closure OUTPUT is
    worst-case quadratic in nodes (a 100k-node chain closes to 5x10^9
    pairs), so the local path is additionally bounded by
    :data:`_LOCAL_TC_MAX_PAIRS`; CC output is linear in nodes, so its
    threshold can be 10x higher."""
    if (
        small_graph_threshold
        # the local path types its output columns from src's type
        # (closure composes dst back into src positions, so the types must
        # agree for the operation to be meaningful anyway)
        and edges.schema[src].dataType == edges.schema[dst].dataType
    ):
        # the gate IS the data: collect at most threshold+1 rows (bounded —
        # never a full materialization of a 100-TB edge relation) and, when
        # the graph fits, close it driver-side in one Spark job total. The
        # former shape spent three jobs (count probe, null probe, single
        # task mapInPandas), each re-deriving the edge frame. Same
        # size-gated local pattern as the engine's <=100k local fixpoint.
        rows = edges.select(F.col(src), F.col(dst)).limit(small_graph_threshold + 1).collect()
        rows = local_rows(rows) if len(rows) <= small_graph_threshold else None
        if rows is not None:
            local = _local_tc(edges.sparkSession, rows, edges.schema[src].dataType, src, dst)
            if local is not None:
                return local
    tc = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    delta = tc
    delta_cnt = tc.count()
    rounds = 0
    est_row: float | None = None
    while delta_cnt and rounds < _MAX_ROUNDS:
        rounds += 1
        t0 = time.time()
        d = delta
        if delta_cnt <= _BROADCAST_ROWS:
            # the row gate alone would let wide string keys (KG IRIs run
            # 100+ bytes) force multi-hundred-MB broadcasts — an explicit
            # F.broadcast bypasses autoBroadcastJoinThreshold entirely, so
            # estimate bytes from one sample of the (checkpointed) input
            # (key width is stable across rounds; don't re-sample each one)
            if est_row is None:
                sample = tc.limit(256).collect()
                est_row = (
                    sum(
                        sum(len(str(v)) if v is not None else 4 for v in r) + 16
                        for r in sample
                    )
                    / len(sample)
                    if sample
                    else 0.0
                )
            if delta_cnt * est_row <= _BROADCAST_MAX_BYTES:
                d = F.broadcast(delta)
        left = d.alias("l").join(tc.alias("r"), F.col("l.b") == F.col("r.a")).select(
            F.col("l.a").alias("a"), F.col("r.b").alias("b")
        )
        right = tc.alias("l").join(d.alias("r"), F.col("l.b") == F.col("r.a")).select(
            F.col("l.a").alias("a"), F.col("r.b").alias("b")
        )
        cand = left.unionByName(right).dropDuplicates().alias("__d")
        fresh = cand.join(
            tc.alias("__e"),
            # null-safe: plain key equality never matches NULL endpoints, so a
            # null-carrying pair would be "fresh" every round (fixpoint spin)
            F.col("__d.a").eqNullSafe(F.col("__e.a")) & F.col("__d.b").eqNullSafe(F.col("__e.b")),
            how="left_anti",
        ).localCheckpoint(eager=True)
        delta_cnt = fresh.count()
        if delta_cnt:
            tc = tc.unionByName(fresh).localCheckpoint(eager=True)
        delta = fresh
        log.debug("tc doubling round %d fresh=%d %.2fs", rounds, delta_cnt, time.time() - t0)
    if delta_cnt:
        # pairs still fresh at the cap: tc holds a strict SUBSET of the
        # closure — fail loudly, as star CC and SemiNaiveEngine do
        raise RuntimeError(f"transitive_closure did not converge within {_MAX_ROUNDS} doubling rounds")
    return tc.select(F.col("a").alias(src), F.col("b").alias(dst))


# driver-memory guard for the local path: closure OUTPUT is worst-case
# quadratic in nodes, so a gate-collected 10k-edge chain can still close to
# tens of millions of pairs; past this bound the caller falls back to the
# distributed doubling path instead of shipping a giant local relation
_LOCAL_TC_MAX_PAIRS = 500_000


def _local_tc(spark, rows, dt, src: str, dst: str) -> DataFrame | None:
    """Driver-side closure for gate-collected graphs (BFS per source) —
    the caller already holds every edge (bounded by the small-graph gate's
    ``limit(threshold+1).collect()``), so closing locally costs ZERO extra
    Spark jobs and returns a single-slice driver-local frame (cheap to
    broadcast downstream).
    Returns ``None`` when the closed pair set exceeds
    :data:`_LOCAL_TC_MAX_PAIRS` (caller runs the distributed path).

    The null algebra mirrors the distributed path's SQL join semantics
    exactly: a NULL endpoint is carried OUTWARD through compositions whose
    shared key is non-null — (NULL,y)∘(y,z) = (NULL,z), (w,x)∘(x,NULL) =
    (w,NULL), and (NULL,y)…(x,NULL) = (NULL,NULL) — but a path never
    continues THROUGH a NULL (the join key never matches)."""
    adj: dict = {}
    s_null: set = set()  # y of (NULL, y) edges
    d_null: set = set()  # x of (x, NULL) edges
    both_null = False
    for r in rows:
        a, b = r[0], r[1]
        if a is None and b is None:
            both_null = True
        elif a is None:
            s_null.add(b)
        elif b is None:
            d_null.add(a)
        else:
            adj.setdefault(a, set()).add(b)
    reach: dict = {}
    total = 0
    for s in adj:
        seen: set = set()
        stack = list(adj[s])
        while stack:
            x = stack.pop()
            if x in seen:
                continue
            seen.add(x)
            stack.extend(adj.get(x, ()))
        reach[s] = seen
        total += len(seen)
        if total > _LOCAL_TC_MAX_PAIRS:
            return None
    data = [(s, x) for s, seen in reach.items() for x in seen]
    # null extensions (dedup via set; they never overlap the non-null pairs)
    nulls: set = set()
    for y in s_null:
        nulls.add((None, y))
        for z in reach.get(y, ()):
            nulls.add((None, z))
    for x in d_null:
        nulls.add((x, None))
    for s, seen in reach.items():
        if not d_null.isdisjoint(seen):
            nulls.add((s, None))
    # (NULL, NULL): any (NULL, w) reach meeting a (w, NULL) edge, or a
    # literal (NULL, NULL) edge
    s_targets = set(s_null) | {z for y in s_null for z in reach.get(y, ())}
    if both_null or (s_targets & d_null):
        nulls.add((None, None))
    from pyspark.sql.types import StructField, StructType

    schema = StructType([StructField(src, dt), StructField(dst, dt)])
    return single_slice_frame(spark, data + list(nulls), schema)
