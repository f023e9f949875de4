"""Entity linking: mention alias -> candidate entities with scores.

Design (north-star contract): candidates come from a broadcast-joined alias
dictionary; fuzzy candidates are scored with character-3-gram Jaccard
similarity computed as Catalyst array ops (JVM-side); an Arrow-batched scorer
is provided for pluggable similarity models. The dictionary is the small side
(entities/aliases ≪ mentions), so the join is always a broadcast hash join —
no shuffle of the mention table.

nemo analogy: linking-by-dictionary is a join against an EDB relation;
the score column is a nemo Function op (``tabular/operations/function.rs``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def char_ngrams(col, n: int = 3):
    """Distinct character n-grams of a string column, as array<string> (Catalyst)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substr(col, i, F.lit(n))))


def jaccard(a, b):
    """Jaccard similarity of two array<string> columns (Catalyst, no UDF)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def link_exact(mentions: DataFrame, alias_dict: DataFrame, mention_col: str = "subj_alias") -> DataFrame:
    """Exact-alias candidates: broadcast hash join mention -> entity."""
    d = F.broadcast(alias_dict)
    return mentions.join(d, on=mentions[mention_col] == d["alias"], how="inner").drop("alias")


#: dictionary size above which link_scored widens its blocking prefix to two
#: characters when ``block_chars`` is left adaptive
_WIDE_BLOCK_THRESHOLD = 100_000


def link_scored(
    mentions: DataFrame,
    alias_dict: DataFrame,
    mention_col: str = "mention",
    min_score: float = 0.5,
    block_chars: int | None = None,
) -> DataFrame:
    """Fuzzy candidates: score every (mention, alias) pair whose strings share
    a ``block_chars``-character prefix (blocking), by char-3gram Jaccard.
    Input mentions must have a ``mention`` column; output adds
    (entity_id, score).

    At scale the dictionary stays broadcastable (entity vocabularies are
    dimension-sized); the blocking key keeps the candidate blow-up linear.

    Candidate-count bound: each mention is scored against exactly its prefix
    block of the dictionary, so per-mention work is ``|dict| * f_max`` where
    ``f_max`` is the largest block's fraction. A 1-char prefix is a ~36-way
    split (f_max can reach 10-50% on name-skewed data: many aliases share
    'S'/'M'); a 2-char prefix is a ~1300-way split and caps f_max at the
    dictionary's worst 2-char prefix share, typically <2% even on skewed
    names (asserted in tests/test_ops.py on a deliberately skewed
    dictionary). Blocking is a recall trade: pairs whose prefixes differ are
    never scored — same contract at any width, standard for prefix blocking.

    ``block_chars=None`` (default) adapts: 1 while the dictionary is
    dimension-sized (<=100k aliases, where a 36-way split already bounds the
    broadcast-join fan-out), 2 beyond it (a 10M-alias dictionary at 1-char
    blocking would hand every mention ~280k candidates). Beyond ~100M
    aliases, switch to the 3-gram LSH banding of ops/dedup.py and equi-join
    on band buckets instead of prefixes.
    """
    if block_chars is None:
        block_chars = _adaptive_block_chars(alias_dict)
    m = mentions.withColumn("__mg", char_ngrams(F.col(mention_col))).withColumn(
        "__blk", F.substr(F.col(mention_col), F.lit(1), F.lit(block_chars))
    )
    d = alias_dict.withColumn("__ag", char_ngrams(F.col("alias"))).withColumn(
        "__blk", F.substr(F.col("alias"), F.lit(1), F.lit(block_chars))
    )
    cand = m.join(F.broadcast(d), on="__blk", how="inner")
    scored = cand.withColumn("score", jaccard(F.col("__mg"), F.col("__ag"))).filter(
        F.col("score") >= F.lit(min_score)
    )
    return scored.drop("__mg", "__ag", "__blk")


# adaptive-width probe results, keyed weakly on the dictionary DataFrame:
# the probe is an eager Spark job, and per-micro-batch loops call
# link_scored with the SAME dictionary object — they should pay it once.
# (Callers that rebuild the DataFrame each call can pass block_chars
# explicitly to skip the probe entirely.)
import weakref

_BLOCK_PROBE_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _adaptive_block_chars(alias_dict: DataFrame) -> int:
    cached = _BLOCK_PROBE_CACHE.get(alias_dict)
    if cached is not None:
        return cached
    # limit-probe, not count(): the dictionary may be a full scan
    big = alias_dict.limit(_WIDE_BLOCK_THRESHOLD + 1).count() > _WIDE_BLOCK_THRESHOLD
    width = 2 if big else 1
    _BLOCK_PROBE_CACHE[alias_dict] = width
    return width


def link_embedding(
    mentions: DataFrame,
    entity_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    entity_id_col: str = "entity_id",
    entity_vec_col: str = "embedding",
    min_score: float = 0.0,
    top1: bool = True,
) -> DataFrame:
    """Embedding-similarity entity linking, scored in Arrow batches.

    The entity dictionary (``entity_vecs``: one embedding per entity) is
    dimension-sized, so it ships to every executor as a Spark broadcast
    variable holding a unit-normalized numpy matrix; each Arrow batch of
    mentions is scored against ALL entities with one float64 matrix product
    — no join, no shuffle of the mention table, no per-row Python. This is
    the "Jaccard/embedding similarity in Arrow batches" linking path the
    string-based :func:`link_scored` complements.

    ``top1=True`` (default): best entity per mention — max cosine, ties
    broken by MIN entity_id (the min-label canonicalization convention,
    matching :func:`best_candidate`); rows below ``min_score`` drop.
    ``top1=False``: every (mention, entity) pair with cosine >= min_score.

    Zero vectors score 0.0 against everything (same convention as
    ops/similarity.cosine). A mention whose vector length disagrees with
    the dictionary's fails loudly in the matrix product.

    nemo analogy: linking is a join against an EDB relation with a Function
    score column (``tabular/operations/function.rs``); the broadcast
    dictionary is nemo's in-memory dictionary table.

    At 100 TB: mentions stream through in one narrow pass; the only driver
    materialization is the dictionary itself (a model parameter, not data).
    A 100M-entity catalogue outgrows a broadcast — at that size shard the
    dictionary with the LSH buckets of ops/similarity.lsh_buckets and
    equi-join on bucket instead.
    """
    import numpy as np

    spark = mentions.sparkSession
    id_type = mentions.schema[id_col].dataType.simpleString()
    ent_id_type = entity_vecs.schema[entity_id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, {entity_id_col} {ent_id_type}, score double"
    ent_pdf = (
        entity_vecs.select(entity_id_col, entity_vec_col)
        .orderBy(entity_id_col)  # ascending ids => argmax's first-max IS the min-id tie-break
        .toPandas()
    )
    if ent_pdf.empty:
        # empty dictionary links nothing — an empty frame, not an np.stack
        # crash with no hint the catalogue was the problem
        return spark.createDataFrame([], out_schema)
    ent_ids = ent_pdf[entity_id_col].to_numpy()
    emat = np.stack(ent_pdf[entity_vec_col].map(lambda v: np.asarray(v, dtype="float64")).to_numpy())
    enorm = np.linalg.norm(emat, axis=1, keepdims=True)
    eunit = np.divide(emat, enorm, out=np.zeros_like(emat), where=enorm > 0)
    bc = _broadcast_cached(spark, ent_ids, eunit)
    dim = eunit.shape[1]

    # cap the (rows x entities) cosine matrix regardless of the session's
    # Arrow batch size: at 128k-row batches against a 10k-entity catalogue
    # the full-batch product would be a 10 GB float64 allocation per task
    chunk_rows = max(1, (64 << 20) // (8 * len(ent_ids)))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, ents = bc.value
        for whole in batches:
            if whole.empty:
                continue
            for lo in range(0, len(whole), chunk_rows):
                pdf = whole.iloc[lo : lo + chunk_rows]
                # NULL mention vector => zero vector => scores 0.0 everywhere
                # (the documented zero-vector convention), not a TypeError
                m = np.stack(
                    pdf[vec_col]
                    .map(lambda v: np.zeros(dim) if v is None else np.asarray(v, dtype="float64"))
                    .to_numpy()
                )
                mnorm = np.linalg.norm(m, axis=1, keepdims=True)
                munit = np.divide(m, mnorm, out=np.zeros_like(m), where=mnorm > 0)
                s = munit @ ents.T  # (chunk, entities) cosine matrix
                mids = pdf[id_col].to_numpy()
                if top1:
                    j = s.argmax(axis=1)
                    best = s[np.arange(len(s)), j]
                    keep = best >= min_score
                    yield pd.DataFrame(
                        {id_col: mids[keep], entity_id_col: ids[j[keep]], "score": best[keep]}
                    )
                else:
                    r, c = np.nonzero(s >= min_score)
                    yield pd.DataFrame({id_col: mids[r], entity_id_col: ids[c], "score": s[r, c]})

    return mentions.select(id_col, vec_col).mapInPandas(score, schema=out_schema)


# (app-id, digest) -> Broadcast of the two most recent entity matrices:
# repeated link_embedding calls with the same dictionary (a per-micro-batch
# loop) reuse ONE broadcast instead of leaking a new generation per call;
# on a dictionary change the evicted broadcast is unpersisted (NOT
# destroyed — lazy frames returned earlier may still reference it; a
# destroyed broadcast fails their evaluation, an unpersisted one
# re-broadcasts on demand)
_BC_CACHE: "dict[tuple, object]" = {}


def _broadcast_cached(spark, ent_ids, eunit):
    import hashlib

    # hash VALUE bytes: ent_ids is an object array for string entity ids,
    # and ndarray.tobytes() on object dtype returns raw PyObject POINTER
    # bytes — every rebuild of the same dictionary would miss (new string
    # objects, new addresses), and a recycled address could silently HIT
    # for a different dictionary, returning stale entity ids
    id_bytes = b"\x00".join(str(x).encode("utf-8") for x in ent_ids.tolist())
    digest = hashlib.md5(id_bytes + b"\x01" + eunit.tobytes()).digest()
    # key per SparkContext: a cached Broadcast belongs to its context — a
    # session restart with the same dictionary must not serve a Broadcast
    # bound to a stopped SparkContext
    key = (spark.sparkContext.applicationId, digest)
    bc = _BC_CACHE.get(key)
    if bc is None:
        bc = spark.sparkContext.broadcast((ent_ids, eunit))
        _BC_CACHE[key] = bc
        while len(_BC_CACHE) > 2:
            old_key = next(iter(_BC_CACHE))
            if old_key == key:
                break
            try:
                _BC_CACHE.pop(old_key).unpersist(blocking=False)
            except Exception:
                pass  # broadcast of a stopped SparkContext: nothing to release
    return bc


def best_candidate(scored: DataFrame, key_cols: list[str], score_col: str = "score") -> DataFrame:
    """Keep the best-scoring candidate per key; ties broken by MIN entity_id
    (matches the min-label canonicalization convention).

    min(struct(-score, entity_id)) — a single partial-aggregating groupBy,
    no window sort."""
    strukt = F.struct((-F.col(score_col)).alias("ns"), F.col("entity_id").alias("e"))
    return (
        scored.groupBy(*key_cols)
        .agg(F.min(strukt).alias("__best"))
        .select(*key_cols, F.col("__best.e").alias("entity_id"), (-F.col("__best.ns")).alias(score_col))
    )
