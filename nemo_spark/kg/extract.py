"""Triple extraction from transcript turns.

nemo analogy: this is our EDB "import" stage — raw text becomes ternary
(subj, pred, obj) facts, like nemo's DSV/RDF readers turn files into
predicates (``nemo/src/io/formats/``). Implementations:

- :func:`extract_alias_triples_arrow` — the pipeline's extractor: one
  Arrow/RE2 (``mapInArrow``) pass over ``text`` that returns the distinct
  (subj_alias, pred, obj_alias) set of each batch.
- :func:`extract_triples_pandas` — vectorized Arrow-batched ``mapInPandas``
  (the general path for arbitrary mention detectors; NO per-row Python —
  regex is applied per Arrow batch via pandas ``str.extractall``): EVERY
  occurrence in the turn, anywhere in the text, keyed by (conv_id, turn_idx).
- :func:`extract_mentions_pandas` — mention spans with character offsets.

Scale notes: extraction is embarrassingly parallel per turn. We repartition by
(conv_id, turn_idx) — NOT conv_id alone — so the planted hot conversation
(~30% of rows) cannot pin a single task; the per-conversation ordering
invariant doesn't need co-location here, only the window check does.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# re-exported: kg.oracles and the driver entry import the anchored
# relation regex from here
from nemo_spark.kg.transcripts import TRIPLE_RE  # noqa: F401

# the relation grammar, defined ONCE — every regex below derives from these
# two pieces so adding a predicate or alias prefix updates all extractors
# and (via MENTION_RE import) the DuckDB oracles together
_ALIAS_RE = r"(?:entity_|ent-|E\.)\d+"
_PREDS_RE = r"works_at|located_in|part_of"

# all-occurrences pattern for the general extractor (not only sentence-initial)
MENTION_RE = rf"({_ALIAS_RE}) ({_PREDS_RE}) ({_ALIAS_RE}) \."
# named-group form (pyarrow extract_regex names its struct fields from these)
NAMED_MENTION_RE = (
    rf"(?P<subj_alias>{_ALIAS_RE}) (?P<pred>{_PREDS_RE}) (?P<obj_alias>{_ALIAS_RE}) \."
)

TRIPLES_RAW_SCHEMA = (
    "conv_id string, turn_idx int, subj_alias string, pred string, obj_alias string"
)


def extract_triples_pandas(
    transcripts: DataFrame, repartition_on: tuple[str, ...] | None = None
) -> DataFrame:
    """General extractor: every relation-sentence occurrence in the text,
    via Arrow-batched pandas (vectorized ``str.extractall``).

    ``repartition_on``: pass e.g. ("conv_id", "turn_idx") when the source
    layout is conversation-clustered (Iceberg partitioned by conv_id) so the
    hot conversation spreads across tasks; leave None when the source is
    already evenly split (extraction is then a pure map stage, no shuffle)."""
    pattern = re.compile(MENTION_RE)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            hits = pdf["text"].str.extractall(pattern)
            if hits.empty:
                continue
            hits = hits.reset_index(level=1, drop=True)
            hits.columns = ["subj_alias", "pred", "obj_alias"]
            keys = pdf[["conv_id", "turn_idx"]].loc[hits.index].reset_index(drop=True)
            yield pd.concat([keys, hits.reset_index(drop=True)], axis=1)

    cols = transcripts.select("conv_id", "turn_idx", "text")
    if repartition_on:
        cols = cols.repartition(*[F.col(c) for c in repartition_on])
    return cols.mapInPandas(extract, schema=TRIPLES_RAW_SCHEMA)


ALIAS_TRIPLES_SCHEMA = "subj_alias string, pred string, obj_alias string"


def extract_alias_triples_arrow(transcripts: DataFrame) -> DataFrame:
    """Triples-only extraction with MAP-SIDE DISTINCT — for consumers that
    need only the distinct (subj_alias, pred, obj_alias) set, e.g. the
    pipeline's canonical-triples stage (which dropDuplicates globally after
    its canonical joins).

    Per turn it takes the first match of the UNANCHORED ``NAMED_MENTION_RE``
    ANYWHERE in the text (RE2 via ``pyarrow.compute.extract_regex``; the
    ^-anchored variant would silently drop every mid-text relation
    sentence) and skips turns with no match or NULL text (the downstream
    inner joins would drop those anyway). Two scale effects: the
    Python->JVM return shrinks from O(turns) to O(distinct triples per
    batch) — the UDF analogue of partial aggregation — and the
    single-column projection lets Catalyst prune every other transcript
    column out of the scan (``mapInArrow`` is opaque to column pruning, so
    only what goes in is pruned)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def extract(batches):
        for batch in batches:
            hits = pc.extract_regex(batch.column("text"), pattern=NAMED_MENTION_RE)
            tbl = (
                pa.table(
                    {
                        "subj_alias": pc.struct_field(hits, "subj_alias"),
                        "pred": pc.struct_field(hits, "pred"),
                        "obj_alias": pc.struct_field(hits, "obj_alias"),
                    }
                )
                .filter(hits.is_valid())
                .group_by(["subj_alias", "pred", "obj_alias"])
                .aggregate([])
            )
            yield from tbl.to_batches()

    return transcripts.select("text").mapInArrow(extract, schema=ALIAS_TRIPLES_SCHEMA)


MENTIONS_SCHEMA = "conv_id string, turn_idx int, mention string, span_start int, span_end int"

# MENTION_RE with an explicit lazy prefix group: ``re.search(MENTION_RE, s)``
# and ``re.match(_MENTION_SPAN_RE, s)`` find the SAME leftmost match, but the
# prefix group's length IS the match offset — so one vectorized
# ``str.extract`` recovers true character spans with no per-row Python.
# ``(?s)`` lets the prefix cross newlines (turn text may be multi-line).
_MENTION_SPAN_RE = re.compile(r"(?s)\A(.*?)" + MENTION_RE)


def extract_mentions_pandas(transcripts: DataFrame) -> DataFrame:
    """Mention spans per turn (FIXTURES §3 ``mentions`` schema): both aliases
    of the first relation sentence with their TRUE character offsets.

    Fully vectorized: a single ``str.extract`` with a lazy prefix capture
    gives the match offset as ``len(prefix)`` (MENTION_RE is unanchored, so
    matches need not start at offset 0); group offsets inside the match
    follow arithmetically because MENTION_RE's separators are literal single
    spaces. Matches the per-row ``pattern.search`` semantics exactly while
    keeping the whole batch in pandas C string kernels."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            hits = pdf["text"].str.extract(_MENTION_SPAN_RE)
            hits.columns = ["prefix", "subj", "pred", "obj"]
            mask = hits["subj"].notna()
            if not mask.any():
                continue
            hits = hits[mask]
            keys = pdf.loc[mask, ["conv_id", "turn_idx"]]
            subj_start = hits["prefix"].str.len().astype("int64")
            subj_end = subj_start + hits["subj"].str.len()
            obj_start = subj_end + 1 + hits["pred"].str.len() + 1
            obj_end = obj_start + hits["obj"].str.len()
            subj_rows = pd.DataFrame(
                {
                    "conv_id": keys["conv_id"].to_numpy(),
                    "turn_idx": keys["turn_idx"].to_numpy(),
                    "mention": hits["subj"].to_numpy(),
                    "span_start": subj_start.to_numpy(),
                    "span_end": subj_end.to_numpy(),
                    "_g": 0,
                }
            )
            obj_rows = pd.DataFrame(
                {
                    "conv_id": keys["conv_id"].to_numpy(),
                    "turn_idx": keys["turn_idx"].to_numpy(),
                    "mention": hits["obj"].to_numpy(),
                    "span_start": obj_start.to_numpy(),
                    "span_end": obj_end.to_numpy(),
                    "_g": 1,
                }
            )
            subj_rows["_i"] = obj_rows["_i"] = range(len(hits))
            out = pd.concat([subj_rows, obj_rows], ignore_index=True)
            out = out.sort_values(["_i", "_g"], kind="stable", ignore_index=True)
            yield out.drop(columns=["_i", "_g"])

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(extract, schema=MENTIONS_SCHEMA)

