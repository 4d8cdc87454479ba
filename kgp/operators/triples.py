"""J1/F2/F3/A1/T4/S5/S6 — triple + entity-node construction.

Reference: /root/reference/src/kg/gremlin_client.py:102-135 —
- label filter BEFORE the per-doc cap (entity_extraction.py:30 filters,
  then gremlin_client.py:115 slices ``entities[:10]``),
- pinned first-occurrence order (first_offset, surface) replaces the
  reference's nondeterministic ``list(set(...))`` (SURVEY §2 A1),
- ``entity_id = 'entity:' + lower(surface) with ALL spaces → '_'``
  (gremlin_client.py:116),
- ``edge_id = 'edge:{doc_id}:{entity_id}:contains_entity'``
  (gremlin_client.py:127),
- node upsert keyed on id (gremlin_client.py:72-84) → dropDuplicates
  on entity_id; edge upsert keyed (source, target, label)
  (gremlin_client.py:86-99) → dropDuplicates on (subj, pred, obj).

Scale notes: the per-document cap is a collect_list aggregation with
in-row sort/slice (map-side partial aggregation; one packed row per
doc crosses the shuffle) — see cap_mentions. Every extractor in
kgp.operators.ner emits exploded mention rows, so this one cap serves
them all. Entity-node dedup is a shuffle on entity_id — head entities
are hot keys, but the groupBy does map-side partial aggregation so the
skew reaching the reduce side is one row per (partition, key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgp.constants import (
    CONTENT_TRUNCATE_CHARS,
    ENTITY_LABELS,
    MAX_ENTITIES_PER_DOC,
    PRED_CONTAINS_ENTITY,
)


def normalize_entity_id(surface: Column) -> Column:
    """F2 (gremlin_client.py:116). JVM path (codegen, zero Python) —
    the default for the pinned ASCII gazetteers. F.lower is not
    byte-identical to Python str.lower on every Unicode surface
    (e.g. 'İstanbul': Python lowers to 'i' + COMBINING DOT ABOVE);
    swap in normalize_entity_id_py for full parity with the
    reference's ``entity.lower().replace(' ', '_')`` (documented
    deviation, SURVEY §2 F2; parity proven in test_ner_triples.py)."""
    return F.concat(
        F.lit("entity:"), F.regexp_replace(F.lower(surface), " ", "_")
    )


def normalize_entity_id_py(surface: Column) -> Column:
    """F2, full-Unicode parity path: Arrow-batched pandas UDF running
    the reference's exact Python ``'entity:' + s.lower().replace(' ',
    '_')`` (gremlin_client.py:116) — pandas Series.str.lower IS
    CPython str.lower element-wise. Use when the gazetteer carries
    non-ASCII surfaces; ~10-100× slower than the JVM path but still
    Arrow-vectorized, never row-at-a-time. NULL surface → NULL id,
    same as the JVM twin (concat propagates NULL): the two paths must
    be row-for-row swappable, and NULL-filtering call sites rely on
    it."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _norm(s):
        # str accessor maps None → NaN, "entity:" + NaN stays NaN ⇒
        # arrives as SQL NULL, matching F.concat's NULL propagation
        return "entity:" + s.str.lower().str.replace(
            " ", "_", regex=False
        )

    # explicit functionType: the local-import pd.Series hint can't be
    # resolved by pyspark's signature inspection
    _norm.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_norm, "string")(surface)


def cap_mentions(mentions: DataFrame, doc_col: str = "url") -> DataFrame:
    """Label filter → pinned order → per-doc cap (A1/T4/P3).

    Physical shape: groupBy(doc).collect_list(struct) + in-row
    sort_array/slice/explode — NOT a row_number window. collect_list
    partially aggregates map-side, so the shuffle carries one packed
    row per document instead of every mention (a window has no partial
    aggregation and shuffles the full mentions table). Per-doc state is
    bounded (mentions per doc ≤ gazetteer size / extractor output).
    sort_array orders by struct fields in declaration order —
    (first_offset, surface) is exactly the A1 pinned order.
    """
    packed = (
        mentions.filter(F.col("label").isin(*ENTITY_LABELS))
        .groupBy(doc_col)
        .agg(
            F.collect_list(
                F.struct("first_offset", "surface", "label")
            ).alias("_ms")
        )
    )
    return (
        packed.select(
            doc_col,
            F.explode(
                F.slice(F.sort_array("_ms"), 1, MAX_ENTITIES_PER_DOC)
            ).alias("_m"),
        )
        .select(
            doc_col,
            F.col("_m.surface").alias("surface"),
            F.col("_m.label").alias("label"),
            F.col("_m.first_offset").alias("first_offset"),
        )
    )


def build_triples(capped_mentions: DataFrame, doc_col: str = "url") -> DataFrame:
    """`triples` rows from capped mentions (J1 — explode replaces the
    reference's per-doc nested loop; no join needed)."""
    subj = F.concat(F.lit("page:"), F.col(doc_col))
    obj = normalize_entity_id(F.col("surface"))
    # S6 idempotent edge upsert: distinct BEFORE deriving edge_id —
    # edge_id is a pure function of (subj, obj), and a plain distinct
    # stays a HashAggregate, whereas carrying edge_id through
    # dropDuplicates forces a First() string buffer → SortAggregate
    # (an extra per-partition sort at scale). See PLANS.md.
    return (
        capped_mentions.select(
            subj.alias("subj"),
            F.lit(PRED_CONTAINS_ENTITY).alias("pred"),
            obj.alias("obj"),
        )
        .distinct()
        .withColumn(
            "edge_id",
            F.concat_ws("", F.lit("edge:"), F.col("subj"), F.lit(":"),
                        F.col("obj"), F.lit(":" + PRED_CONTAINS_ENTITY)),
        )
    )


def build_entities(capped_mentions: DataFrame) -> DataFrame:
    """`entities` (Entity nodes): idempotent upsert ⇒ unique entity_id.

    Ties on surface case (e.g. a gazetteer with 'Turing' and 'turing')
    resolve to the lexicographically-first name for determinism; the
    reference's last-write-wins is load-order-dependent.
    """
    return (
        capped_mentions.select(
            normalize_entity_id(F.col("surface")).alias("entity_id"),
            F.col("surface").alias("name"),
            F.col("label").alias("ner_label"),
        )
        .groupBy("entity_id")
        .agg(
            F.min("name").alias("name"),
            F.min("ner_label").alias("type"),
        )
        .select(
            "entity_id",
            "name",
            F.lit("Entity").alias("label"),
            "type",
            F.lit(None).cast("string").alias("canonical_id"),
        )
    )


def build_content_nodes(docs: DataFrame) -> DataFrame:
    """Content nodes (gremlin_client.py:104-111): one per document,
    content truncated to 500 chars (P4, :108)."""
    return docs.select(
        F.col("doc_id").alias("entity_id"),
        F.col("url").alias("name"),
        F.lit("Content").alias("label"),
        F.lit("web_page").alias("type"),
        F.lit(None).cast("string").alias("canonical_id"),
    ).dropDuplicates(["entity_id"])


def truncate_content(docs: DataFrame) -> DataFrame:
    """P4 content property: first 500 chars of the extracted text."""
    return docs.select(
        "doc_id",
        F.substring("extracted_text", 1, CONTENT_TRUNCATE_CHARS).alias(
            "content"
        ),
    )
