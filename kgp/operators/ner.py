"""F1/P3/A1 — batched entity-mention extraction.

Reference contract: ``extract_entities(text) -> List[str]`` keeping
labels {PERSON, ORG, GPE, PRODUCT}
(/root/reference/src/kg/entity_extraction.py:20-40). spaCy is optional
(the reference itself degrades to ``[]`` without the model,
entity_extraction.py:42-54), so extractors are pluggable:

* ``mentions_relational`` — gazetteer matching as a pure DataFrame
  expression: broadcast the (tiny) gazetteer, ``locate`` on
  space-padded text. 100 % JVM/codegen; the broadcast join never
  shuffles the pages side. This is the one path that ships: the jobs
  (build_kg, stream_kg), the gated queries and the benchmarks all run
  it, and it shares its semantics with the DuckDB oracle (strpos on
  the same padding).

* ``mentions_arrow`` — the one Arrow seam for a model extractor: the
  same semantics as an Arrow-batched ``mapInPandas`` (vectorized
  pandas ``str.find`` per surface across the whole batch — no per-row
  Python loop over texts). This is the shape a real transformer/spaCy
  NER takes; ``SpacyMentionExtractor`` plugs in when the model is
  importable. Kept row-for-row equal to ``mentions_relational`` by
  tests/test_ner_triples.py.

Both return the pre-cap `mentions` table:
``(url, surface, label, first_offset)`` with first_offset = 0-based
char index of the surface in the document text, matches being
whole-space-token occurrences. Ordering/cap (A1: pinned
first-occurrence order, cap 10 AFTER label filter —
gremlin_client.py:115) live in kgp.operators.triples.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgp.gazetteer import PAGES_SURFACES


def gazetteer_df(
    spark: SparkSession, gaz: list[tuple[str, str]] | None = None
) -> DataFrame:
    return spark.createDataFrame(
        gaz or PAGES_SURFACES, schema="surface string, label string"
    )


def mentions_relational(
    docs: DataFrame,
    gaz_df: DataFrame,
    id_col: str = "url",
    text_col: str = "extracted_text",
) -> DataFrame:
    """Broadcast-join gazetteer matcher (JVM, no Python).

    locate() is 1-based over the padded text ``' '||text||' '``; the
    0-based offset into the unpadded text is locate-1-1+1 = locate-1
    ... i.e. ``locate - 1`` (one for 1-based, the added leading pad
    space is consumed by the ``' '+surface`` prefix).
    """
    return (
        docs.join(F.broadcast(gaz_df))
        .withColumn(
            "first_offset",
            (
                F.expr(
                    "locate(concat(' ', surface, ' '), "
                    f"concat(' ', {text_col}, ' '))"
                )
                - 1
            ).cast("long"),
        )
        .filter(F.col("first_offset") >= 0)
        .select(
            F.col(id_col).alias("url"),
            "surface",
            "label",
            "first_offset",
        )
    )


def mentions_arrow(
    docs: DataFrame,
    gaz: list[tuple[str, str]] | None = None,
    id_col: str = "url",
    text_col: str = "extracted_text",
) -> DataFrame:
    """Arrow-batched extractor (mapInPandas) — vectorized str.find per
    gazetteer surface across each batch; no per-row Python."""
    gaz = gaz or PAGES_SURFACES

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL text ⇒ no match (parity with the relational path,
            # where locate() on NULL filters out); without fillna the
            # nullable-string dtype propagates pd.NA through `pos >= 0`
            # and the boolean mask raises
            padded = " " + pdf[text_col].astype("string").fillna("") + " "
            frames = []
            for surface, label in gaz:
                pos = padded.str.find(" " + surface + " ")
                hit = pos >= 0
                if hit.any():
                    frames.append(
                        pd.DataFrame(
                            {
                                "url": pdf.loc[hit, id_col].astype(str),
                                "surface": surface,
                                "label": label,
                                "first_offset": pos[hit].astype("int64"),
                            }
                        )
                    )
            if frames:
                yield pd.concat(frames, ignore_index=True)
            else:
                yield pd.DataFrame(
                    {
                        "url": pd.Series([], dtype=str),
                        "surface": pd.Series([], dtype=str),
                        "label": pd.Series([], dtype=str),
                        "first_offset": pd.Series([], dtype="int64"),
                    }
                )

    return docs.select(id_col, text_col).mapInPandas(
        extract,
        schema="url string, surface string, label string, first_offset long",
    )


class SpacyMentionExtractor:
    """Real-model plug-in, used when en_core_web_sm is importable.

    Lazy module-global load: one model per executor process (SURVEY §4
    'model-in-UDF lifecycle'), batches via nlp.pipe. Not available in
    this sandbox; covered by import-try.
    """

    _nlp = None

    @classmethod
    def available(cls) -> bool:
        try:
            import spacy  # noqa: F401

            return True
        except ImportError:
            return False

    @classmethod
    def nlp(cls):
        if cls._nlp is None:
            import spacy

            cls._nlp = spacy.load("en_core_web_sm")
        return cls._nlp

    @classmethod
    def extract_batch(cls, texts: pd.Series) -> list[list[tuple[str, str, int]]]:
        nlp = cls.nlp()
        out = []
        for doc in nlp.pipe(texts.tolist(), batch_size=64):
            out.append(
                [(e.text, e.label_, e.start_char) for e in doc.ents]
            )
        return out
