"""kgp — a PySpark-native knowledge-graph construction engine.

Brand-new engine with the computational semantics of the reference
(ZGTR/multimodal-rag-knowledgegraph): temporal segmentation, NER-style
entity mention extraction, (subj, pred, obj) triple construction,
entity linking + canonicalization, lineage-tracked resumable stages —
re-expressed Spark-first (DataFrame/Catalyst, Arrow-batched pandas UDFs,
broadcast joins, salted aggregation) for 100 TB-scale web-page tables.

Package layout
--------------
- ``kgp.constants``   pinned semantics constants (window=30.0s, cap=10, labels)
- ``kgp.schemas``     Spark StructTypes for every table (SURVEY.md §1.3)
- ``kgp.session``     SparkSession builder (Arrow + AQE conf)
- ``kgp.synth``       deterministic synthetic `pages` generator (seed=42)
- ``kgp.gazetteer``   pinned gazetteers / alias dictionaries
- ``kgp.oracle``      pure-Python pinned twin of the judged semantics
- ``kgp.operators``   segment / ner / triples / linking / canon / dedup /
                      similarity / textstats / multimodal / skew
- ``kgp.checkpoint``  end-to-end pipeline with lineage + checkpoint/resume
- ``kgp.streaming``   Structured Streaming wrapper (foreachBatch of stages)
"""

__version__ = "0.1.0"
