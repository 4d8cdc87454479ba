"""Mentions + triples vs oracle: P/R target 1.0 (≥0.95 required)."""

from pyspark.sql import functions as F

from kgp import oracle
from kgp.gazetteer import PAGES_SURFACES
from kgp.operators.ner import gazetteer_df, mentions_arrow, mentions_relational
from kgp.operators.segment import extract_docs
from kgp.operators.triples import (
    build_entities,
    build_triples,
    cap_mentions,
)
from kgp.synth import synth_pages

N = 400


def _oracle_triples(pages_rows):
    want = set()
    for r in pages_rows:
        for t in oracle.triples_for_page(r["url"], r["text"], PAGES_SURFACES):
            want.add((t[0], t[1], t[2]))
    return want


def _spark_triples(spark, mention_fn):
    pages = synth_pages(spark, N, partitions=9)
    docs = extract_docs(pages)
    mentions = mention_fn(spark, docs)
    capped = cap_mentions(mentions)
    return pages, build_triples(capped), capped


def test_relational_mentions_match_oracle(spark):
    pages = synth_pages(spark, N)
    docs = extract_docs(pages)
    got = {
        (r["url"], r["surface"], r["label"], r["first_offset"])
        for r in mentions_relational(docs, gazetteer_df(spark)).collect()
    }
    want = set()
    for r in pages.collect():
        text = oracle.extracted_text_for_page(r["text"])
        for s, lab, off in oracle.extract_mentions(text, PAGES_SURFACES):
            want.add((r["url"], s, lab, off))
    assert got == want
    assert len(want) > 100  # synthetic data actually exercises this


def test_arrow_mentions_equal_relational(spark):
    pages = synth_pages(spark, N)
    docs = extract_docs(pages)
    rel = {
        tuple(r)
        for r in mentions_relational(docs, gazetteer_df(spark)).collect()
    }
    arw = {tuple(r) for r in mentions_arrow(docs).collect()}
    assert rel == arw


def test_triples_pr_is_one(spark):
    pages, triples_df, _ = _spark_triples(
        spark, lambda s, d: mentions_relational(d, gazetteer_df(s))
    )
    got = {(r["subj"], r["pred"], r["obj"]) for r in triples_df.collect()}
    want = _oracle_triples(pages.collect())
    tp = len(got & want)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(want) if want else 1.0
    assert precision == 1.0 and recall == 1.0, (precision, recall)
    assert len(want) > 200


def test_cap_and_label_filter(spark):
    _, triples_df, capped = _spark_triples(
        spark, lambda s, d: mentions_relational(d, gazetteer_df(s))
    )
    per_doc = capped.groupBy("url").count().agg(F.max("count")).first()[0]
    assert per_doc <= 10
    labels = {r["label"] for r in capped.select("label").distinct().collect()}
    assert labels <= {"PERSON", "ORG", "GPE", "PRODUCT"}


def test_entities_unique_and_normalized(spark):
    _, _, capped = _spark_triples(
        spark, lambda s, d: mentions_relational(d, gazetteer_df(s))
    )
    ents = build_entities(capped)
    assert ents.count() == ents.select("entity_id").distinct().count()
    bad = ents.filter(
        ~F.col("entity_id").rlike("^entity:[a-z0-9_.-]+$")
    ).count()
    assert bad == 0


def test_edge_ids_match_reference_format(spark):
    _, triples_df, _ = _spark_triples(
        spark, lambda s, d: mentions_relational(d, gazetteer_df(s))
    )
    r = triples_df.first()
    assert r["edge_id"] == f"edge:{r['subj']}:{r['obj']}:contains_entity"


def test_normalize_entity_id_py_full_unicode_parity(spark):
    """F2 parity option: the pandas-UDF path must equal the
    reference's Python `entity.lower().replace(' ', '_')` on surfaces
    where JVM lower() and CPython str.lower() disagree."""
    from kgp.operators.triples import (
        normalize_entity_id,
        normalize_entity_id_py,
    )

    surfaces = [
        "İstanbul Technical University",   # dotted capital I (Turkish)
        "STRASSE",                         # no ß expansion either way
        "ĲSSELMEER",                       # ligature lowers to ĳ
        "Σίσυφος ΑΣ",                      # final-sigma contextual rule
        "Crème Brûlée Labs",
        "Acme Corp",                       # plain ASCII control
        "",                                # empty-string edge
    ]
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        pd.DataFrame({"surface": surfaces})
    ).withColumn("eid_py", normalize_entity_id_py(F.col("surface")))
    got = {r["surface"]: r["eid_py"] for r in df.collect()}
    want = {
        s: "entity:" + s.lower().replace(" ", "_") for s in surfaces
    }
    assert got == want
    # and the JVM default stays byte-identical on ASCII gazetteers
    ascii_df = spark.createDataFrame(
        pd.DataFrame({"surface": ["Acme Corp", "Pied Piper"]})
    ).select(
        normalize_entity_id(F.col("surface")).alias("a"),
        normalize_entity_id_py(F.col("surface")).alias("b"),
    )
    assert ascii_df.filter(F.col("a") != F.col("b")).count() == 0
    # NULL surface → NULL id on BOTH paths (JVM concat propagates
    # NULL; the pandas path must not coin a non-null 'entity:') — the
    # two paths stay row-for-row swappable for NULL-filtering callers
    null_df = spark.createDataFrame(
        [(None,), ("Acme Corp",)], "surface string"
    ).select(
        normalize_entity_id(F.col("surface")).alias("a"),
        normalize_entity_id_py(F.col("surface")).alias("b"),
    )
    rows = {(r["a"], r["b"]) for r in null_df.collect()}
    assert rows == {(None, None), ("entity:acme_corp", "entity:acme_corp")}


def _shipped_kg(spark, pages, gaz=None):
    docs = extract_docs(pages)
    capped = cap_mentions(mentions_relational(docs, gazetteer_df(spark, gaz)))
    return build_triples(capped), build_entities(capped)


def test_cap_filters_labels_before_cap_and_breaks_offset_ties(spark):
    """Filter-before-cap + pinned (first_offset, surface) order on
    hand-built mention rows. u1: 12 entity mentions behind a decoy
    label at offset 0 — the decoy must not consume a cap slot
    (gremlin_client.py:102-135: label filter precedes the cap), and
    the offset-7 tie breaks by surface. u2: the tie sits on the cap
    boundary, so the surface decides which mention survives."""
    rows = [("u1", "noise", "EVENT", 0)] + [
        ("u1", f"e{i:02d}", "ORG", 7 if i < 2 else 10 + i)
        for i in range(12)
    ]
    rows += [("u2", "noise", "EVENT", 0)] + [
        ("u2", f"m{i}", "PERSON", 1 + i) for i in range(9)
    ]
    rows += [("u2", "zz", "GPE", 99), ("u2", "aa", "GPE", 99)]
    mentions = spark.createDataFrame(
        rows, "url string, surface string, label string, first_offset long"
    )
    got: dict[str, list[tuple[int, str]]] = {}
    for r in cap_mentions(mentions).collect():
        got.setdefault(r["url"], []).append((r["first_offset"], r["surface"]))
    u1 = [s for _, s in sorted(got["u1"])]
    assert u1 == [f"e{i:02d}" for i in range(10)]  # capped, decoy excluded
    u2 = {s for _, s in got["u2"]}
    assert u2 == {f"m{i}" for i in range(9)} | {"aa"}


def test_all_filtered_gazetteer_yields_nothing(spark):
    """A gazetteer whose labels are all outside ENTITY_LABELS gives
    zero triples and zero entities — including one whose surfaces do
    occur in the text, so the label filter is what empties it."""
    pages = synth_pages(spark, 40)
    relabeled = [(s, "EVENT") for s, _ in PAGES_SURFACES]
    docs = extract_docs(pages)
    assert mentions_relational(docs, gazetteer_df(spark, relabeled)).count()
    for gaz in ([("decoy", "EVENT")], relabeled):
        triples, entities = _shipped_kg(spark, pages, gaz)
        assert triples.count() == 0 and entities.count() == 0


def test_triples_partition_invariance(spark):
    a, _ = _shipped_kg(spark, synth_pages(spark, 200, partitions=1))
    b, _ = _shipped_kg(spark, synth_pages(spark, 200, partitions=11))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    assert a.count() > 0
