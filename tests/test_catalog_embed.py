"""Catalog seam dispatch + deterministic mock embeddings (F9)."""

import numpy as np
from pyspark.sql import functions as F

from kgp.catalog import Catalog
from kgp.operators.embed import l2_normalize, with_embedding
from kgp.synth import synth_pages


def test_catalog_parquet_roundtrip_and_truncate(spark, tmp_path):
    cat = Catalog(str(tmp_path))
    pages = synth_pages(spark, 20)
    cat.write(pages, "pages")
    assert cat.read(spark, "pages").count() == 20
    cat.write(pages.limit(5), "pages", mode="append")
    assert cat.read(spark, "pages").count() == 25
    cat.truncate(spark, "pages")
    assert cat.read(spark, "pages").count() == 0
    # schema survives truncate (names/order; parquet round-trips
    # TimestampType as NTZ, so exact type equality is not expected)
    assert cat.read(spark, "pages").columns == pages.columns


def test_catalog_iceberg_seam_routes(tmp_path):
    cat = Catalog(str(tmp_path), fmt="iceberg", namespace="ns")
    assert cat.location("triples") == "ns.triples"
    assert Catalog(str(tmp_path)).location("triples").endswith("/triples")


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """X6 companion: triples bucketed by obj ⋈ entities bucketed by
    entity_id (same bucket count) must run with NO Exchange on either
    side — the J2 endpoint-resolution join co-located at write time.
    The same files read as plain parquet LOSE the layout and shuffle,
    proving the bucket metadata (not luck) removes the exchanges."""
    from kgp.operators.ner import gazetteer_df, mentions_relational
    from kgp.operators.segment import extract_docs
    from kgp.operators.triples import (
        build_entities,
        build_triples,
        cap_mentions,
    )

    docs = extract_docs(synth_pages(spark, 80))
    capped = cap_mentions(mentions_relational(docs, gazetteer_df(spark)))
    triples, entities = build_triples(capped), build_entities(capped)
    cat = Catalog(str(tmp_path))
    cat.write_bucketed(triples, "triples_b", 8, ["obj"])
    cat.write_bucketed(entities, "entities_b", 8, ["entity_id"])
    try:
        t = cat.read_bucketed(spark, "triples_b")
        e = cat.read_bucketed(spark, "entities_b")
        # hint forces SortMergeJoin: the 64 MB broadcast threshold
        # would otherwise hide the exchange question at test scale
        joined = t.hint("merge").join(
            e, t["obj"] == e["entity_id"]
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        # value parity vs the straightforward join
        expect = triples.join(
            entities, triples["obj"] == entities["entity_id"]
        ).count()
        assert joined.count() == expect > 0
        # control: plain parquet read of the SAME files reintroduces
        # the shuffles (bucket layout lives in the catalog metadata)
        t_raw = spark.read.parquet(str(tmp_path / "triples_b"))
        e_raw = spark.read.parquet(str(tmp_path / "entities_b"))
        raw_plan = (
            t_raw.hint("merge")
            .join(e_raw, t_raw["obj"] == e_raw["entity_id"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange hashpartitioning" in raw_plan, raw_plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {cat.table_name('triples_b')}")
        spark.sql(f"DROP TABLE IF EXISTS {cat.table_name('entities_b')}")


def test_embedding_deterministic_across_partitionings(spark):
    pages = synth_pages(spark, 60)
    a = {
        r["url"]: tuple(r["embedding"])
        for r in with_embedding(pages.repartition(1)).select(
            "url", "embedding").collect()
    }
    b = {
        r["url"]: tuple(r["embedding"])
        for r in with_embedding(pages.repartition(7)).select(
            "url", "embedding").collect()
    }
    assert a == b
    dims = {len(v) for v in a.values()}
    assert dims == {64}
    # distribution sanity: uniforms in [-1, 1]
    flat = np.array([v for v in a.values()], dtype=np.float64)
    assert flat.min() >= -1.0 and flat.max() <= 1.0
    assert 0.45 < flat.std() < 0.70  # uniform(-1,1) std ≈ 0.577


def test_l2_normalize_unit_norm(spark):
    pages = synth_pages(spark, 10)
    df = with_embedding(pages).select(
        "url", l2_normalize(F.col("embedding")).alias("n")
    )
    norms = df.select(
        F.aggregate(
            "n", F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        ).alias("sq")
    ).collect()
    assert all(abs(r["sq"] - 1.0) < 1e-5 for r in norms)
