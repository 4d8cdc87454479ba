"""Training-data deduplication battery over document tables.

Five dedup families, each a first-class operator with a DuckDB-oracle
query (kgp.queries_ext):

* exact        — md5(text) hash-groupBy; keeper = min doc_id.
* fingerprint  — Broder-style content fingerprint: md5 of the sorted
                 distinct token set (catches token-permutation dups).
* simhash      — 32-bit SimHash over distinct tokens, bit b from hex
                 digit b of md5(token) (≥'8' ⇒ +1 else −1). Near-dup
                 candidates = equal simhash. Fully JVM + SQL-oracle-able.
* minhash-LSH  — shingle MinHash banding (kgp.operators.linking) +
                 exact shingle-Jaccard verification: the scale path for
                 fuzzy dedup (the O(n²) pair space never materializes;
                 only band-colliding candidates are scored).
* embedding    — cosine near-dup over ARRAY<FLOAT> embeddings
                 (kgp.operators.similarity.near_dup_pairs).

Scale notes: exact/fingerprint/simhash are one shuffle each (groupBy on
a hash) with map-side partial agg. MinHash-LSH is explode→min-agg→band
join, all key-partitioned; candidate verification touches only pairs
that collide in ≥1 band. At 10¹² docs the band join is the hot spot —
AQE skew-split plus a band-key salting fallback (kgp.skew) keep
straggler tasks bounded.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgp.operators.linking import (
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signature,
    score_candidates_jaccard,
    shingles_col,
)

SIMHASH_BITS = 32


_BYTE_SUFFIX = {"": 1, "b": 1, "k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _parse_bytes(raw: object, default: int = 128 * 2**20) -> int:
    """Spark byte-size strings: '134217728', '134217728b', '128m', '1g'.

    A digits-only strip would misread '128m' as 128 bytes and disable
    the narrow-input widening below on any cluster that sets the
    config in suffixed form.
    """
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtb]?)b?\s*", str(raw).lower())
    return int(m.group(1)) * _BYTE_SUFFIX[m.group(2)] if m else default


def _jvm_file_sizes(spark, files: list[str]) -> list[int]:
    """Stat via the JVM Hadoop FileSystem — any scheme the session can
    read (hdfs, s3a, file). Raises under Spark Connect, where the
    ``spark._jvm`` private API does not exist (ADVICE r4)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    out = []
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        out.append(p.getFileSystem(hconf).getFileStatus(p).getLen())
    return out


def _file_sizes(spark, files: list[str]) -> list[int] | None:
    """Byte sizes for ``files``, or None when they cannot be statted
    (callers then skip the narrow-input widening — a conservative
    no-op, since widening is itself only an optimization).

    First choice is the JVM Hadoop FileSystem; under Spark Connect
    (no ``_jvm``) fall back to a pure-Python stat for file:/local
    paths and give up on remote schemes.
    """
    try:
        return _jvm_file_sizes(spark, files)
    except Exception:
        pass
    try:
        from urllib.parse import unquote, urlparse

        out = []
        for f in files:
            u = urlparse(f)
            if u.scheme not in ("file", ""):
                return None
            out.append(os.path.getsize(unquote(u.path)))
        return out
    except OSError:
        return None


def exact_dup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(text_md5, keep_id, n_dups): exact-duplicate clusters."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_md5"), id_col)
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def dedup_exact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one doc per exact text: min-id winner via window-free
    self-join (groupBy + semi join keeps the plan broadcast-friendly)."""
    keep = exact_dup_groups(docs, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


def fingerprint_col(text: Column) -> Column:
    """md5 over the sorted distinct token set — order-insensitive
    content fingerprint (rolling-hash family; SURVEY training-data ops)."""
    return F.md5(
        F.concat_ws(
            " ", F.array_sort(F.array_distinct(F.split(text, " ", -1)))
        )
    )


def fingerprint_dup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    return (
        docs.select(fingerprint_col(F.col(text_col)).alias("fp"), id_col)
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# Rabin-Karp polynomial fingerprint constants: prime modulus keeps the
# fold in BIGINT range (acc < M, so acc·B + h < ~1e15 ≪ 2^63 — no ANSI
# overflow), and both engines do the identical exact integer arithmetic
RH_MOD = 1_000_000_007
RH_BASE = 1_000_003


def rolling_fingerprint_col(text: Column) -> Column:
    """ORDER-SENSITIVE document fingerprint: a Rabin-Karp polynomial
    hash folded over the token stream, ``acc = (acc·B + h(tok)) mod M``
    with ``h`` the top 48 bits of md5(token). Complements
    `fingerprint_col` (sorted-token md5, order-INsensitive): permuted
    token streams collide there but not here. Pure JVM HOF fold —
    zero shuffle, pipelines into the scan; md5 runs once per token.
    Byte-identical DuckDB twin via list_reduce over the same fold.
    """
    toks = F.split(text, " ", -1)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (
            acc * RH_BASE
            + F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long")
            % RH_MOD
        )
        % RH_MOD,
    )


def simhash_col(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash as a `bits`-char bitstring over distinct tokens.

    Bit b = sign of Σ_tokens (hex digit b of md5(token) ≥ '8' ? +1 : −1)
    — i.e. the top bit of each md5 nibble is one hash-family bit
    (Charikar 2002, with md5 nibbles as the per-bit hash). Ties (sum=0)
    resolve to '1' deterministically. Pure JVM HOFs; byte-identical
    SQL twin exists (substr/md5/CASE), so the oracle covers it.
    """
    toks = F.array_distinct(F.split(text, " ", -1))

    def tok_bits(h: Column) -> Column:
        # ±1 vote per nibble of ONE md5 — md5 computed once per token
        return F.transform(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda b: F.when(
                F.substring(h, b, 1).isin(
                    "8", "9", "a", "b", "c", "d", "e", "f"
                ),
                1,
            ).otherwise(-1),
        )

    # fold over pre-hashed tokens: the lambda variable h is a BOUND
    # string value, so md5 runs once per token (inlining md5(t) into
    # tok_bits would re-evaluate it per bit — no CSE inside HOF bodies)
    votes = F.aggregate(
        F.transform(toks, lambda t: F.md5(t)),
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, tok_bits(h), lambda a, b: a + b),
    )
    return F.array_join(
        F.transform(
            votes,
            lambda v: F.when(v >= 0, F.lit("1")).otherwise(F.lit("0")),
        ),
        "",
    )


def simhash_dup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(simhash, keep_id, n_dups) — docs whose 32-bit sketch collides.

    At web scale the standard refinement (split sketch into q bands and
    hamming-verify) follows the same band-join shape as MinHash-LSH;
    exact-sketch equality is the first (and cheapest) tier.
    """
    return (
        docs.select(simhash_col(F.col(text_col)).alias("simhash"), id_col)
        .groupBy("simhash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def near_dup_pairs_minhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    family: str = "oracle",
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidates → exact shingle-Jaccard ≥ threshold.

    The full fuzzy-dedup scale path: O(n²) never materializes; the
    verification join only sees band-colliding pairs. family='oracle'
    (DuckDB-replicable sha256||md5 chunks) for driver-gated queries;
    family='fast' (xxhash64) for the production hot path — see
    kgp.operators.linking.minhash_signature. ``max_bucket`` drops
    boilerplate-hot LSH buckets before the candidate self-join
    (kgp.operators.linking.lsh_candidate_pairs) — set it on corpora
    where exact dedup hasn't already removed identical documents.
    """
    # Widen a narrow input BEFORE shingling: a single small parquet
    # file scans as 1-4 partitions, which serializes the per-shingle
    # digest map stage onto as many cores (measured 2.7 s → 1.5 s at
    # sf0.1/local[32]). Shuffling the raw (id, text) rows is cheap;
    # repartitioning AFTER shingling would shuffle the exploded
    # shingle arrays instead (measured slower than not widening at
    # all). At real scale the input already has ≥ cores partitions and
    # this is a no-op. doc ids are high-cardinality (CLAUDE.md rule:
    # never repartition on a low-cardinality bucket expression).
    # Probe narrowness with inputFiles(), NOT rdd.getNumPartitions():
    # touching .rdd finalizes the plan and, under AQE, eagerly
    # EXECUTES any upstream shuffle stages at construction time.
    # inputFiles() reads only the file index; for non-file inputs
    # (in-memory relations, shuffle outputs) it returns [] and we
    # skip widening — those arrive with ≥ shuffle.partitions anyway.
    # File COUNT alone over-triggers: a few multi-GB parquet files are
    # splittable and already scan wide, so estimate the scan's task
    # count as ceil(bytes / maxPartitionBytes) per file and widen only
    # when that estimate is narrow too.
    want = docs.sparkSession.sparkContext.defaultParallelism
    files = docs.inputFiles()
    if 0 < len(files) < want:
        spark = docs.sparkSession
        max_pb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        # bounded: len(files) < cores by the guard; None (unstattable
        # — e.g. Spark Connect + a remote scheme) skips widening
        sizes = _file_sizes(spark, files)
        if sizes is not None:
            est_tasks = sum(max(1, -(-size // max_pb)) for size in sizes)
            if est_tasks < want:
                docs = docs.repartition(want, id_col)
    sets_df = docs.select(
        id_col, shingles_col(F.col(text_col)).alias("shingles")
    )
    sig = minhash_signature(sets_df, id_col, "shingles", family=family)
    cand = lsh_candidate_pairs(
        lsh_bands(
            sig, id_col, render="hex8" if family == "oracle" else "dec"
        ),
        id_col,
        max_bucket=max_bucket,
    )
    # Verification touches CANDIDATE docs only: semi-join the corpus
    # down to ids that appear in some pair BEFORE re-computing shingle
    # sets for the scoring joins. Without this, each scoring join side
    # re-shingles the whole corpus (shingle construction is the
    # dominant cost of the entire operator — measured ~10 s per 200 k
    # docs per pass at local[32], and scoring adds two passes); with
    # it, the corpus is shingled once (signature) plus once over the
    # ~pair-sized candidate subset. cand is now consumed twice (the id
    # probe and the scoring join), so materialize the pair table once —
    # it is pair-sized, and lsh_candidate_pairs only materializes the
    # BANDS table, so re-running cand's lineage would repeat the band
    # self-join shuffle.
    from kgp.materialize import materialize as _mat

    cand = _mat(cand)
    cand_ids = cand.select(F.col("id_a").alias(id_col)).union(
        cand.select(F.col("id_b").alias(id_col))
    )
    cand_sets = docs.join(
        cand_ids.distinct(), id_col, "semi"
    ).select(id_col, shingles_col(F.col(text_col)).alias("shingles"))
    return score_candidates_jaccard(
        cand, cand_sets, id_col, "shingles", threshold
    )


def near_dup_pairs_bruteforce(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """O(n²) exact shingle-Jaccard — the recall oracle for LSH tests
    and the correctness baseline at small SF. Not a scale path."""
    s = docs.select(
        F.col(id_col).alias("_id"),
        shingles_col(F.col(text_col)).alias("_sh"),
    )
    a = s.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sa"))
    b = s.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sb"))
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    uni = F.size(F.array_union(F.col("_sa"), F.col("_sb")))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", inter.cast("double") / uni.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def frequent_ngrams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_docs: int = 5,
    top: int = 50,
) -> DataFrame:
    """Corpus boilerplate mining: the `top` most document-frequent
    positional n-grams (Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better" finds repeated n-grams are the
    dominant contamination in web corpora; C4 removes lines repeated
    >=3 times — this is the same policy for corpora without line
    structure). Output (gram, n_docs, n_occurrences), ordered by
    document frequency with a total tiebreak so the top-k is
    deterministic.

    Scale shape: explode is narrow; the groupBy(gram) partially
    aggregates map-side, so the shuffle carries one row per distinct
    gram per partition, not the exploded stream; countDistinct(doc) is
    a two-phase agg on the same key. The final ordered cap compiles to
    TakeOrderedAndProject (per-partition heap, no global sort). At
    10^12 docs the gram key space is heavy-tailed; AQE skew-split
    handles the head grams and `min_docs` prunes the unique-gram tail
    before the top-k.
    """
    grams = (
        docs.select(id_col, F.split(F.col(text_col), " ").alias("w"))
        .filter(F.size("w") >= n)
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(w) - {n}), "
                    f"i -> concat_ws(' ', "
                    + ", ".join(f"w[i + {j}]" for j in range(n))
                    + "))"
                )
            ).alias("gram"),
        )
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(
            F.desc("n_docs"), F.desc("n_occurrences"), F.asc("gram")
        )
        .limit(top)
    )


SPAN_TOKENS = 10


def _span_rows(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Explode docs into non-overlapping ``k``-token blocks with the
    packed keeper key ``_sk`` (see span_dedup_stats)."""
    from pyspark.sql import types as T

    wt = docs.select(
        id_col, F.split(F.col(text_col), " ", -1).alias("w")
    )
    spans = wt.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(w) / {k}.0) as int) - 1), "
                f"i -> concat_ws(' ', slice(w, i * {k} + 1, {k})))"
            )
        ).alias("pos", "span"),
    )
    # keeper key: min over a STRUCT buffers a non-mutable type and
    # demotes the span groupBy to SortAggregate (the round-1 minhash
    # scale-killer all over again) — for integral non-negative ids,
    # pack (id, pos) into ONE BIGINT so the agg stays HashAggregate.
    # 2^20 block positions/doc = 2^20·k tokens/doc headroom; ids must
    # fit 43 bits. Non-integral ids keep the struct (SortAggregate,
    # documented cost).
    pos_bits = 20
    if isinstance(
        docs.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    ):
        # the packing is only a total order when id ∈ [0, 2^43) and
        # pos < 2^20 — outside that it silently picks a WRONG keeper
        # (64-bit snowflake/xxhash ids are integral and would take
        # this path), so the bound is enforced per-row: assert_true
        # raises instead of corrupting, and costs one codegen'd
        # comparison folded into the key expression
        in_bounds = (
            (F.col(id_col) >= 0)
            & (F.col(id_col) < F.lit(1 << 43).cast("long"))
            & (F.col("pos") < F.lit(1 << pos_bits))
        )
        guard = F.assert_true(
            in_bounds,
            F.lit(
                "span_dedup_stats: id/pos exceed packed-keeper bounds "
                "(id must be in [0, 2^43), doc must have < 2^20 "
                "blocks) — use a string id column or a larger k"
            ),
        )
        # the when() branches per row, so the multiplication (which
        # would itself ANSI-overflow for huge ids, with a less useful
        # message) is only evaluated for in-bounds rows
        spans = spans.withColumn(
            "_sk",
            F.when(
                in_bounds,
                F.col(id_col).cast("long") * (1 << pos_bits)
                + F.col("pos"),
            ).otherwise(F.coalesce(guard.cast("long"), F.lit(0))),
        )
    else:
        spans = spans.withColumn(
            "_sk", F.struct(F.col(id_col), F.col("pos"))
        )
    return spans


def _span_annotated(
    spans: DataFrame, hot_span_cap: int | None
) -> DataFrame:
    """Annotate span rows with (cnt, _keeper) per distinct span value.

    Default path: a WINDOW over the span key, not a groupBy + join
    back — on web corpora almost every span is unique (measured
    19.98M distinct of 20.5M at 2M synthetic docs), so the aggregate
    table is as large as the span table itself and the count join
    degenerates into a corpus×corpus sort-merge join on a ~100-byte
    string key. The window shuffles the span table ONCE on the same
    key and sorts one side instead of two (measured at 2M docs /
    local[32], full-drain: ~39 s with groupBy+join → ~14 s with the
    window), and the span table then has a single consumer, so
    nothing needs materializing.

    The window's exposure (ADVICE r4): window partitions get no
    map-side partial aggregation and no AQE skew split, so ONE
    boilerplate-hot span (an empty block, a legal banner) puts all
    its rows in one unsplittable task. ``hot_span_cap`` is the
    opt-in guard, mirroring lsh_candidate_pairs' max_bucket: a
    map-side-partial (hence skew-immune) groupBy pre-counts spans,
    spans hotter than the cap resolve their (cnt, keeper) from that
    broadcast-small hot table, and only the bounded-cardinality
    (≤ cap rows per span) remainder flows through the window. The
    guard costs one extra corpus-sized shuffle (the pre-count) plus a
    second pass over the span lineage — ~2× the unguarded cost — so
    it stays opt-in, for corpora where exact/boilerplate dedup has
    NOT already removed the hot blocks. Semantics are identical
    either way (parity-tested).
    """
    from pyspark.sql.window import Window

    w_span = Window.partitionBy("span")
    if hot_span_cap is None:
        return spans.withColumn(
            "cnt", F.count(F.lit(1)).over(w_span)
        ).withColumn("_keeper", F.min("_sk").over(w_span))
    from kgp.materialize import materialize as _mat

    # materialize: the hot table is consumed twice (resolve join +
    # anti join) and its lineage is the full corpus pre-count
    hot = F.broadcast(
        _mat(
            spans.groupBy("span")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min("_sk").alias("_keeper"),
            )
            .filter(F.col("cnt") > hot_span_cap)
        )
    )
    hot_rows = spans.join(hot, "span")
    cold_rows = (
        spans.join(hot.select("span"), "span", "left_anti")
        .withColumn("cnt", F.count(F.lit(1)).over(w_span))
        .withColumn("_keeper", F.min("_sk").over(w_span))
    )
    return hot_rows.unionByName(cold_rows.select(*hot_rows.columns))


def _span_kept() -> Column:
    return (F.col("cnt") == 1) | (F.col("_sk") == F.col("_keeper"))


def span_dedup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_TOKENS,
    hot_span_cap: int | None = None,
) -> DataFrame:
    """C4 span-level dedup (Raffel et al. 2020 §2.2: any three-sentence
    span occurring more than once in the corpus is removed, keeping one
    occurrence), adapted to line-less corpora as non-overlapping
    ``k``-token blocks — the sub-document complement of the doc-level
    families above (a page sharing one boilerplate paragraph with
    another page is untouched by doc-level dedup but cleaned here).

    Keeper = the globally first occurrence by (id, block position), the
    C4 "retain one" rule made deterministic. Output per doc:
    (id, n_spans, n_dup_spans, n_removed, clean_md5) where clean_md5 is
    the md5 of the doc's text after removal (kept blocks re-joined in
    position order) — the digest stands in for the cleaned text so the
    cross-engine gate stays scalar (no ARRAY columns).

    Scale shape: block explode is narrow; (cnt, keeper) per span comes
    from one window over the span key (see _span_annotated — including
    the hot-span exposure and the opt-in ``hot_span_cap`` guard); the
    per-doc reassembly is one more shuffle carrying only kept blocks.
    At 100 TB the reassembly groupBy is the honest cost of C4-style
    cleaning — span_dedup_flags is the flag-only variant that drops
    it; this operator returns the digest so tests pin the rewrite
    semantics end-to-end.
    """
    j = _span_annotated(
        _span_rows(docs, id_col, text_col, k), hot_span_cap
    )
    kept = _span_kept()
    return j.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_spans"),
        F.sum(F.when(kept, 0).otherwise(1))
        .cast("long")
        .alias("n_removed"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                kept, F.struct(F.col("pos"), F.col("span"))
                            )
                        )
                    ),
                    lambda s: s.getField("span"),
                ),
            )
        ).alias("clean_md5"),
    )


def span_dedup_flags(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_TOKENS,
    hot_span_cap: int | None = None,
) -> DataFrame:
    """Flag-only C4 span dedup: one row per ``k``-token block,
    ``(id, pos, is_dup, kept)`` — the 100 TB writer-side variant of
    span_dedup_stats. Skips the per-doc reassembly groupBy (the third
    shuffle, which carries every kept block): the sink writer rewrites
    each document as it streams blocks, dropping ``kept = false``
    ones, so the flags table is the whole distributed cost.
    Consistency with span_dedup_stats (n_spans = rows per id,
    n_removed = rows with kept = false) is pinned in tests.

    Packed-keeper bound: for an integral ``id_col`` the keeper key
    packs (id, pos) into one BIGINT, which is a total order only for
    ids in [0, 2^43) and fewer than 2^20 blocks per doc; a row outside
    that raises at run time instead of picking a wrong keeper. String
    ids keep the unpacked struct key and have no bound.
    """
    j = _span_annotated(
        _span_rows(docs, id_col, text_col, k), hot_span_cap
    )
    return j.select(
        id_col,
        "pos",
        (F.col("cnt") > 1).alias("is_dup"),
        _span_kept().alias("kept"),
    )


def span_cleaned_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_TOKENS,
    hot_span_cap: int | None = None,
) -> DataFrame:
    """C4 span dedup as a TEXT REWRITE: return ``docs`` with
    ``text_col`` replaced by the span-cleaned text — duplicated
    ``k``-token blocks removed, keeping the globally-first occurrence
    (the same (cnt, keeper) law as span_dedup_stats; parity with its
    ``clean_md5`` digest is pinned in tests). This is the operator the
    training-data prep pipeline materializes as its ``span_cleaned``
    stage; span_dedup_stats is the audit view, span_dedup_flags the
    writer-side variant.

    Untouched docs (no removed block) keep their ORIGINAL text
    byte-identically — only docs that lose at least one block are
    rebuilt from their kept blocks (re-joined with single spaces in
    position order, the same normalization clean_md5 digests). That
    keeps the stage a byte-identity pass-through for the overwhelmingly
    common clean case and shrinks the rebuild join to the affected
    docs.

    Scale shape: block explode + one window over the span key
    (_span_annotated, including the opt-in ``hot_span_cap`` skew
    guard), a groupBy reassembly carrying only affected docs' kept
    blocks, and one join back on ``id_col`` — the corpus side arrives
    already hash-partitioned on ``id_col`` from no prior shuffle, so
    this is the honest one-extra-shuffle cost of rewriting text
    in-engine (the flags variant trades it for sink-writer logic).

    Packed-keeper bound: for an integral ``id_col`` the keeper key
    packs (id, pos) into one BIGINT, which is a total order only for
    ids in [0, 2^43) and fewer than 2^20 blocks per doc; a row outside
    that raises at run time instead of picking a wrong keeper. String
    ids keep the unpacked struct key and have no bound.
    """
    j = _span_annotated(
        _span_rows(docs, id_col, text_col, k), hot_span_cap
    )
    kept = _span_kept()
    rebuilt = (
        j.groupBy(id_col)
        .agg(
            F.sum(F.when(kept, 0).otherwise(1)).alias("_n_removed"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                kept,
                                F.struct(F.col("pos"), F.col("span")),
                            )
                        )
                    ),
                    lambda s: s.getField("span"),
                ),
            ).alias("_span_clean"),
        )
        .filter(F.col("_n_removed") > 0)
        .select(id_col, "_span_clean")
    )
    return (
        docs.join(rebuilt, id_col, "left")
        .withColumn(
            text_col,
            F.coalesce(F.col("_span_clean"), F.col(text_col)),
        )
        .drop("_span_clean")
    )


def ngram_contamination(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bench_text_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any
    n-token shingle with a held-out evaluation set (the GPT-3 appendix
    C / PaLM policy — exact n-gram overlap against eval sets, here with
    the corpus shingle size so the whole dedup family shares one gram
    definition, kgp.operators.linking.shingles_col).

    Output: (id, n_hits) for contaminated docs only, n_hits = number of
    distinct overlapping shingles.

    Scale shape: the eval side is small by construction (benchmarks are
    thousands of docs, the corpus is billions) — its distinct gram set
    broadcasts, so the training stream never shuffles for the join; the
    per-doc hit count partially aggregates map-side. At 100 TB this is
    one broadcast + one count shuffle of only the contaminated rows.
    """
    from kgp.operators.linking import shingles_col

    g = train.select(
        id_col, F.explode(shingles_col(F.col(text_col), n)).alias("gram")
    )
    bg = bench.select(
        F.explode(
            shingles_col(F.col(bench_text_col or text_col), n)
        ).alias("gram")
    ).distinct()
    return (
        g.join(F.broadcast(bg), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
