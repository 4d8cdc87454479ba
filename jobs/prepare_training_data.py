"""spark-submit entry point: pages parquet → cleaned, deduplicated,
split training corpus. The C4/Gopher/RefinedWeb-style prep recipe
composed from the engine's first-class operators, resumable per stage.

Cluster usage:

    zip -r kgp.zip kgp
    spark-submit --py-files kgp.zip jobs/prepare_training_data.py \
        --input  s3://bucket/pages/   \
        --output s3://bucket/corpus/  \
        --min-quality 4000 --langs en --near-dup 0.85

Local / sandbox usage (synthesises the input when --synth N is given):

    python jobs/prepare_training_data.py --synth 2000 --output /tmp/c

Stages (each committed through the lineage ledger; rerunning with the
same --output skips committed stages): docs → filtered (lang + quality
gate) → deduped (exact md5 keep-min, then MinHash-LSH near-dup
pruning) → decontaminated (only with --benchmark: drop docs sharing
any 3-token shingle with the eval set) → span_cleaned (only with
--span-dedup-tokens: C4 span-level dedup — duplicated K-token blocks
removed corpus-wide, first occurrence kept) → capped (only with
--max-per-domain: keep the K highest-quality docs per url domain) →
truncated (only with --max-tokens-per-doc: cap each doc at its first
N whitespace tokens, applied after dedup/decontamination so those
compare full documents) → split (md5-bucket train/val/test,
hive-partitioned by split). A trainer then reads `split=train` with
partition pruning.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="pages parquet path")
    ap.add_argument("--output", required=True, help="output dir")
    ap.add_argument("--synth", type=int, default=0,
                    help="generate N synthetic pages as input")
    ap.add_argument("--min-quality", type=int, default=4000,
                    help="quality_e4 floor (0..10000)")
    ap.add_argument("--langs", default="en",
                    help="comma-separated pred_lang allowlist")
    ap.add_argument("--near-dup", type=float, default=0.85,
                    help="shingle-Jaccard near-dup prune threshold")
    ap.add_argument("--benchmark", default=None,
                    help="eval-set parquet (doc_id + text); when given,"
                         " docs sharing any 3-token shingle with it are"
                         " dropped before the split (decontamination)")
    ap.add_argument("--max-dup-ratio", type=int, default=None,
                    help="Gopher repetition rule: drop docs whose"
                         " duplicate-2-gram fraction exceeds this ×10⁴"
                         " threshold (e.g. 2000 = 0.2; default off)")
    ap.add_argument("--max-per-domain", type=int, default=None,
                    help="mega-domain quota: keep at most K highest-"
                         "quality docs per url domain (default off)")
    ap.add_argument("--max-tokens-per-doc", type=int, default=None,
                    help="cap each surviving doc at its first N"
                         " whitespace tokens (original whitespace"
                         " preserved; default off)")
    ap.add_argument("--span-dedup-tokens", type=int, default=None,
                    help="C4 span-level dedup: remove duplicated"
                         " K-token blocks corpus-wide (first occurrence"
                         " kept; docs losing no block pass through"
                         " byte-identical; default off). Integral doc"
                         " ids must lie in [0, 2^43) with fewer than"
                         " 2^20 blocks per doc, or the run fails;"
                         " this job's string doc ids have no bound")
    ap.add_argument("--span-hot-cap", type=int, default=None,
                    help="opt-in hot-span skew guard for"
                         " --span-dedup-tokens: spans hotter than this"
                         " resolve from a broadcast pre-count instead"
                         " of one unsplittable window task")
    ap.add_argument("--repartition", type=int, default=0,
                    help="url-hash repartition width before extraction")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--cores", type=int, default=None,
                    help="local-mode cores (ignored under spark-submit)")
    args = ap.parse_args(argv)

    from kgp.checkpoint import build_training_pipeline
    from kgp.lineage import run_stats
    from kgp.session import get_spark

    spark = get_spark("kgp-prepare-training-data", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    from kgp import fsutil

    pages_path = args.input
    if args.synth:
        from kgp.synth import synth_pages

        pages_path = f"{args.output}/_synth_pages_{args.synth}"
        if not fsutil.exists(spark, f"{pages_path}/_SUCCESS"):
            synth_pages(spark, args.synth).write.mode(
                "overwrite"
            ).parquet(pages_path)
    if not pages_path:
        ap.error("--input or --synth required")

    # same resume-safety contract as build_kg.py, extended: the
    # cleaning flags CHANGE stage content (unlike build_kg's
    # --repartition), so a resumed ledger must also match them —
    # otherwise committed 'filtered'/'deduped' stages built under
    # different thresholds would be silently reused. Marker I/O goes
    # through the Hadoop FS so it works on hdfs://s3a:// outputs.
    contract = (
        f"{pages_path}\n"
        f"min_quality={args.min_quality} langs={args.langs} "
        f"near_dup={args.near_dup} benchmark={args.benchmark or ''} "
        f"max_dup_ratio={args.max_dup_ratio} "
        f"max_per_domain={args.max_per_domain} "
        f"max_tokens_per_doc={args.max_tokens_per_doc} "
        # span_hot_cap is deliberately NOT in the contract: it is a
        # physical-plan choice with parity-tested identical output
        f"span_dedup_tokens={args.span_dedup_tokens}"
    )
    prev = fsutil.resume_marker_guard(
        spark, f"{args.output}/_run_contract", contract
    )
    if prev is not None:
        print(
            f"ERROR: output dir {args.output} holds committed stages "
            f"for\n  {prev!r}\nbut this run is\n  {contract!r}.\n"
            "Use a fresh --output (or delete the old one) — resuming "
            "would keep stages built under the previous contract.",
            file=sys.stderr,
        )
        spark.stop()
        return 2

    runner = build_training_pipeline(
        spark,
        pages_path,
        args.output,
        run_id=args.run_id,
        min_quality_e4=args.min_quality,
        keep_langs=tuple(x for x in args.langs.split(",") if x),
        near_dup_threshold=args.near_dup,
        repartition=args.repartition or None,
        benchmark_path=args.benchmark,
        max_dup_ratio_e4=args.max_dup_ratio,
        max_per_domain=args.max_per_domain,
        max_tokens_per_doc=args.max_tokens_per_doc,
        span_dedup_tokens=args.span_dedup_tokens,
        span_hot_cap=args.span_hot_cap,
    )
    print(f"run_id={runner.run_id} executed={runner.executed} "
          f"skipped={runner.skipped}")
    split = spark.read.parquet(f"{args.output}/split")
    split.groupBy("split").count().orderBy("split").show()
    run_stats(spark, args.output).orderBy("stage", "status").show(
        50, truncate=False
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
