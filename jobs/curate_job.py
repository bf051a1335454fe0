#!/usr/bin/env python
"""Curation job: the full training-data ladder composed from the repo's
operators as ONE production pipeline over a documents-shaped table.

    spark-submit --py-files dist/pdf_extractor_spark.zip jobs/curate_job.py \
        --input /tables/documents --output /tables/curated \
        [--manifest /tables/curated_drops] [--eval-mod 50] [--pack-budget 2048]

Stages (each stage's drops land in the manifest with a reason; kept +
dropped reconciles to the input count — the completeness discipline of the
extraction pipeline's P5 gate):

  1. pii      — pii_columns: redact emails/phones/SSNs/IPs/URLs in place
                (training continues on the REDACTED text; nothing dropped)
  2. quality  — Gopher-style filters: word_repetition (top-word share,
                distinct ratio) + line_repetition_columns (duplicate-line
                fraction) + minimum length; breaching docs dropped
  3. exact    — sha2 over redacted text, keep min id per hash
  4. neardup  — MinHash+LSH pairs -> connected components, keep component
                canonical (min id)
  5. decontam — 8-gram shingle overlap vs the hash-held-out eval split;
                contaminated TRAIN docs dropped (eval docs pass through
                flagged, for downstream eval-set assembly)
  6. pack     — pack_sequences_distributed: token-budget bin id + offset
                per surviving doc (the training-batch layout)

Scale notes: stages 1-2 are narrow maps + the word-count shuffle; stages
3-5 shuffle on hash/band/shingle keys only (never full text); stage 6 is
the two-pass range-partitioned cumsum (no per-stratum reducer). Nothing
collects rows to the driver except the final per-reason summary counts.

Prints one JSON summary line.
"""

from __future__ import annotations

import argparse
import json

# the run ledger: one row per committed curation run
LEDGER = "run_id string, snapshot_id string, status string, rows_in long, rows_out long, ts double"


def curate(
    spark,
    docs,
    eval_mod: int = 50,
    pack_budget: int = 2048,
    min_words: int = 8,
    max_top_word_ppm: int = 200_000,
    max_dup_line_frac: float = 0.3,
    stage_probe=None,
):
    """Run the ladder over a documents-shaped DataFrame
    (doc_id, text, lang, ...). Returns (curated_df, manifest_df) where
    curated carries (doc_id, lang, text [redacted], n_tokens, bin_id,
    bin_offset, is_eval) and manifest carries (doc_id, stage, reason).

    ``stage_probe(name, df) -> df``: optional hook called with the surviving
    relation at each stage boundary. A provided probe MUST return a
    materialized (lineage-cut) relation — the ladder then skips its own
    exact-dedup checkpoint, whose lineage cut the iterative components
    stage requires (bench.py --curate and --checkpoint-stages both use
    localCheckpoint probes). Default None keeps the single lazy production
    plan."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.dedup import minhash_lsh_pairs
    from pdf_extractor_spark.plans.catalog_ext import (
        line_repetition_columns,
        pii_columns,
        shingle_decontaminate,
        word_repetition,
    )
    from pdf_extractor_spark.plans.llm_extras import (
        near_dup_components,
        pack_sequences_distributed,
    )

    probe = stage_probe or (lambda _name, df: df)
    manifests = []

    # 0. account for NULL text up front (round-5 ADVICE fix): the quality
    # stage's word-metric join is an inner join against an exploded
    # split(text,' ') — a NULL text yields NO exploded rows, so the doc
    # would vanish with no manifest entry and break kept+dropped==input.
    # Route NULL-text docs into the manifest with an explicit reason.
    manifests.append(
        docs.where(F.col("text").isNull()).select(
            "doc_id", F.lit("quality").alias("stage"), F.lit("null_text").alias("reason")
        )
    )
    docs = docs.where(F.col("text").isNotNull())

    # 1. PII scrub: redact in place (no drops)
    pii = pii_columns(F.col("text"))
    docs = docs.withColumn("text", pii["redacted"])

    docs = probe("pii", docs)

    # 2. quality filters (word metrics need a shuffle; line metrics ride it)
    wm = word_repetition(docs)
    lc = line_repetition_columns(F.col("text"))
    feat = docs.join(wm, "doc_id").withColumn("n_lines", lc["n_lines"]).withColumn(
        "n_dup_lines", lc["n_dup_lines"]
    )
    reason = (
        F.when(F.col("rep_n_words") < min_words, F.lit("too_short"))
        .when(F.col("top_word_share_ppm") > max_top_word_ppm, F.lit("dominant_token"))
        .when(
            F.col("n_dup_lines").cast("double")
            > F.col("n_lines").cast("double") * max_dup_line_frac,
            F.lit("duplicate_lines"),
        )
    )
    feat = feat.withColumn("drop_reason", reason)
    manifests.append(
        feat.where(F.col("drop_reason").isNotNull()).select(
            "doc_id", F.lit("quality").alias("stage"), F.col("drop_reason").alias("reason")
        )
    )
    docs = feat.where(F.col("drop_reason").isNull()).drop(
        "drop_reason", "rep_n_distinct", "n_lines", "n_dup_lines", "top_word_share_ppm"
    )

    docs = probe("quality", docs)

    # 3. exact dedup: keep min doc_id per content hash
    w_hash = docs.withColumn("chash", F.sha2(F.col("text"), 256))
    keeper = w_hash.groupBy("chash").agg(F.min("doc_id").alias("keep_id"))
    w_hash = w_hash.join(keeper, "chash")
    manifests.append(
        w_hash.where(F.col("doc_id") != F.col("keep_id")).select(
            "doc_id", F.lit("exact_dedup").alias("stage"), F.lit("duplicate_content").alias("reason")
        )
    )
    docs = w_hash.where(F.col("doc_id") == F.col("keep_id")).drop("chash", "keep_id")
    docs = probe("exact_dedup", docs)
    # the pair derivation + components below iterate over this relation; the
    # lineage must be cut HERE or every round re-derives the whole ladder.
    # A materializing probe's barrier already did it (checkpointing twice
    # would write the full surviving corpus to block storage back-to-back);
    # the check is structural, not doctrinal: a probe that did NOT leave a
    # materialized plan (LogicalRDD / InMemoryRelation root) gets the
    # production checkpoint anyway (round-5 review finding)
    plan = docs._jdf.queryExecution().optimizedPlan().toString() if stage_probe else ""
    if stage_probe is None or not any(
        m in plan for m in ("LogicalRDD", "InMemoryRelation", "ExistingRDD")
    ):
        docs = docs.localCheckpoint(eager=True)

    # 4. near-dedup: LSH pairs -> components, keep canonical
    pairs = minhash_lsh_pairs(docs, threshold=0.9, max_bucket=256)
    comp = near_dup_components(docs.select("doc_id"), pairs)
    docs = docs.join(comp, "doc_id")
    manifests.append(
        docs.where(~F.col("is_canonical")).select(
            "doc_id", F.lit("near_dedup").alias("stage"), F.lit("near_duplicate").alias("reason")
        )
    )
    docs = docs.where(F.col("is_canonical")).drop("component", "is_canonical")
    docs = probe("near_dedup", docs)

    # 5. decontamination vs the hash-held-out eval split
    dec = shingle_decontaminate(docs, F.col("doc_id") % eval_mod == 0)
    docs = docs.join(dec.select("doc_id", "is_eval", "contaminated"), "doc_id")
    manifests.append(
        docs.where(F.col("contaminated")).select(
            "doc_id", F.lit("decontam").alias("stage"), F.lit("eval_overlap").alias("reason")
        )
    )
    docs = docs.where(~F.col("contaminated")).drop("contaminated")
    docs = probe("decontam", docs)

    # 6. sequence packing over survivors
    packed = pack_sequences_distributed(docs.select("doc_id", "lang", "text"), budget=pack_budget)
    curated = probe(
        "pack",
        docs.join(packed.drop("lang"), "doc_id").select(
            "doc_id", "lang", "text", "n_tokens", "bin_id", "bin_offset", "is_eval"
        ),
    )

    manifest = manifests[0]
    for m in manifests[1:]:
        manifest = manifest.unionByName(m)
    return curated, manifest


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--manifest", default=None)
    p.add_argument("--lineage", default=None, help="curation ledger dir: makes re-runs idempotent")
    p.add_argument("--snapshot-id", default="local")
    p.add_argument("--eval-mod", type=int, default=50)
    p.add_argument("--pack-budget", type=int, default=2048)
    p.add_argument(
        "--checkpoint-stages",
        action="store_true",
        help="materialize each stage boundary (localCheckpoint). The two "
        "sinks (curated + manifest) otherwise share lineage and recompute "
        "it — measured 1.3-1.9x slower unstaged at 200k docs across two "
        "windows (bench.py --curate artifacts r5_curate_200k_run{1,2}). "
        "Default OFF: barriers write the full "
        "surviving text per stage, the wrong trade once the corpus "
        "exceeds cluster storage headroom; turn on when recompute is the "
        "scarcer resource.",
    )
    args = p.parse_args()

    import time

    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.lineage import read_commit_table, run_key
    from pdf_extractor_spark.session import get_spark

    spark = get_spark("curate_job")
    run_id = run_key(args.input, args.snapshot_id)

    # snapshot-atomic resume: curation is corpus-global (dedup and the eval
    # shingle set need the whole snapshot), so the resume unit is the RUN,
    # not the file. All writes below are mode=overwrite and the ledger
    # commit lands LAST — a crash at any point replays cleanly; a committed
    # run is skipped outright.
    if args.lineage:
        done = (
            read_commit_table(spark, args.lineage, LEDGER)
            .where((F.col("run_id") == run_id) & (F.col("status") == "done"))
            .limit(1)
            .count()
        )
        if done:
            print(json.dumps({"run_id": run_id, "skipped": True, "reason": "already_committed"}))
            spark.stop()
            return

    from pyspark.sql import Observation

    docs = spark.read.parquet(args.input)
    n_in = docs.count()
    barrier = (
        (lambda _name, df: df.localCheckpoint(eager=True))
        if args.checkpoint_stages
        else None
    )
    curated, manifest = curate(
        spark, docs, eval_mod=args.eval_mod, pack_budget=args.pack_budget,
        stage_probe=barrier,
    )
    # n_out rides the write via observe() — no re-read of the output
    obs_out = Observation()
    curated = curated.observe(obs_out, F.count(F.lit(1)).alias("n"))
    curated.write.mode("overwrite").parquet(args.output)
    n_out = obs_out.get["n"]
    # summary must describe the manifest that was WRITTEN, not a second
    # execution of the (MinHash/components/decontam) lineage that could in
    # principle diverge: read the parquet back when it exists, otherwise
    # pin one execution with localCheckpoint before aggregating (r5 ADVICE)
    if args.manifest:
        manifest.write.mode("overwrite").parquet(args.manifest)
        manifest_final = spark.read.parquet(args.manifest)
    else:
        manifest_final = manifest.localCheckpoint(eager=True)
    drops = {
        f"{r['stage']}:{r['reason']}": r["n"]
        for r in manifest_final.groupBy("stage", "reason").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    summary = {
        "run_id": run_id,
        "rows_in": n_in,
        "rows_out": n_out,
        "rows_dropped": sum(drops.values()),
        "drops": drops,
        "complete": n_out + sum(drops.values()) == n_in,
    }
    if args.lineage:
        spark.createDataFrame(
            [(run_id, args.snapshot_id, "done", n_in, n_out, float(time.time()))],
            LEDGER,
        ).write.mode("append").parquet(args.lineage)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
