#!/usr/bin/env python
"""Curation job: the full training-data ladder composed from the repo's
operators as ONE production pipeline over a documents-shaped table.

    spark-submit --py-files dist/pdf_extractor_spark.zip jobs/curate_job.py \
        --input /tables/documents --output /tables/curated \
        [--manifest /tables/curated_drops] [--eval-mod 50] [--pack-budget 2048]

Stages (each stage's drops land in the manifest with a reason; kept +
dropped reconciles to the input count — the completeness discipline of the
extraction pipeline's P5 gate):

  0. null     — NULL-text docs dropped as quality:null_text
  1. pii      — pii_columns: redact emails/phones/SSNs/IPs/URLs in place
                (training continues on the REDACTED text; nothing dropped)
  2. quality  — Gopher-style filters: word_repetition (top-word share,
                distinct ratio) + line_repetition_columns (duplicate-line
                fraction) + minimum length; breaching docs dropped
  3. exact    — sha2 over redacted text, keep min id per hash
     barrier  — every input doc, tagged: survivors with their text, drops
                as (stage, reason) only
  4. neardup  — MinHash+LSH pairs -> connected components, keep component
                canonical (min id)
  5. decontam — 8-gram shingle overlap vs the hash-held-out eval split;
                contaminated TRAIN docs dropped (eval docs pass through
                flagged, for downstream eval-set assembly)
     barrier  — (doc_id, is_eval, stage, reason) of the stage-3 survivors
  6. pack     — pack_sequences_distributed: token-budget bin id + offset
                per surviving doc (the training-batch layout)

Scale notes: stages 1-2 are narrow maps + the word-count shuffle; stages
3-5 shuffle on hash/band/shingle keys only (never full text); stage 6 is
the two-pass range-partitioned cumsum (no per-stratum reducer). Each stage
runs once per run: the two localCheckpoint barriers hold stages 0-3 and
4-5, and the curated sink, the manifest sink and the drop census read
them. The first barrier holds the surviving text (the lineage cut the
iterative components stage needs); the second holds ids and tags only.
Nothing collects rows to the driver except the final per-reason summary
counts, and no stage runs Python code, so a run starts no Python worker.

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

    Stages 0-5 run inside this call, once each: two eager localCheckpoint
    barriers hold their results. The first is every input doc tagged
    (survivors with text, stage 0-3 drops as stage and reason); the second
    is (doc_id, is_eval, stage, reason) of the stage-3 survivors for
    near-dup and decontamination. Both returned relations read only those
    barriers, so writing curated and the manifest re-runs no stage but the
    packing.

    ``stage_probe(name, df) -> df``: optional hook called with the surviving
    relation at each stage boundary (pii, quality, exact_dedup, near_dedup,
    decontam, pack). It only attributes cost: the barriers are taken either
    way. A probe that materializes its input (localCheckpoint) gets that
    stage's wall; the pii, quality, exact_dedup, near_dedup and pack probes'
    results feed the next step, the decontam probe's result is unused
    (curated reads the tag barrier). Default None."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    # modules, not functions: minhash_lsh_pairs and near_dup_components are
    # looked up at call time, so a caller can wrap them to time each apart
    from pdf_extractor_spark.operators import dedup
    from pdf_extractor_spark.plans import llm_extras
    from pdf_extractor_spark.plans.catalog_ext import (
        line_repetition_columns,
        pii_columns,
        shingle_decontaminate,
        word_repetition,
    )

    probe = stage_probe or (lambda _name, df: df)

    # 0. account for NULL text up front (round-5 ADVICE fix): the quality
    # stage's word-metric join is an inner join against an exploded
    # split(text,' ') — a NULL text yields NO exploded rows, so the doc
    # would vanish with no manifest entry and break kept+dropped==input.
    # Route NULL-text docs into the manifest with an explicit reason.
    drops = [_tag(docs.where(F.col("text").isNull()), "quality", F.lit("null_text"))]
    docs = docs.where(F.col("text").isNotNull())

    # 1. PII scrub: redact in place (no drops)
    pii = pii_columns(F.col("text"))
    docs = probe("pii", docs.withColumn("text", pii["redacted"]))

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
    drops.append(_tag(feat.where(F.col("drop_reason").isNotNull()), "quality", F.col("drop_reason")))
    docs = probe("quality", feat.where(F.col("drop_reason").isNull()).select("doc_id", "lang", "text"))

    # 3. exact dedup: keep min doc_id per content hash
    w_hash = docs.withColumn("chash", F.sha2(F.col("text"), 256))
    keeper = w_hash.groupBy("chash").agg(F.min("doc_id").alias("keep_id"))
    w_hash = w_hash.join(keeper, "chash")
    drops.append(
        _tag(w_hash.where(F.col("doc_id") != F.col("keep_id")), "exact_dedup", F.lit("duplicate_content"))
    )
    docs = probe("exact_dedup", w_hash.where(F.col("doc_id") == F.col("keep_id")).drop("chash", "keep_id"))

    # the tagged barrier: every input doc once — survivors with their text,
    # stage 0-3 drops as (stage, reason) only. Stages 0-3 run here and
    # nowhere else: the survivors below and the manifest both read it, and
    # it cuts the lineage the pair derivation and components rounds iterate
    # over (without the cut every round re-derives the whole ladder)
    tagged = docs.unionByName(reduce(DataFrame.unionByName, drops), allowMissingColumns=True)
    tagged = tagged.localCheckpoint(eager=True)
    survivors = tagged.where(F.col("stage").isNull()).select("doc_id", "lang", "text")

    # 4. near-dedup: LSH pairs -> components, keep canonical
    pairs = dedup.minhash_lsh_pairs(survivors, threshold=0.9, max_bucket=256)
    comp = llm_extras.near_dup_components(survivors.select("doc_id"), pairs)
    docs = probe("near_dedup", survivors.join(comp.where(F.col("is_canonical")).select("doc_id"), "doc_id"))

    # 5. decontamination vs the hash-held-out eval split
    dec = shingle_decontaminate(docs, F.col("doc_id") % eval_mod == 0)
    probe("decontam", docs.join(dec.where(~F.col("contaminated")).select("doc_id", "is_eval"), "doc_id"))

    # the tag barrier for stages 4-5: ids, eval flags and drop tags of the
    # stage-3 survivors, no text. Curated and the manifest both read it, so
    # neither sink re-runs the pairs, components or decontamination
    tags = _tag(comp.where(~F.col("is_canonical")), "near_dedup", F.lit("near_duplicate")).unionByName(
        dec.select(
            "doc_id",
            "is_eval",
            F.when(F.col("contaminated"), F.lit("decontam")).alias("stage"),
            F.when(F.col("contaminated"), F.lit("eval_overlap")).alias("reason"),
        ),
        allowMissingColumns=True,
    )
    tags = tags.localCheckpoint(eager=True)
    docs = survivors.join(tags.where(F.col("stage").isNull()).select("doc_id", "is_eval"), "doc_id")

    # 6. sequence packing over survivors
    packed = llm_extras.pack_sequences_distributed(docs.select("doc_id", "lang", "text"), budget=pack_budget)
    curated = probe(
        "pack",
        docs.join(packed.drop("lang"), "doc_id").select(
            "doc_id", "lang", "text", "n_tokens", "bin_id", "bin_offset", "is_eval"
        ),
    )

    manifest = tagged.select("doc_id", "stage", "reason").unionByName(tags.select("doc_id", "stage", "reason"))
    return curated, manifest.where(F.col("stage").isNotNull())


def _tag(df, stage: str, reason):
    """Drop rows of one stage: (doc_id, stage, reason), no text."""
    from pyspark.sql import functions as F

    return df.select("doc_id", F.lit(stage).alias("stage"), reason.alias("reason"))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--manifest", default=None)
    p.add_argument("--lineage", default=None, help="curation ledger dir: makes re-runs idempotent")
    p.add_argument("--snapshot-id", default="local")
    p.add_argument("--eval-mod", type=int, default=50)
    p.add_argument("--pack-budget", type=int, default=2048)
    args = p.parse_args()

    import time

    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.lineage import literal_frame, read_commit_table, run_key
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
    curated, manifest = curate(spark, docs, eval_mod=args.eval_mod, pack_budget=args.pack_budget)
    # n_out rides the write via observe() — no re-read of the output
    obs_out = Observation()
    curated = curated.observe(obs_out, F.count(F.lit(1)).alias("n"))
    curated.write.mode("overwrite").parquet(args.output)
    n_out = obs_out.get["n"]
    # the manifest reads curate()'s two barriers only: writing it and
    # counting it re-run no stage, so the census describes the written rows
    if args.manifest:
        manifest.write.mode("overwrite").parquet(args.manifest)
    drops = {
        f"{r['stage']}:{r['reason']}": r["n"]
        for r in manifest.groupBy("stage", "reason").agg(F.count(F.lit(1)).alias("n")).collect()
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
        row = (run_id, args.snapshot_id, "done", n_in, n_out, float(time.time()))
        literal_frame(spark, LEDGER, row).write.mode("append").parquet(args.lineage)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
