"""Correctness checks on what the jobs committed. Each returns a list of
problems (empty = correct); outputs are read with pyarrow, not Spark."""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.dataset as ds

from .inputs import CurateClasses

TURN_FIELDS = (
    "conv_id", "turn_idx", "family", "extracted_text", "spans",
    "rule_hits", "n_records", "valid", "problem_reason",
)


def _row_tuples(arr, children) -> list[list[tuple]]:
    """Per-row lists of tuples from a list or map array, built from its flat
    child arrays: far cheaper than ``to_pylist``'s per-row dicts."""
    offsets = arr.offsets.to_pylist()
    flat = list(zip(*(c.to_pylist() for c in children)))
    return [flat[offsets[i]:offsets[i + 1]] for i in range(len(arr))]


def check_turns(out_dir: Path, texts: dict[tuple[str, int], str | None]) -> list[str]:
    """Every committed turn equals ``rules.oracle.extract_turn(text)`` in all
    nine output fields, compared under (conv_id, turn_idx) order, and the
    committed keys are exactly the input keys."""
    from pdf_extractor_spark.rules.oracle import extract_turn

    table = ds.dataset(out_dir, format="parquet", partitioning="hive").to_table(
        columns=list(TURN_FIELDS)
    )
    table = table.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    cols = {f: table.column(f).to_pylist() for f in TURN_FIELDS if f not in ("spans", "rule_hits")}
    spans = table.column("spans").combine_chunks()
    cols["spans"] = _row_tuples(spans, [spans.values.field(k) for k in ("start", "end", "kind")])
    hits = table.column("rule_hits").combine_chunks()
    cols["rule_hits"] = _row_tuples(hits, [hits.keys, hits.items])
    keys = list(zip(cols["conv_id"], cols["turn_idx"]))
    problems = []
    if len(keys) != len(set(keys)):
        problems.append(f"duplicate turns: {len(keys) - len(set(keys))}")
    if set(keys) != set(texts):
        problems.append(
            f"turn keys differ: {len(set(texts) - set(keys))} missing, "
            f"{len(set(keys) - set(texts))} unexpected"
        )
    bad = 0
    for i, key in enumerate(keys):
        if key not in texts:
            continue
        r = extract_turn(texts[key])
        got = (
            cols["family"][i],
            cols["extracted_text"][i],
            cols["spans"][i],
            dict(cols["rule_hits"][i]),
            cols["n_records"][i],
            cols["valid"][i],
            cols["problem_reason"][i],
        )
        want = (r.family, r.extracted_text, list(r.spans), r.rule_hits, r.n_records,
                r.valid, r.problem_reason)
        if got != want:
            if bad < 3:
                problems.append(f"turn {key} differs from the oracle")
            bad += 1
    if bad:
        problems.append(f"{bad} turns differ from the oracle")
    return problems


def check_lineage(lineage_dir: Path, file_names: list[str], n_turns: int) -> list[str]:
    """One ``done`` lineage row per input file; row counts sum to the input."""
    t = ds.dataset(lineage_dir, format="parquet").to_table()
    done = t.filter(pc.equal(t.column("status"), "done"))
    per_file = Counter(done.column("partition_range").to_pylist())
    problems = []
    if set(per_file) != set(file_names) or any(n != 1 for n in per_file.values()):
        problems.append(
            f"lineage rows: {len(per_file)} files for {len(file_names)} inputs, "
            f"max {max(per_file.values(), default=0)} per file"
        )
    total = pc.sum(done.column("row_count")).as_py() or 0
    if total != n_turns:
        problems.append(f"lineage row_count sum {total} != {n_turns} input turns")
    return problems


def check_curate(summary: dict, classes: CurateClasses, out_dir: Path) -> list[str]:
    """The run reconciles (kept + dropped == input), its drop census matches
    the corpus's unambiguous classes, and no e-mail survives redaction.
    Near-dup detection is MinHash-probabilistic: a missed near duplicate may
    instead be caught by decontamination, so those two are bounded."""
    d = summary.get("drops", {})
    problems = []
    if not summary.get("complete") or summary.get("rows_in") != classes.n_docs:
        problems.append(f"curation incomplete: {summary}")
    exact = {
        "quality:too_short": classes.too_short,
        "quality:dominant_token": classes.dominant_token,
        "exact_dedup:duplicate_content": classes.duplicate_content,
    }
    for key, want in exact.items():
        if d.get(key, 0) != want:
            problems.append(f"{key}: {d.get(key, 0)} != {want}")
    unexpected = set(d) - set(exact) - {"near_dedup:near_duplicate", "decontam:eval_overlap"}
    if unexpected:
        problems.append(f"unexpected drop reasons: {sorted(unexpected)}")
    near = d.get("near_dedup:near_duplicate", 0)
    missed = classes.near_dup_prey - near
    if not 0 <= missed <= classes.near_dup_prey // 10:
        problems.append(f"near_dedup {near} of {classes.near_dup_prey} designed near duplicates")
    decon = d.get("decontam:eval_overlap", 0)
    if not classes.eval_overlap_prey <= decon <= classes.eval_overlap_prey + max(missed, 0):
        problems.append(f"decontam {decon}, designed {classes.eval_overlap_prey}")
    out = ds.dataset(out_dir, format="parquet").to_table(columns=["text"])
    if out.num_rows != summary.get("rows_out"):
        problems.append(f"curated rows {out.num_rows} != reported {summary.get('rows_out')}")
    leaked = pc.sum(pc.match_substring(out.column("text"), "@example.com")).as_py() or 0
    if leaked:
        problems.append(f"{leaked} curated docs still hold an e-mail address")
    return problems
