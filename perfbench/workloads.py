"""The benchmark's workloads and the per-layer measurements taken on them.

Every workload runs the shipped code paths: ``run_incremental`` called as
``jobs/extract_job.py`` calls it, and ``jobs/curate_job.py``'s ``main``.
``measure`` runs the workload's operation in a closed loop (one caller, the
next run starts when the previous one returns) and records end-to-end
samples; with tracing on it also records spans around each call.
``layers`` adds the per-layer measurements of the traced run.
``warmup_iters`` untimed iterations under the tag ``warmup`` come first.

A fresh JVM runs its first iterations up to 1.7x slower (JIT,
first-execution set-up) and still speeds up by a few percent per iteration
after that. So the timed part is a fixed number of iterations, the run's
seconds over the workload's ``iteration_s`` (one warm iteration's wall on
a 4-core host), not a time window: with a window, a slow stretch of the
host would also cut the iterations and leave the samples less warm,
compounding the slowdown.
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

from . import checks, eventlog, inputs
from .spans import Tracer

FRESH_TURNS = 16_000  # the backfill, over 64 files
TICK_TURNS = 1_500  # one conversation, one file, one row group per tick
CURATE_DOCS = 1_500
SETUP_TURNS = 40
TICKS = 1  # ticks after each backfill, each with its own new file
RESUMES = 2  # resumes after each committing run: backfill, tick, curation

FAMILIES = (
    "chase_visa", "chase_checking", "bofa_bank", "bofa_visa", "amazon_invoice",
    "amazon_history", "csv_apple_card", "chase_visa_csv", "capitalone_print",
    "wf_mastercard", "wf_visa", "first_republic", "wf_bank_layout", "amazon_order",
    "csv_capitalone", "wf_bank_csv", "csv_wf_checking", "noisy_desc", "date_edges",
    "ledger_rows", "html_page", "freeform",
)
CURATE_STAGES = ("pii", "quality", "exact_dedup", "near_dedup", "decontam", "pack")

# name -> unit; the end-to-end metrics every workload reports untraced
END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "items_per_s": "items/s",
    "noop_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_turn_s": "s",
    "host.peak_rss_mb": "MB",
    "host.jvm_peak_rss_mb": "MB",
    "host.python_peak_rss_mb": "MB",
    "rules.doctype.us_per_turn": "us",
    **{f"rules.doctype.turns.{f}": "count" for f in FAMILIES},
    **{f"rules.extractors.us_per_turn.{f}": "us" for f in FAMILIES},
    "rules.extractors.records": "count",
    "rules.oracle.us_per_turn": "us",
    "rules.oracle.glue_us_per_turn": "us",
    "rules.oracle.quarantined": "count",
    "rules.oracle.valid_frac": "ratio",
    "operators.extract.turns_per_s": "turns/s",
    "spark.python.run_s": "s",
    "spark.python.start_s": "s",
    "spark.python.bytes_sent": "bytes",
    "spark.python.bytes_returned": "bytes",
    "operators.lineage.pending_s": "s",
    "operators.lineage.files_listed": "count",
    "operators.lineage.files_pending": "count",
    "operators.lineage.spark_jobs": "count",
    "operators.lineage.write_bytes": "bytes",
    "operators.lineage.task_commit_s": "s",
    "operators.order.salted": "bool",
    "operators.order.shuffle_bytes": "bytes",
    "operators.order.fetch_wait_s": "s",
    "operators.order.task_skew": "ratio",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.scan_s": "s",
    "spark.input_bytes": "bytes",
    "plans.catalog_ext.pii_s": "s",
    "plans.catalog_ext.quality_s": "s",
    "jobs.curate_job.exact_dedup_s": "s",
    "operators.dedup.minhash_lsh_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "plans.llm_extras.components_s": "s",
    "plans.llm_extras.components_jobs": "count",
    "plans.catalog_ext.decontam_s": "s",
    "plans.llm_extras.pack_s": "s",
    **{f"jobs.curate_job.kept.{s}": "count" for s in CURATE_STAGES},
    "trace.overhead_s": "s",
}


@dataclass
class Run:
    """State of one benchmark invocation, passed to every workload step."""

    work: Path
    cache: Path
    seed: int
    seconds: float
    cores: int
    tracer: Tracer = field(default_factory=lambda: Tracer(enabled=False))
    eventlog_dir: Path | None = None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    layer: dict[str, float] = field(default_factory=dict)
    job_spans: list = field(default_factory=list)  # (kind, span) of the traced job calls
    iterations: int = 0  # across every loop of the run: names each iteration's outputs

    def traced_job(self, kind: str, span) -> None:
        """Keep a traced job call's span ("job": a first full run, "tick": a
        run with one new file): the event-log window of that call."""
        if span is not None:
            self.job_spans.append((kind, span))

    def outcome(self, what: str, problems: list[str]) -> bool:
        """Count one attempted operation; a problem marks it failed."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems]
        return not problems

    def session(self, app: str):
        from pdf_extractor_spark.session import get_spark

        conf = {}
        if self.eventlog_dir is not None:
            self.eventlog_dir.mkdir(parents=True, exist_ok=True)
            conf = {**eventlog.EVENTLOG_CONF, "spark.eventLog.dir": self.eventlog_dir.as_uri()}
        return get_spark(app, master=f"local[{self.cores}]", extra_conf=conf)

    def timed(self, name: str, fn, *args, **kwargs):
        with self.tracer.span(name) as span:
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            dt = time.perf_counter() - t0
        return out, dt, span

    def timed_iters(self, iteration_s: float) -> int:
        """Timed iterations for the run's seconds, at ``iteration_s`` each."""
        return max(1, round(self.seconds / iteration_s))

    def loop(self, body, iters: int) -> None:
        """Closed loop: run ``body(i)`` ``iters`` times; ``i`` numbers
        iterations across the whole run. ``body`` returns False to stop early."""
        for _ in range(iters):
            self.iterations += 1
            if body(self.iterations) is False:
                break


def setup(run: Run, app: str):
    """Fresh process -> job modules imported -> get_spark -> first
    run_incremental over one tiny file: the fixed cost every job submission
    pays (JVM start, Python worker spawn, rule import and regex compile)."""
    tiny = inputs.conversation(run.cache, "setup", SETUP_TURNS, run.seed)
    t0 = time.perf_counter()
    from pdf_extractor_spark.operators.lineage import run_incremental, run_key

    spark = run.session(app)
    t1 = time.perf_counter()
    summary = run_incremental(
        spark, str(tiny), str(run.work / "setup_out"), str(run.work / "setup_lineage"),
        run_id=run_key(str(tiny), "local"),
    )
    t2 = time.perf_counter()
    run.outcome("setup run", [] if summary == {"files": 1, "rows": SETUP_TURNS} else [str(summary)])
    run.samples["setup_s"].append(t2 - t0)
    run.layer["session.get_spark_s"] = t1 - t0
    run.layer["session.first_turn_s"] = t2 - t1
    return spark


def incremental(run: Run, spark, input_dir: Path, out: Path, lineage: Path, name: str):
    """One run_incremental call with the arguments jobs/extract_job.py uses."""
    from pdf_extractor_spark.operators.lineage import run_incremental, run_key

    return run.timed(
        name, run_incremental, spark, str(input_dir), str(out), str(lineage),
        run_id=run_key(str(input_dir), "local"), snapshot_id="local", salt_partitions="auto",
    )


def _pending(run: Run, spark, input_dir: Path, lineage: Path) -> None:
    """Traced only: the listing + anti-join a job run starts with."""
    if not run.tracer.enabled:
        return
    from pdf_extractor_spark.operators.lineage import list_input_files, pending_files

    n, dt, _ = run.timed("operators.lineage.pending_files", lambda: pending_files(
        spark, str(input_dir), str(lineage)).count())
    run.samples["layer.pending_s"].append(dt)
    run.samples["layer.files_pending"].append(n)
    run.samples["layer.files_listed"].append(list_input_files(spark, str(input_dir)).count())


class ExtractJob:
    """The extract job as a schedule sees it. Each iteration: a backfill of
    a 64-file corpus of all 22 families into empty output and lineage (rules
    and the Python UDF dominate; the input is well split, so auto-salt is
    bypassed) gives ``items_per_s``; resumes that must find nothing give
    ``noop_s``; then ticks, each committing one new file holding one
    conversation in one row group (listing, anti-join, output re-read and
    commit dominate; the file is under-split, so auto-salt fires), give
    ``job_s``, each followed by more resumes."""

    name = "extract_job"
    item = "turns"
    # the first backfill is ~1.7x a warm one, the second still ~1.2x, and
    # resumes and ticks need about as long to settle; later iterations gain
    # a few percent each, the same in every run since they are counted
    warmup_iters = 2
    iteration_s = 6.0  # backfill ~3.2 s, tick ~2.1 s, four resumes ~0.35 s each

    def prepare(self, run: Run) -> None:
        self.corpus = inputs.corpus(run.cache, FRESH_TURNS, run.seed)
        self.ticks = [
            next(inputs.conversation(run.cache, f"tick{k}", TICK_TURNS, run.seed).glob("*.parquet"))
            for k in range(TICKS)
        ]
        self.texts = inputs.read_texts([self.corpus, *self.ticks])

    def _resumes(self, run: Run, spark, n: int, tag: str) -> bool:
        ok = True
        for _ in range(n):
            s, dt, _ = incremental(run, spark, *self.table, "operators.lineage.run_incremental.resume")
            ok &= run.outcome("resume", [] if s == {"files": 0, "rows": 0} else [f"resume {s}"])
            run.samples[f"{tag}.noop_s"].append(dt)
        return ok

    def measure(self, run: Run, spark, tag: str, iters: int) -> None:
        def body(i: int):
            if hasattr(self, "table"):  # keep only the table the final check reads
                shutil.rmtree(self.table[0].parent)
            table = run.work / f"table{i}"
            shutil.copytree(self.corpus, table / "input", ignore=shutil.ignore_patterns("_*"))
            self.table = (table / "input", table / "output", table / "lineage")
            want = {"files": 64, "rows": FRESH_TURNS}
            with run.tracer.span("iteration", i=i):
                s, dt, span = incremental(run, spark, *self.table, "operators.lineage.run_incremental")
                run.traced_job("job", span)
                ok = run.outcome("backfill", [] if s == want else [f"backfill {s} != {want}"])
                run.samples[f"{tag}.full_s"].append(dt)
                run.samples[f"{tag}.items_per_s"].append(s.get("rows", 0) / dt)
                ok &= self._resumes(run, spark, RESUMES, tag)
                for tick in self.ticks:
                    shutil.copy(tick, self.table[0] / tick.name)
                    _pending(run, spark, self.table[0], self.table[2])
                    s, dt, span = incremental(run, spark, *self.table,
                                              "operators.lineage.run_incremental")
                    run.traced_job("tick", span)
                    want = {"files": 1, "rows": TICK_TURNS}
                    ok &= run.outcome("tick", [] if s == want else [f"tick {s} != {want}"])
                    run.samples[f"{tag}.job_s"].append(dt)
                    ok &= self._resumes(run, spark, RESUMES, tag)
            return ok

        run.loop(body, iters)

    def check(self, run: Run) -> None:
        inp, out, lin = self.table
        files = sorted(p.name for p in inp.glob("*.parquet"))
        run.outcome("turns vs oracle", checks.check_turns(out, self.texts))
        run.outcome("lineage", checks.check_lineage(lin, files, len(self.texts)))

    def layers(self, run: Run, spark) -> None:
        rules_layer(run, list(self.texts.values()))
        extract_layer(run, spark, self.corpus, FRESH_TURNS)


class CurateLadder:
    """jobs/curate_job.py's main over documents with designed drop classes,
    then the same invocation again, twice, which its ledger must skip.
    Curation is snapshot-global, so each scheduled run is a full run:
    ``job_s`` is its wall and ``items_per_s`` its documents per second."""

    name = "curate_ladder"
    item = "docs"
    warmup_iters = 1  # the first call is ~1.5x a warm one, the second is warm
    # nearly all of a warm call's ~13 s is fixed per-job cost, and
    # consecutive warm calls differ by ~4%, far less than the host drifts
    # between runs: one timed call is enough at the usual run seconds
    iteration_s = 15.0

    def prepare(self, run: Run) -> None:
        self.docs = inputs.curate_docs(run.cache, CURATE_DOCS, run.seed)

    def _main(self, run: Run, input_dir: Path, out: Path, name: str):
        from jobs import curate_job

        argv = [
            "curate_job.py", "--input", str(input_dir),
            "--output", str(out / "curated"), "--manifest", str(out / "manifest"),
            "--lineage", str(out.parent / "ledger"),
        ]
        buf = io.StringIO()
        old_argv = sys.argv
        sys.argv = argv
        try:
            with run.tracer.span(name) as span, contextlib.redirect_stdout(buf):
                t0 = time.perf_counter()
                if run.eventlog_dir is not None:
                    run.session("curate_job")  # main() reuses it: the event log covers the job
                curate_job.main()
                dt = time.perf_counter() - t0
        finally:
            sys.argv = old_argv
        lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
        return (json.loads(lines[-1]) if lines else {}), dt, span

    def measure(self, run: Run, spark, tag: str, iters: int) -> None:
        if spark is not None:
            spark.stop()  # each main() call builds and stops its own session

        def body(i: int):
            root = run.work / f"curate{i}"
            inp = root / "input"
            shutil.copytree(self.docs, inp, ignore=shutil.ignore_patterns("_*"))
            with run.tracer.span("iteration", i=i):
                s, dt, span = self._main(run, inp, root / "first", "jobs.curate_job.main")
                run.traced_job("job", span)
                ok = run.outcome("curate", checks.check_curate(
                    s, inputs.curate_classes(CURATE_DOCS), root / "first" / "curated"))
                run.samples[f"{tag}.full_s"].append(dt)
                run.samples[f"{tag}.job_s"].append(dt)
                run.samples[f"{tag}.items_per_s"].append(s.get("rows_in", 0) / dt)

                for k in range(RESUMES):
                    s, dt, _ = self._main(run, inp, root / f"again{k}", "jobs.curate_job.main.resume")
                    ok &= run.outcome("curate resume", [] if s.get("skipped") else [f"resume {s}"])
                    run.samples[f"{tag}.noop_s"].append(dt)
            shutil.rmtree(root, ignore_errors=True)
            return ok

        run.loop(body, iters)

    def check(self, run: Run) -> None:
        pass  # every run's output is checked as soon as it is written

    def layers(self, run: Run, spark) -> None:
        curate_layer(run, self.docs)


WORKLOADS = {w.name: w for w in (ExtractJob, CurateLadder)}


def rules_layer(run: Run, texts: list[str | None]) -> None:
    """Rule layers timed in-process over the workload's own texts: family
    detection, each family's extractor, and the batch oracle; the glue is
    what the batch spends beyond detection and extraction."""
    from pdf_extractor_spark.rules.doctype import detect_family
    from pdf_extractor_spark.rules.extractors import EXTRACTORS
    from pdf_extractor_spark.rules.oracle import extract_turn_batch

    texts = [t for t in texts if t is not None]
    n = max(1, len(texts))
    with run.tracer.span("rules.doctype.detect_family"):
        t0 = time.perf_counter()
        fams = [detect_family(t) for t in texts]
        detect = time.perf_counter() - t0
    groups: dict[str, list[str]] = defaultdict(list)
    for f, t in zip(fams, texts):
        groups[f].append(t)
    extract_total, records = 0.0, 0
    for f in FAMILIES:
        group = groups.get(f, [])
        with run.tracer.span(f"rules.extractors.{f}"):
            t0 = time.perf_counter()
            results = [EXTRACTORS[f](t) for t in group]
            dt = time.perf_counter() - t0
        extract_total += dt
        records += sum(len(r.records) for r in results)
        run.layer[f"rules.doctype.turns.{f}"] = len(group)
        run.layer[f"rules.extractors.us_per_turn.{f}"] = dt / len(group) * 1e6 if group else 0.0
    with run.tracer.span("rules.oracle.extract_turn_batch"):
        t0 = time.perf_counter()
        batch = extract_turn_batch(texts)
        batch_s = time.perf_counter() - t0
    run.layer["rules.doctype.us_per_turn"] = detect / n * 1e6
    run.layer["rules.extractors.records"] = records
    run.layer["rules.oracle.us_per_turn"] = batch_s / n * 1e6
    run.layer["rules.oracle.glue_us_per_turn"] = (batch_s - detect - extract_total) / n * 1e6
    run.layer["rules.oracle.quarantined"] = sum(r.rule_hits.get("p5_quarantined", 0) for r in batch)
    run.layer["rules.oracle.valid_frac"] = sum(r.valid for r in batch) / n


def extract_layer(run: Run, spark, input_dir: Path, n_turns: int) -> None:
    """extract_turns into a noop sink over the same corpus: the operator
    alone, without listing, write, metrics or commit."""
    from pdf_extractor_spark.operators.extract import extract_turns
    from pdf_extractor_spark.schema import TRANSCRIPTS

    rates = []
    for _ in range(2):
        df = extract_turns(spark.read.schema(TRANSCRIPTS).parquet(str(input_dir)))
        _, dt, _ = run.timed("operators.extract.extract_turns",
                             lambda: df.write.format("noop").mode("overwrite").save())
        rates.append(n_turns / dt)
    run.layer["operators.extract.turns_per_s"] = statistics.median(rates)


def curate_layer(run: Run, docs_dir: Path) -> None:
    """One staged ladder through ``curate(stage_probe=...)``: each probe
    materializes its stage (localCheckpoint) so its wall is that stage's
    cost. MinHash pairs are materialized on their own to split them from
    the components propagation, which runs its rounds while the plan is
    built."""
    from jobs.curate_job import curate
    from pdf_extractor_spark.operators import dedup
    from pdf_extractor_spark.plans import llm_extras

    spark = run.session("curate_job")
    walls: dict[str, float] = {}
    real_pairs, real_components = dedup.minhash_lsh_pairs, llm_extras.near_dup_components

    def pairs(*args, **kwargs):
        with run.tracer.span("operators.dedup.minhash_lsh_pairs") as span:
            out = real_pairs(*args, **kwargs).localCheckpoint(eager=True)
            run.layer["operators.dedup.candidate_pairs"] = out.count()
        walls["minhash"] = span.duration
        return out

    def components(*args, **kwargs):
        with run.tracer.span("plans.llm_extras.near_dup_components") as span:
            out = real_components(*args, **kwargs)
        walls["components"] = span.duration
        walls["components_window"] = (span.wall_start, span.wall_start + span.duration)
        return out

    def probe(name: str, df):
        with run.tracer.span(f"jobs.curate_job.stage.{name}") as span:
            out = df.localCheckpoint(eager=True)
            run.layer[f"jobs.curate_job.kept.{name}"] = out.count()
        walls[name] = span.duration
        return out

    dedup.minhash_lsh_pairs, llm_extras.near_dup_components = pairs, components
    try:
        with run.tracer.span("jobs.curate_job.curate"):
            curate(spark, spark.read.parquet(str(docs_dir)), stage_probe=probe)
    finally:
        dedup.minhash_lsh_pairs, llm_extras.near_dup_components = real_pairs, real_components
    spark.stop()
    run.layer["plans.catalog_ext.pii_s"] = walls["pii"]
    run.layer["plans.catalog_ext.quality_s"] = walls["quality"]
    run.layer["jobs.curate_job.exact_dedup_s"] = walls["exact_dedup"]
    run.layer["operators.dedup.minhash_lsh_s"] = walls["minhash"]
    # the pairs are built inside the components call; their wall is reported apart
    # curate() builds the pairs before it calls near_dup_components, so the
    # components span holds only the propagation rounds
    run.layer["plans.llm_extras.components_s"] = walls["components"] + walls["near_dedup"]
    run.layer["plans.catalog_ext.decontam_s"] = walls["decontam"]
    run.layer["plans.llm_extras.pack_s"] = walls["pack"]
    run.samples["layer.components_window"] = list(walls["components_window"])


def eventlog_layers(run: Run) -> None:
    """Per-layer Spark counters from the event log the traced sessions wrote,
    per traced job call (median over calls): executor and Python-worker
    counters from first full runs, lineage and ordering counters from ticks."""
    log = eventlog.read_dir(run.eventlog_dir)
    per_call = defaultdict(list)
    for kind, span in run.job_spans:
        w = log.window(span.wall_start, span.wall_start + span.duration)
        c = eventlog.counters(w)
        if kind == "job":
            for name, key in (
                ("spark.python.run_s", "python_run_s"),
                ("spark.python.start_s", "python_start_s"),
                ("spark.python.bytes_sent", "python_bytes_sent"),
                ("spark.python.bytes_returned", "python_bytes_returned"),
                ("spark.tasks", "tasks"),
                ("spark.executor_run_s", "executor_run_s"),
                ("spark.executor_cpu_s", "executor_cpu_s"),
                ("spark.gc_s", "gc_s"),
                ("spark.spill_bytes", "spill_bytes"),
                ("spark.scan_s", "scan_s"),
                ("spark.input_bytes", "input_bytes"),
            ):
                per_call[name].append(c[key])
        else:
            plans = " ".join(p for _, p in w.plans)
            per_call["operators.lineage.spark_jobs"].append(c["jobs"])
            per_call["operators.lineage.write_bytes"].append(c["output_bytes"])
            per_call["operators.lineage.task_commit_s"].append(c["task_commit_s"])
            # the salted repartition is the only repartition-by-number exchange
            per_call["operators.order.salted"].append(float("REPARTITION_BY_NUM" in plans))
            per_call["operators.order.shuffle_bytes"].append(c["shuffle_write_bytes"])
            per_call["operators.order.fetch_wait_s"].append(c["fetch_wait_s"])
            per_call["operators.order.task_skew"].append(eventlog.python_stage_skew(w))
    for name, values in per_call.items():
        run.layer[name] = statistics.median(values)
    window = run.samples.get("layer.components_window")
    if window:
        run.layer["plans.llm_extras.components_jobs"] = len(log.window(*window).job_starts)
    for key, name in (("pending_s", "operators.lineage.pending_s"),
                      ("files_pending", "operators.lineage.files_pending"),
                      ("files_listed", "operators.lineage.files_listed")):
        values = run.samples.get(f"layer.{key}")
        if values:
            run.layer[name] = statistics.median(values)
