#!/usr/bin/env python3
"""The repo benchmark: the shipped extraction and curation jobs, end to end
(untraced) or per layer (traced), on one seeded workload per invocation.

    python3 perfbench/run.py --workload extract_job --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0

Run from anywhere; paths resolve from this file. Inputs are generated from
the seed into ``.perfbench_work/cache`` at the repository root, every run
works in its own directory under ``.perfbench_work/runs`` (removed at the
end) and leaves its record (host, samples, spans) in
``.perfbench_work/results``. Every output is checked; the last stdout line
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``, and
the exit code is 1 when a check failed, 2 when the program is missing.
See perfbench/README.md for the metrics and the layer map.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"  # cache, per-run directories and results
PROGRAM = ("pdf_extractor_spark/__init__.py", "jobs/extract_job.py", "jobs/curate_job.py",
           "scripts/make_pyfiles.py")
WORKLOAD_NAMES = ("extract_job", "curate_ladder")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def summarize(values: list[float]) -> str:
    """Median, plus the highest percentile with at least ten samples beyond
    it, and the sample count."""
    n = len(values)
    text = f"median over n={n}"
    for pct in (99.0, 90.0, 50.0):
        if n * (1 - pct / 100) >= 10:
            q = statistics.quantiles(values, n=100, method="inclusive")[int(pct) - 1]
            return f"{text}; p{pct:g}={q:.4g}"
    return text + "; no tail percentile has 10 samples beyond it"


def _environment(work: Path, cores: int) -> None:
    """Spark, its Python workers and temp files stay inside the checkout;
    workers import the program from the repository root."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_MASTER"] = f"local[{cores}]"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()


def stop_session() -> None:
    """Stop the active session; the JVM stays up for the next one."""
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()


def stop_spark() -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    stop_session()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _program_hash() -> str:
    h = hashlib.sha256()
    files = sorted((ROOT / "pdf_extractor_spark").rglob("*.py"))
    files += [ROOT / "jobs" / "extract_job.py", ROOT / "scripts" / "make_pyfiles.py"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def shipped_entry_check(run, spark) -> str:
    """Untimed, once per program version in this checkout: build the
    --py-files zip, run the real spark-submit of jobs/extract_job.py on the
    extract_job corpus from a clean directory, and require its summary
    and committed output to equal an in-process run_incremental."""
    import pyarrow.dataset as ds

    from pdf_extractor_spark.operators.lineage import run_key
    from perfbench import checks, inputs, workloads

    stamp = run.cache / f"shipped-entry-{_program_hash()}.ok"
    if stamp.exists():
        return f"passed earlier in this checkout ({stamp.name})"
    base = inputs.corpus(run.cache, workloads.FRESH_TURNS, run.seed)
    ship = run.work / "shipped"
    (ship / "cwd").mkdir(parents=True)
    zip_path = ship / "pdf_extractor_spark.zip"
    subprocess.run([sys.executable, str(ROOT / "scripts" / "make_pyfiles.py"), str(zip_path)],
                   check=True, capture_output=True, timeout=60)
    submit = shutil.which("spark-submit") or str(
        Path(__import__("pyspark").__file__).parent / "bin" / "spark-submit")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env["PYTHONPATH"].split(os.pathsep) if Path(p).resolve() != ROOT)
    proc = subprocess.run(
        [submit, "--master", f"local[{run.cores}]", "--py-files", str(zip_path),
         str(ROOT / "jobs" / "extract_job.py"), "--input", str(base),
         "--output", str(ship / "out"), "--lineage", str(ship / "lineage")],
        cwd=ship / "cwd", env=env, capture_output=True, text=True, timeout=170,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    problems = [] if proc.returncode == 0 and lines else [
        f"spark-submit exit {proc.returncode}: {proc.stderr[-800:]}"]
    if not problems:
        want, _, _ = workloads.incremental(run, spark, base, ship / "ref_out",
                                            ship / "ref_lineage", "shipped_entry.reference")
        got = json.loads(lines[-1])
        if got != {"run_id": run_key(str(base), "local"), **want}:
            problems.append(f"summary {got} != in-process {want}")

        def rows(path: Path) -> list[dict]:
            t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
                columns=["src_key", *checks.TURN_FIELDS])
            return t.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")]).to_pylist()

        if rows(ship / "out") != rows(ship / "ref_out"):
            problems.append("spark-submit output differs from the in-process output")
    run.outcome("shipped entry", problems)
    if problems:
        return "FAILED"
    stamp.write_text(json.dumps({"summary": json.loads(lines[-1])}))
    return "passed"


def run_workload(args) -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench import host, workloads

    cores = host.nproc()
    base = WORK
    work = base / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _environment(work, cores)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "master": f"local[{cores}]", "host_start": host.host_record()}
    run = workloads.Run(work=work, cache=base / "cache", seed=args.seed,
                        seconds=args.seconds, cores=cores)
    wl = workloads.WORKLOADS[args.workload]()
    peak = host.PeakRss()
    phases = record["phases_s"] = {}
    mark = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - mark[0]
        mark[0] = now

    try:
        wl.prepare(run)
        phase("prepare")
        spark = workloads.setup(run, "extract_job")
        phase("setup")
        wl.measure(run, spark, "warmup", iters=wl.warmup_iters)  # untimed, checked
        phase("warmup")
        if not args.trace:
            wl.measure(run, spark, "e2e", iters=run.timed_iters(wl.iteration_s))
        else:
            # the layer probes run on the warm JVM; then as many untraced and
            # traced iterations as the untraced run times, alternating in
            # pairs (AB, BA, ...) so the few percent later iterations still
            # gain from JVM warm-up weigh on both alike; each on a fresh
            # session. The event log is on only for the traced ones; the wall
            # difference is the tracing overhead.
            stop_session()
            run.eventlog_dir, run.tracer.enabled = work / "eventlog", True
            wl.layers(run, run.session("extract_job"))
            with peak:
                pairs = (("e2e", "traced"), ("traced", "e2e"))
                n = run.timed_iters(wl.iteration_s)
                for tag in [t for k in range(n) for t in pairs[k % 2]]:
                    stop_session()
                    run.tracer.enabled = tag == "traced"
                    run.eventlog_dir = work / "eventlog" if run.tracer.enabled else None
                    wl.measure(run, run.session("extract_job"), tag, iters=1)
            stop_session()
            run.eventlog_dir = work / "eventlog"
            workloads.eventlog_layers(run)
            run.layer["trace.overhead_s"] = (statistics.median(run.samples["traced.full_s"])
                                             - statistics.median(run.samples["e2e.full_s"]))
            run.layer["host.peak_rss_mb"] = peak.peak / 2**20
            run.layer["host.jvm_peak_rss_mb"] = peak.peak_by_kind["java"] / 2**20
            run.layer["host.python_peak_rss_mb"] = peak.peak_by_kind["other"] / 2**20
        phase("measure")
        if args.workload != "curate_ladder":
            record["shipped_entry"] = shipped_entry_check(run, run.session("extract_job"))
            phase("shipped_entry")
        wl.check(run)
        phase("check")
    except Exception:
        run.outcome("run", [traceback.format_exc(limit=8)])
    finally:
        stop_spark()
        record["stray_processes"] = host.reap_children()
        phase("stop")
    record["host_end"] = host.host_record()

    if args.trace:
        units = workloads.PER_LAYER
        values = {name: float(run.layer.get(name, 0.0)) for name in units}
        counts = {}
    else:
        units = workloads.END_TO_END
        counts = {name: run.samples["setup_s" if name == "setup_s" else f"e2e.{name}"]
                  for name in units}
        values = {name: statistics.median(v or [0.0]) for name, v in counts.items()}
    print(f"# {args.workload} seed={args.seed} {record['master']} item={wl.item} "
          f"load {record['host_start']['loadavg']} -> {record['host_end']['loadavg']} "
          f"spin {record['host_start']['spin_s']:.3f}s -> {record['host_end']['spin_s']:.3f}s "
          f"shipped_entry={record.get('shipped_entry', 'not run')}")
    for name, value in values.items():
        note = summarize(counts[name]) if name in counts else ""
        print(f"{name:45s} {value:14.6g} {units[name]:8s} {note}")
    error_rate = run.failed / max(1, run.attempted)
    print(f"{'error_rate':45s} {error_rate:14.6g} {'ratio':8s} "
          f"{run.failed} failed of {run.attempted} operations")
    for p in run.problems:
        print(f"# problem: {p}")

    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    record.update(samples=run.samples, layer=run.layer, problems=run.problems,
                  spans=run.tracer.to_json(), metrics=values)
    (results / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str))
    shutil.rmtree(work, ignore_errors=True)
    correct = run.failed == 0 and run.attempted > 0
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in turn, each in its own process; the last line
    merges them with workload-prefixed metric names."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        result = json.loads(lines[-1]) if lines else {"correct": False, "attempted": 1,
                                                      "failed": 1, "metrics": {}}
        merged["correct"] &= result["correct"]
        merged["attempted"] += result["attempted"]
        merged["failed"] += result["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in result["metrics"].items()})
        code = code or proc.returncode
    print(json.dumps(merged))
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in PROGRAM if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: the program is not here (missing {', '.join(missing)})", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
