"""Seeded benchmark inputs, written as parquet under the benchmark's cache.

Transcripts come from ``pdf_extractor_spark.sources.synth`` (its power-law
``generate_transcripts`` and its ``FAMILY_GENERATORS`` mix); the curation
documents follow the designed classes of ``bench.py``'s curation corpus.
The same seed gives the same bytes. A cache entry is keyed by the kind, the
size, the seed and a hash of the generator sources (synth plus this file),
so a changed generator never serves stale inputs. The program only ever
sees the parquet files.
"""

from __future__ import annotations

import hashlib
import inspect
import random
import shutil
import zlib
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

TRANSCRIPT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)

_ROLES = ("user", "assistant", "tool")


def source_hash() -> str:
    from pdf_extractor_spark.sources import synth

    h = hashlib.sha256(inspect.getsource(synth).encode())
    h.update(Path(__file__).read_bytes())
    return h.hexdigest()[:12]


def _cached(cache: Path, key: str, build) -> Path:
    """Return cache/key, building it with ``build(tmp_dir)`` on a miss. The
    entry appears atomically (rename of a finished temp directory)."""
    final = cache / f"{key}-{source_hash()}"
    if (final / "_DONE").exists():
        return final
    tmp = cache / f".tmp-{final.name}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / "_DONE").write_text("")
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)
    return final


def _write_transcripts(path: Path, table: pa.Table) -> None:
    # one row group per file, as a single-writer export would produce
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _table(pdf) -> pa.Table:
    pdf = pdf.copy()
    pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
    return pa.Table.from_pandas(pdf, schema=TRANSCRIPT_SCHEMA, preserve_index=False)


def corpus(cache: Path, n_turns: int, seed: int, n_files: int = 64) -> Path:
    """A transcript table of exactly ``n_turns`` turns covering every payload
    family, split evenly into ``n_files``: the first ``n_turns`` rows of the
    shuffled power-law conversations. A fixed size keeps the work per run
    equal across seeds."""
    from pdf_extractor_spark.sources.synth import generate_transcripts

    def build(tmp: Path) -> None:
        # conversations average ~16 turns: draw with a margin, then cut
        n_convs = max(8, n_turns // 12)
        while (table := _table(generate_transcripts(n_convs, seed=seed))).num_rows < n_turns:
            n_convs *= 2
        table = table.slice(0, n_turns)
        n = n_turns
        for i in range(n_files):
            lo, hi = i * n // n_files, (i + 1) * n // n_files
            _write_transcripts(tmp / f"part-{i:05d}.parquet", table.slice(lo, hi - lo))

    return _cached(cache, f"corpus-t{n_turns}-f{n_files}-s{seed}", build)


def conversation(cache: Path, conv_id: str, n_turns: int, seed: int) -> Path:
    """One long conversation (the same family mix as the corpus) written as
    ONE single-row-group file: the shape whose scan yields a single split."""
    from pdf_extractor_spark.sources.synth import FAMILY_GENERATORS

    def build(tmp: Path) -> None:
        import datetime as dt

        epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        rows = {k: [] for k in TRANSCRIPT_SCHEMA.names}
        for t in range(n_turns):
            fam = zlib.crc32(f"{conv_id}:{t}:fam".encode()) % len(FAMILY_GENERATORS)
            rng = random.Random(zlib.crc32(f"{conv_id}:{t}:{seed}".encode()))
            role = _ROLES[t % 3]
            rows["conv_id"].append(conv_id)
            rows["turn_idx"].append(t)
            rows["role"].append(role)
            rows["text"].append(FAMILY_GENERATORS[fam][1](rng))
            rows["tool"].append("pdf_reader" if role == "tool" else None)
            rows["ts"].append(epoch + dt.timedelta(seconds=37 * t))
        table = pa.table(rows, schema=TRANSCRIPT_SCHEMA)
        _write_transcripts(tmp / f"{conv_id}.parquet", table)

    return _cached(cache, f"conv-{conv_id}-t{n_turns}-s{seed}", build)


@dataclass(frozen=True)
class CurateClasses:
    """Drop counts the curation corpus is designed to produce."""

    n_docs: int
    too_short: int
    dominant_token: int
    duplicate_content: int
    near_dup_prey: int
    eval_overlap_prey: int


def curate_classes(n_docs: int, eval_mod: int = 50) -> CurateClasses:
    groups = n_docs // 10
    return CurateClasses(
        n_docs=n_docs,
        too_short=groups,
        dominant_token=groups,
        duplicate_content=groups,
        near_dup_prey=groups,
        eval_overlap_prey=sum(1 for g in range(groups) if (10 * g) % eval_mod == 0),
    )


def curate_docs(cache: Path, n_docs: int, seed: int, n_files: int = 16) -> Path:
    """Documents with designed classes; doc_id % 10 picks the class within
    each 10-doc group g: 0/1 two exact copies of the group's base text,
    2 base plus three tokens (near duplicate), 4 one token repeated
    (dominant_token), 5 three words (too_short), 6 unique plus an e-mail
    (PII redaction), 7 the base's first 12 words plus a unique tail (shares
    8-gram shingles with the base: decontamination prey when the base is an
    eval doc), otherwise unique."""
    if n_docs % 10:
        raise ValueError("n_docs must be a multiple of 10")
    import numpy as np

    def build(tmp: Path) -> None:
        rng = np.random.default_rng(seed)
        vocab = np.array([f"w{i:04d}" for i in range(3000)])
        base = [" ".join(vocab[rng.integers(0, 3000, size=60)]) for _ in range(n_docs // 10)]
        texts = []
        for doc_id in range(n_docs):
            g, r = divmod(doc_id, 10)
            if r in (0, 1):
                t = base[g]
            elif r == 2:
                t = base[g] + f" x{g} y{g} z{g}"
            elif r == 4:
                t = " ".join(["spam"] * 40)
            elif r == 5:
                t = "tiny doc here"
            elif r == 7:
                head = " ".join(base[g].split()[:12])
                t = head + " " + " ".join(vocab[rng.integers(0, 3000, size=40)])
            else:
                t = " ".join(vocab[rng.integers(0, 3000, size=50)])
                if r == 6:
                    t += f" contact user{doc_id}@example.com now"
            texts.append(t)
        table = pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": texts,
                "lang": ["en" if i % 3 else "de" for i in range(n_docs)],
                "source": [f"src{i % 7}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        # rows interleaved across files, as an append-built table would be
        order = list(range(n_docs))
        random.Random(seed).shuffle(order)
        table = table.take(pa.array(order))
        for i in range(n_files):
            lo, hi = i * n_docs // n_files, (i + 1) * n_docs // n_files
            pq.write_table(table.slice(lo, hi - lo), tmp / f"part-{i:05d}.parquet")

    return _cached(cache, f"docs-n{n_docs}-f{n_files}-s{seed}", build)


def read_texts(paths: list[Path]) -> dict[tuple[str, int], str | None]:
    """(conv_id, turn_idx) -> text over every parquet file under ``paths``."""
    out: dict[tuple[str, int], str | None] = {}
    for p in paths:
        files = sorted(p.glob("*.parquet")) if p.is_dir() else [p]
        for f in files:
            t = pq.read_table(f, columns=["conv_id", "turn_idx", "text"])
            for c, i, x in zip(
                t.column("conv_id").to_pylist(),
                t.column("turn_idx").to_pylist(),
                t.column("text").to_pylist(),
            ):
                out[(c, i)] = x
    return out
