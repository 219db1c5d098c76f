"""Seeded inputs for the streaming-RAG benchmark.

The retrieval corpus is the sf0.1 ``documents`` (5,000 texts) and
``embeddings`` (2,000 x 64-dim) tables, kept under ``data/sf0.1``; the
catalog queries read the sf0.01 tables under ``data/sf0.01``. Everything
else is made here from the ``--seed`` argument: the question and fact
lines drawn from ``documents.text`` and the open-loop send schedule. The
same seed gives the same bytes; the engine only ever reads the files.

Lines carry a unique id token (``qa…``, ``fb…``, ``rq…``) so an answer or
a stored fact can be matched back to the item that was sent.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field

import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
CORPUS_DIR = os.path.join(DATA, "sf0.1")    # documents + embeddings
TABLES_DIR = os.path.join(DATA, "sf0.01")   # every table, for the catalog
CORPUS_TABLES = ("documents", "embeddings")


def copy_corpus(data_dir: str, n_rows: int | None = None) -> None:
    """The corpus tables in the layout ``sources.tables.load_table`` reads;
    with ``n_rows``, only the first rows of each (doc_id and vec_id stay
    aligned)."""
    os.makedirs(data_dir, exist_ok=True)
    for t in CORPUS_TABLES:
        src = os.path.join(CORPUS_DIR, f"{t}.parquet")
        dst = os.path.join(data_dir, f"{t}.parquet")
        if n_rows is None:
            shutil.copyfile(src, dst)
        else:
            pq.write_table(pq.read_table(src).slice(0, n_rows), dst)


def corpus_texts(data_dir: str = CORPUS_DIR) -> list[str]:
    return pq.read_table(os.path.join(data_dir, "documents.parquet"),
                         columns=["text"]).column("text").to_pylist()


def corpus_rows(data_dir: str = CORPUS_DIR) -> dict[str, int]:
    return {t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet"))
            .metadata.num_rows for t in CORPUS_TABLES}


def _window(rng: random.Random, text: str, width: int) -> str:
    toks = text.split()
    start = rng.randrange(0, max(1, len(toks) - width))
    return " ".join(toks[start:start + width])


def questions(seed: int, texts: list[str], n: int, prefix: str,
              width: int = 8) -> list[str]:
    """Word windows drawn from corpus documents, each led by a unique id."""
    rng = random.Random(f"{seed}:{prefix}")
    return [f"{prefix}{i:06d} " + _window(rng, rng.choice(texts), width)
            for i in range(n)]


def facts(seed: int, texts: list[str], n: int, replay_share: float,
          prefix: str = "fb") -> list[str]:
    """Fact lines: a unique id plus a corpus document's text; a
    ``replay_share`` of the lines repeat an earlier line exactly (the
    replay the content-hash upsert must drop)."""
    rng = random.Random(f"{seed}:{prefix}")
    out: list[str] = []
    fresh = 0
    for _ in range(n):
        if out and rng.random() < replay_share:
            out.append(rng.choice(out))
        else:
            out.append(f"{prefix}{fresh:06d} " + rng.choice(texts))
            fresh += 1
    return out


@dataclass
class Send:
    """One file of the schedule: ``lines`` land in ``stream``'s source
    directory at ``due`` seconds after the phase starts."""
    due: float
    stream: str
    name: str
    lines: list[str] = field(default_factory=list)


def open_loop(stream: str, lines: list[str], rate: float,
              tick: float) -> list[Send]:
    """Spread ``lines`` over ticks at ``rate`` items/s: item i belongs to
    tick ``floor(i / rate / tick)``, and each tick's items share one file
    due at the tick's start."""
    by_tick: dict[int, list[str]] = {}
    for i, line in enumerate(lines):
        by_tick.setdefault(int(i / rate / tick + 1e-9), []).append(line)
    return [Send(k * tick, stream, f"{stream}-{k:06d}.txt", ls)
            for k, ls in sorted(by_tick.items())]


def line_id(line: str) -> str:
    return line.split(" ", 1)[0]


def item_due(sends: list[Send]) -> dict[str, float]:
    """Scheduled send time per line id: its file's due time. A replayed
    line keeps the time of its first send; replays are dropped by the
    upsert, so only the first send can be committed."""
    due: dict[str, float] = {}
    for s in sends:
        for line in s.lines:
            due.setdefault(line_id(line), s.due)
    return due
