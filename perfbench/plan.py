"""Seeded workload inputs and the summary statistics the benchmark reports.

Everything here is pure Python: the same seed gives the same query
sequence and the same day batches, so a run can be replayed exactly.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass
from itertools import islice

# A reported tail percentile must leave at least this many samples
# above it, so a p90 needs 100 samples.
MIN_BEYOND = 10


def query_sequence(names: list[str], seed: int, n: int) -> list[str]:
    """The first ``n`` ops of a repeating sequence: each pass over the
    mix is a fresh seeded shuffle of ``names``."""

    def passes():
        rng = random.Random(seed)
        while True:
            order = list(names)
            rng.shuffle(order)
            yield from order

    return list(islice(passes(), n))


def median(xs: list[float]) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank p-quantile."""
    return n - math.ceil(p * n)


def tail_percentile(xs: list[float], p: float) -> float | None:
    """Nearest-rank p-quantile, or None when fewer than ``MIN_BEYOND``
    samples lie beyond it (too few to say anything about that tail)."""
    if samples_beyond(len(xs), p) < MIN_BEYOND:
        return None
    return sorted(xs)[math.ceil(p * len(xs)) - 1]


@dataclass
class Day:
    """One simulated ingest day."""

    day: int
    doc_ids: list[int]  # fresh documents landing today
    inject: list[tuple[int, int]]  # (new doc_id, stored doc_id it copies verbatim)
    vec_ids: list[int]  # fresh vectors landing today
    probes: list[int]  # vec_ids searched today
    event_ranges: list[tuple[int, int]]  # [lo, hi) event_id micro-batches
    deletes: list[int]  # stored doc_ids retracted today


@dataclass
class IngestPlan:
    corpus_ids: list[int]  # day-0 documents
    base_vec_ids: list[int]  # day-0 vectors
    base_events: tuple[int, int]  # day-0 telemetry [lo, hi)
    days: list[Day]


# The size of a daily_ingest run: a day-0 snapshot, then N_DAYS daily
# batches (a run times one or a few of them).
N_DAYS = 30
CORPUS_DOCS = 1000  # day-0 documents
DOCS_PER_DAY = 100
COPIES_PER_DAY = 3  # verbatim copies of stored documents injected a day
BASE_VECS = 400  # day-0 vectors
VECS_PER_DAY = 40
EVENT_BATCHES = 2  # telemetry micro-batches a day
EVENTS_PER_BATCH = 500
BASE_EVENT_ROWS = 5000  # day-0 telemetry rows
DELETES_PER_DAY = 3
COPY_ID_BASE = 10_000_000  # first doc_id of an injected copy


def ingest_plan(doc_ids: list[int], vec_ids: list[int], n_events: int, seed: int) -> IngestPlan:
    """A seeded split of the documents, embeddings and events tables
    into a day-0 snapshot and ``N_DAYS`` daily batches.

    Injected copies duplicate stored day-0 documents that are never
    deleted, so each one must be dropped by the near-dup rule; deletes
    come from a disjoint pool of day-0 documents. New copy keys start
    at ``COPY_ID_BASE`` and never collide with stored keys."""
    rng = random.Random(seed)
    docs = sorted(doc_ids)
    vecs = sorted(vec_ids)
    rng.shuffle(docs)
    rng.shuffle(vecs)
    need_docs = CORPUS_DOCS + N_DAYS * DOCS_PER_DAY
    need_vecs = BASE_VECS + N_DAYS * VECS_PER_DAY
    need_events = BASE_EVENT_ROWS + N_DAYS * EVENT_BATCHES * EVENTS_PER_BATCH
    if len(docs) < need_docs or len(vecs) < need_vecs or n_events < need_events:
        raise ValueError(
            f"tables too small for {N_DAYS} days: need {need_docs} docs, "
            f"{need_vecs} vectors, {need_events} events"
        )
    if max(docs) >= COPY_ID_BASE:
        raise ValueError("doc ids collide with the injected-copy key range")
    corpus = docs[:CORPUS_DOCS]
    delete_pool = corpus[: N_DAYS * DELETES_PER_DAY]
    copy_pool = corpus[N_DAYS * DELETES_PER_DAY :]
    ev_lo = rng.randrange(0, n_events - need_events + 1)
    base_events = (ev_lo, ev_lo + BASE_EVENT_ROWS)
    ev_next = base_events[1]
    days: list[Day] = []
    for d in range(1, N_DAYS + 1):
        lo = CORPUS_DOCS + (d - 1) * DOCS_PER_DAY
        today_vecs = vecs[BASE_VECS + (d - 1) * VECS_PER_DAY : BASE_VECS + d * VECS_PER_DAY]
        # one probe a day: a just-appended vector on odd days (day 1 is
        # the day every run times first), an older stored one on even days
        pool = today_vecs if d % 2 else vecs[: BASE_VECS + (d - 1) * VECS_PER_DAY]
        ranges = []
        for _ in range(EVENT_BATCHES):
            ranges.append((ev_next, ev_next + EVENTS_PER_BATCH))
            ev_next += EVENTS_PER_BATCH
        days.append(
            Day(
                day=d,
                doc_ids=docs[lo : lo + DOCS_PER_DAY],
                inject=[
                    (COPY_ID_BASE + d * 1000 + j, src)
                    for j, src in enumerate(rng.sample(copy_pool, COPIES_PER_DAY))
                ],
                vec_ids=today_vecs,
                probes=[rng.choice(pool)],
                event_ranges=ranges,
                deletes=delete_pool[(d - 1) * DELETES_PER_DAY : d * DELETES_PER_DAY],
            )
        )
    return IngestPlan(corpus, vecs[:BASE_VECS], base_events, days)
