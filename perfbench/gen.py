"""Seeded input generator.

Everything a workload feeds the program comes from here, as a pure
function of the seed: the same seed gives the same inputs, and
`fingerprint()` of them is the `data_fingerprint` stamped on results.
`BlockStream` is a linear chain of blocks whose rows are change-log
tuples (CHANGELOG_SCHEMA order) carrying document text, so the same
rows feed the temporal reads and the text-derived tables. `Feeder`
hands such a stream to `IngestPipeline` block by block.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import random
import time
from collections import deque
from dataclasses import dataclass

# the word list of the `documents` test-data table
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "line sort window spark order data column join small customer query "
    "big filter group stream vector"
).split()
COLLECTION = "evt"

# The stream's shape, shared by both workloads. Taken from the
# repository's own data where it has the figure -- the test-data
# `events` table as `sources.changelog_from_events` maps it (one tablet
# per event type, the user id as primary key, value < 10 as a tombstone)
# and the `documents` table for the text:
TABLETS = 5  # event types in `events`
KEYS_PER_TABLET = 1_500  # distinct user ids in `events` at sf0.1, drawn uniformly
DELETE_SHARE = 0.18  # share of `events` rows with value < 10
TEXT_WORDS = (10, 100)  # words per `documents` text
# Assumptions: the repository's data has no blocks, no fork depth and
# spreads events evenly over types.
ROWS_PER_BLOCK = 100
LIB_LAG = 3  # blocks between head and last irreversible block
# Zipf exponent over the tablets: the hottest takes 68 % of the rows, so
# it crosses adaptive indexing's 25k-mutation threshold in the 8th
# 5,000-row flush of a run, and only then
TABLET_SKEW = 2.0


def zipf_cum_weights(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (i + 1) ** s for i in range(n)))


def fingerprint(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
    return h.hexdigest()[:16]


def doc_text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


class BlockStream:
    """Seeded block source: block `num` has height `num`, one row per
    (tablet, key) it touches, and every block carries at least one row
    (the store refuses height holes).

    Tablets are drawn Zipf(TABLET_SKEW); keys uniformly from
    KEYS_PER_TABLET per tablet, so later blocks update earlier
    documents. DELETE_SHARE of the rows are tombstones. Document ids
    (the primary key) are unique across tablets, because the derived
    text tables key on the id alone. `singlets` single-valued tablets
    (`sgl-<n>`, primary key '') receive one update every 4th block."""

    def __init__(self, seed: int, singlets: int = 0):
        self.seed = seed
        self.tablets = [f"t{i:02d}" for i in range(TABLETS)]
        self.singlets = [f"sgl-{i}" for i in range(singlets)]
        self.cum = zipf_cum_weights(TABLETS, TABLET_SKEW)
        self._rng = random.Random(seed)
        self.blocks = 0  # blocks produced so far; the next block's number

    def params(self) -> tuple:
        return (
            self.seed, TABLETS, KEYS_PER_TABLET, ROWS_PER_BLOCK, TABLET_SKEW,
            DELETE_SHARE, len(self.singlets), TEXT_WORDS,
        )

    @staticmethod
    def block_id(num: int) -> str:
        return f"{num:08x}"

    @staticmethod
    def doc_id(tablet: str, key: int) -> str:
        return str(int(tablet[1:]) * KEYS_PER_TABLET + key)

    def next_block(self) -> tuple[str, int, str, list[tuple]]:
        """(block_id, block_num, parent_id, rows) of the next block."""
        rng, num = self._rng, self.blocks
        self.blocks += 1
        bid = self.block_id(num)
        parent = self.block_id(num - 1) if num > 0 else ""
        seen: set[tuple[str, str]] = set()
        rows = []
        for tablet in rng.choices(self.tablets, cum_weights=self.cum, k=ROWS_PER_BLOCK):
            pk = self.doc_id(tablet, rng.randrange(KEYS_PER_TABLET))
            if (tablet, pk) in seen:
                continue
            seen.add((tablet, pk))
            if rng.random() < DELETE_SHARE:
                rows.append((COLLECTION, tablet, num, pk, None, True, bid, num))
            else:
                rows.append(
                    (COLLECTION, tablet, num, pk, doc_text(rng, *TEXT_WORDS),
                     False, bid, num)
                )
        if self.singlets and num % 4 == 0:
            s = rng.choice(self.singlets)
            rows.append(
                (COLLECTION, s, num, "", f"{rng.random():.6f}", False, bid, num)
            )
        return bid, num, parent, rows


def spread_points(rng: random.Random, n: int, step: float) -> list[float]:
    """`n` points of the additive recurrence u0 + k * step (mod 1) from a
    seeded start: any run of consecutive points covers [0, 1) almost
    evenly, so a few dozen draws through them have the same make-up
    whatever the seed (independent random draws do not)."""
    u0 = rng.random()
    return [(u0 + k * step) % 1.0 for k in range(n)]


def skewed_recent(u: float, head: int, power: float = 3.0) -> int:
    """The height in [0, head] at `u` in [0, 1), with density rising
    toward `head`."""
    return head - int((head + 1) * u ** power * 0.999)


def zipf_pick(u: float, items: list, cum: list[float]):
    return items[bisect.bisect_left(cum, u * cum[-1])]


@dataclass
class Counts:
    rows: int = 0
    tokens: int = 0  # BM25 term occurrences
    kv_bytes: int = 0  # generated primary key + value bytes

    def __add__(self, other: "Counts") -> "Counts":
        return Counts(self.rows + other.rows, self.tokens + other.tokens,
                      self.kv_bytes + other.kv_bytes)


def block_counts(rows) -> Counts:
    c = Counts(rows=len(rows))
    for r in rows:
        c.kv_bytes += len(r[3].encode())
        if r[4] is not None:
            c.tokens += len(r[4].lower().split(" "))
            c.kv_bytes += len(r[4].encode())
    return c


class Feeder:
    """Drives the pipeline block by block -- StepNew for block n,
    StepIrreversible for block n - LIB_LAG -- and mirrors its flush
    policy (flush once `flush_rows` irreversible rows are pending) to
    know which call flushed and what is durable."""

    def __init__(self, pipeline, stream: BlockStream, model, flush_rows: int):
        self.pipeline, self.stream, self.model = pipeline, stream, model
        self.flush_rows = flush_rows
        self.recent: deque = deque()  # reversible blocks, oldest first
        self.pending = Counts()
        self.committed = Counts()
        self.head = None  # (block_id, num, rows)
        self.last_flushed = None  # (block_id, num, rows)

    def lib(self) -> int:
        """Number of the last irreversible block."""
        return self.recent[0][1] - 1

    def until_flush(self) -> float:
        """Feed blocks until one flush happens; returns its ms."""
        while True:
            bid, num, parent, rows = self.stream.next_block()
            self.model.apply(rows)
            self.pipeline.process_new_block(bid, num, parent, rows)
            self.head = (bid, num, rows)
            self.recent.append(self.head)
            if len(self.recent) <= LIB_LAG:
                continue
            irr = self.recent.popleft()
            self.pending += block_counts(irr[2])
            t = time.perf_counter()
            self.pipeline.process_irreversible(irr[0], irr[1])
            if self.pending.rows >= self.flush_rows:
                ms = (time.perf_counter() - t) * 1000.0
                self.committed += self.pending
                self.pending = Counts()
                self.last_flushed = irr
                return ms
