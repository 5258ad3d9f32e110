"""Seeded input generators for the flow benchmark.

Everything the library reads is produced here from ``--seed`` and
written as files; the library never sees the generator. Each generator
also returns the plain rows it wrote, which the DuckDB twins consume.

Address-label data follows labelmain's document shape: one row per
``addr`` holding a label list whose entries are
``(name, date, type, desc, src)``. Two sources feed it:

- ``bitcoinAbuse``: abuse reports rendered as HTML report pages and
  merged with set-union semantics (a re-crawled page re-delivers old
  reports, which must be idempotent);
- ``chainAbuse``: a paged JSON feed that is a full snapshot of that
  source, refreshed by replacing its namespace.

The library models both sources on its ``events`` table
(``parse_html_reports`` renders one report per event,
``paged_source_scan`` pages events), so the per-address traffic takes
the shape of the sf0.1 ``events.parquet`` fixture: 100,000 events over
1,500 users and 30 days; events per user mean 66.7, standard deviation
8.2, range 45-99; five event types at 19.8-20.3% each; ``value``
exponential with mean 49.9 (median 34.8), two decimals.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from scripts.scale_crossover import LANG_W, LANGS, P_EXACT_DUP, P_NEAR_DUP, VOCAB

# Measured from sf0.1 events.parquet (see the module docstring).
SF01_USERS = 1500
REPORTS_MEAN, REPORTS_SD = 66.7, 8.2  # events per address
SPAN_DAYS = 30  # the seed history; each batch is the crawl of one later day
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]  # uniform
VALUE_MEAN = 49.9
# Chosen, not measured (the fixture has one snapshot and no arrivals):
# a batch re-crawls the report pages of BATCH_SHARE of the addresses, a
# few percent of the store; NEW_SHARE of a crawl's addresses are unseen
# ones, so every batch mixes new and existing addresses; each chainAbuse
# snapshot covers SNAPSHOT_SHARE of the known addresses.
BATCH_SHARE = 0.02
NEW_SHARE = 0.1
SNAPSHOT_SHARE = 0.02
EPOCH = dt.datetime(2024, 1, 1)

FLAT_SCHEMA = pa.schema(
    [("addr", pa.string()), ("name", pa.string()), ("date", pa.string()),
     ("type", pa.string()), ("desc", pa.string()), ("src", pa.string())]
)
EVENTS_SCHEMA = pa.schema(
    [("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
     ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]
)


def addr_of(user_id: int) -> str:
    return f"addr{user_id:08d}"


def _abuse_label(event: tuple) -> tuple:
    """The label ``htmlparse`` recovers from one rendered report row."""
    event_id, ts, _uid, etype = event
    return ("abuse", ts.strftime("%Y-%m-%d %H:%M:%S"), etype,
            f'case <{event_id}> & "flagged"', "bitcoinAbuse")


def _chain_label(row: tuple) -> tuple:
    event_id, _uid, etype, _value = row
    return (etype, None, "chain", str(event_id), "chainAbuse")


def _poisson(rng: random.Random, lam: float) -> int:
    n, p, floor = 0, rng.random(), math.exp(-lam)
    while p > floor:
        n += 1
        p *= rng.random()
    return n


class LabelHistory:
    """The generator's view of the label store: per address, the abuse
    reports delivered so far, and the current chainAbuse snapshot.
    Batches drawn from it are reproducible from the seed and the batch
    index alone."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_uid = SF01_USERS
        self.next_event = 1
        self.day = 0
        self.reports: dict[int, list[tuple]] = {
            uid: self._history(uid) for uid in range(SF01_USERS)}
        self.snapshot = self._snapshot_rows()

    def _count(self) -> int:
        return max(1, round(self.rng.gauss(REPORTS_MEAN, REPORTS_SD)))

    def _event(self, uid: int, day: int) -> tuple:
        eid = self.next_event
        self.next_event += 1
        ts = EPOCH + dt.timedelta(days=day, seconds=self.rng.randrange(86400))
        return (eid, ts, uid, self.rng.choice(EVENT_TYPES))

    def _history(self, uid: int) -> list[tuple]:
        """An address's reports over the seed history's SPAN_DAYS."""
        return [self._event(uid, self.rng.randrange(SPAN_DAYS)) for _ in range(self._count())]

    def _snapshot_rows(self) -> list[tuple]:
        """One full chainAbuse crawl: SNAPSHOT_SHARE of the known
        addresses plus NEW_SHARE as many never seen, each with an
        address's worth of events."""
        rng = self.rng
        k = int(SF01_USERS * SNAPSHOT_SHARE)
        n_new = int(k * NEW_SHARE)
        uids = rng.sample(range(self.next_uid), k) + list(range(self.next_uid, self.next_uid + n_new))
        self.next_uid += n_new
        rows = []
        for uid in uids:
            for _ in range(self._count()):
                eid = self.next_event
                self.next_event += 1
                rows.append((eid, uid, rng.choice(EVENT_TYPES),
                             round(rng.expovariate(1 / VALUE_MEAN), 2)))
        return rows

    def flat_labels(self) -> list[tuple]:
        """Every (addr, name, date, type, desc, src) label of the store."""
        out = []
        for uid, evs in self.reports.items():
            a = addr_of(uid)
            out.extend((a, *_abuse_label(e)) for e in evs)
        for row in self.snapshot:
            out.append((addr_of(row[1]), *_chain_label(row)))
        return out

    def next_batch(self) -> dict:
        """The next day's landed batch: the full report pages of
        BATCH_SHARE of the addresses (old reports re-delivered plus that day's new
        ones at the sf0.1 rate, NEW_SHARE of them unseen addresses) and
        a fresh chainAbuse snapshot."""
        rng = self.rng
        day = SPAN_DAYS + self.day
        self.day += 1
        k = int(SF01_USERS * BATCH_SHARE)
        n_new = int(k * NEW_SHARE)
        uids = rng.sample(sorted(self.reports), k - n_new)
        uids += list(range(self.next_uid, self.next_uid + n_new))
        self.next_uid += n_new
        events = []
        for uid in uids:
            evs = self.reports.setdefault(uid, [])
            fresh = _poisson(rng, REPORTS_MEAN / SPAN_DAYS)
            evs.extend(self._event(uid, day) for _ in range(fresh if evs else max(1, fresh)))
            events.extend(evs)
        old = {r[1] for r in self.snapshot}
        self.snapshot = self._snapshot_rows()
        touched = set(uids) | old | {r[1] for r in self.snapshot}
        return {"events": events, "paged": list(self.snapshot), "touched": len(touched)}


def write_events(path: str, events: list[tuple]) -> None:
    """Events table in the fixture schema ``load_table`` expects."""
    cols = list(zip(*events)) if events else [[], [], [], []]
    n = len(events)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(cols[0], pa.int64()),
                "ts": pa.array(cols[1], pa.timestamp("us")),
                "user_id": pa.array(cols[2], pa.int64()),
                "event_type": pa.array(cols[3], pa.string()),
                "value": pa.array([1.0] * n, pa.float64()),
                "props": pa.array(['{"k": "v"}'] * n, pa.string()),
            },
            schema=EVENTS_SCHEMA,
        ),
        path,
    )


def flat_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[]] * 6
    return pa.table({f.name: pa.array(c, f.type) for f, c in zip(FLAT_SCHEMA, cols)},
                    schema=FLAT_SCHEMA)


# ---- documents (the corpus shape of scripts/scale_crossover.py) ------------

def documents(seed: int, n: int, first_id: int = 0) -> pa.Table:
    """``n`` documents of 10-100 tokens over a 30-word vocabulary with
    ~4% mutated near-duplicates and ~0.3% exact duplicates."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < P_EXACT_DUP:
            txt = texts[rng.randrange(i)]
        elif i and r < P_EXACT_DUP + P_NEAR_DUP:
            toks = texts[rng.randrange(i)].split(" ")
            cut = max(1, int(len(toks) * 0.7))
            txt = " ".join(toks[:cut] + [rng.choice(VOCAB) for _ in range(len(toks) - cut)])
        else:
            txt = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        texts.append(txt)
    return pa.table(
        {
            "doc_id": pa.array(range(first_id, first_id + n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choices(LANGS, LANG_W)[0] for _ in range(n)], pa.string()),
            "source": pa.array([f"src{rng.randrange(20)}" for _ in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(sf_dir: str, table: pa.Table) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"), row_group_size=16384)
