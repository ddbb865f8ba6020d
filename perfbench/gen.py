"""Seeded input generators for the benchmark.

Everything the program reads during a run is written here, from the seed
alone: the same seed yields byte-identical files.  The shapes follow the
synthetic testdata the package is developed against (TESTDATA.md): an
``events`` table (event_id, ts, user_id, event_type, value, props) spanning
January 2024, and ``documents`` over a small word vocabulary with
near-duplicate families.  Sizes are arguments, so the seed changes the draws
and never the amount of work.

Stream inputs are Kafka-wire epochs in ``RAW_EVENT_DDL`` shape: mostly in
time order, with ``LATE_SHARE`` of each epoch's events stamped on an earlier
day (the late share decides how many day partitions a merge must rewrite).
``LATE_SHARE`` and ``STREAM_EPOCH_EVENTS`` are assumptions, not measured
traffic; perfbench/README.md gives the reasons.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
N_USERS = 1500
MONTH_START_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
MONTH_US = 30 * 86400 * 1_000_000
LATE_SHARE = 0.1
STREAM_EPOCH_EVENTS = 10_000


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` events ordered by time, as in the testdata's events table."""
    ts = np.sort(MONTH_START_US + rng.integers(0, MONTH_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.uniform(0.5, 50.0, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` documents: random word sequences, 5% of them near-copies
    (one word changed) of an earlier document, so LSH and semantic pairs
    have true positives to find."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 90)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * n),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def ep_clients(rng: np.random.Generator, n_eps: int = 3) -> dict[str, list[str]]:
    """Event processor id → customer list, in the reference's
    ``ep_clients.json`` shape; every one of the five domains is served by
    exactly one event processor."""
    customers = [f"customer_{d}" for d in rng.permutation(5)]
    eps = sorted(int(e) for e in rng.choice(np.arange(100, 200), n_eps, replace=False))
    out: dict[str, list[str]] = {str(e): [] for e in eps}
    for i, c in enumerate(customers):
        out[str(eps[i % n_eps])].append(c)
    return out


def _ip(x: np.ndarray) -> list[str]:
    return [f"{a >> 24 & 255}.{a >> 16 & 255}.{a >> 8 & 255}.{a & 255}" for a in x.tolist()]


def stream_epochs(rng: np.random.Generator, n_epochs: int) -> list[list[dict]]:
    """``n_epochs`` lists of raw events (``RAW_EVENT_DDL`` fields).

    Epoch ``e`` covers the ``e``-th slice of the month in time order; a
    ``LATE_SHARE`` of its events carry a start time one to five days before
    the slice."""
    n = STREAM_EPOCH_EVENTS
    slice_us = MONTH_US // max(n_epochs, 1)
    out = []
    for e in range(n_epochs):
        t = MONTH_START_US + e * slice_us + rng.integers(0, slice_us, n)
        late = rng.random(n) < LATE_SHARE
        t = np.where(late, t - rng.integers(1, 6, n) * 86400 * 1_000_000, t)
        start_ms = np.maximum(t, MONTH_START_US) // 1000
        dom = rng.integers(0, 5, n)
        src = rng.integers(0, 2**32, n, dtype=np.int64)
        dst = rng.integers(0, 2**32, n, dtype=np.int64)
        cols = {
            "domainId": dom,
            "eventCount": rng.integers(1, 6, n),
            "sourcePort": rng.integers(1, 65536, n),
            "destinationPort": rng.integers(0, 200, n),
            "startTime": start_ms,
            "qid": rng.integers(0, 100, n),
            "category": 4000 + rng.integers(0, 40, n),
            "highlevelcategory": 4000 + rng.integers(0, 3, n),
            "devicetype": rng.integers(0, 20, n),
            "logSourceId": rng.integers(0, 50, n),
            "magnitude": rng.integers(0, 10, n),
        }
        lists = {k: v.tolist() for k, v in cols.items()}
        users = rng.integers(0, N_USERS, n).tolist()
        srcs, dsts = _ip(src), _ip(dst)
        out.append(
            [
                {
                    "domainName": f"customer_{lists['domainId'][i]}",
                    **{k: lists[k][i] for k in cols},
                    "sourceIP": srcs[i],
                    "destinationIP": dsts[i],
                    "userName": f"user_{users[i]}",
                }
                for i in range(n)
            ]
        )
    return out


def generate(out_dir: str, seed: int, events: int = 0, docs: int = 0,
             epochs: int = 0) -> dict[str, str]:
    """Write the requested inputs under ``out_dir``; returns name → path.

    Each input draws from its own child generator, so asking for one input
    never changes the contents of another."""
    children = np.random.SeedSequence(seed).spawn(4)
    rng = {k: np.random.default_rng(s) for k, s in
           zip(("events", "documents", "ep", "stream"), children)}
    data = os.path.join(out_dir, "tables")
    os.makedirs(data, exist_ok=True)
    paths: dict[str, str] = {"tables": data}
    if events:
        paths["events"] = os.path.join(data, "events.parquet")
        _write(events_table(rng["events"], events), paths["events"])
    if docs:
        paths["documents"] = os.path.join(data, "documents.parquet")
        _write(documents_table(rng["documents"], docs), paths["documents"])
    paths["ep_clients"] = os.path.join(out_dir, "ep_clients.json")
    with open(paths["ep_clients"], "w") as f:
        json.dump(ep_clients(rng["ep"]), f, sort_keys=True)
    if epochs:
        paths["stream"] = os.path.join(out_dir, "stream_epochs.jsonl")
        with open(paths["stream"], "w") as f:
            for ep in stream_epochs(rng["stream"], epochs):
                f.write(json.dumps(ep) + "\n")
    return paths
