"""Seeded input tables for the benchmark.

The tables follow the harness schemas the queries read (FIXTURES.md §2)
at scale factor 0.1: `events` (100,000 rows) and `documents` (5,000).
Their content is drawn from a fixed generator, so every query's answer
is the same for every seed; the benchmark seed decides only the order in
which rows are written. The queries impose `seq` themselves, so a result that changes
with the seed is a defect of the program.

`events` can be cut to its first rows and then enlarged by ScaleProbe's
key-shifted union: copy i of the table gets event_id + i * rows and
user_id + i * 1500, so event_id stays unique and dense and the number of
users grows with the data.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = ["de", "en", "en", "es", "fr", "zh", "en"]
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds


def events(rng, rows=N_EVENTS):
    gaps = rng.exponential(25.9e6, N_EVENTS).astype(np.int64)[:rows] + 1
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(EPOCH_US + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64)[:rows]),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)[:rows]]),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)[:rows]),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)[:rows]]),
    })


def scaled(table, copies):
    """ScaleProbe's key-shifted union of `copies` copies of `events`."""
    rows = table.num_rows
    parts = []
    for i in range(copies):
        part = table.set_column(0, "event_id", pa.array(
            table["event_id"].to_numpy() + i * rows))
        parts.append(part.set_column(2, "user_id", pa.array(
            table["user_id"].to_numpy() + i * N_USERS)))
    return pa.concat_tables(parts)


def documents(rng):
    texts = []
    for _ in range(N_DOCS):
        words = [WORDS[i] for i in rng.integers(0, len(WORDS), rng.integers(8, 97))]
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    # a few exact duplicates, as a crawl has
    for a, b in rng.integers(0, N_DOCS, (8, 2)):
        texts[b] = texts[a]
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), N_DOCS)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# each table draws from its own fixed stream of the content generator
TABLES = {"documents": (documents, 0), "events": (events, 2)}


def tables(names=tuple(TABLES), event_rows=N_EVENTS, copies=1):
    """The content of the named tables, identical on every call: `events`
    is its first `event_rows` rows enlarged `copies` times."""
    def rng(name):
        return np.random.default_rng([CONTENT_SEED, TABLES[name][1]])
    return {name: scaled(events(rng(name), event_rows), copies) if name == "events"
            else TABLES[name][0](rng(name)) for name in names}


def shuffled(table, seed):
    """`table` with its rows in an order drawn from `seed`."""
    order = np.random.default_rng(seed).permutation(table.num_rows)
    return table.take(pa.array(order))


def write(out_dir, seed, names=tuple(TABLES), event_rows=N_EVENTS, copies=1):
    """Write the named tables as <out_dir>/<name>.parquet in a seeded row
    order."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(names, event_rows, copies).items():
        pq.write_table(shuffled(table, seed), os.path.join(out_dir, f"{name}.parquet"))
