"""Seeded ``events`` generator for the benchmark.

Produces a parquet table with the schema and value domains of the
sf-series ``events.parquet`` the pipeline is written against:

    event_id int64      0..n-1, dense
    ts timestamp[us]    ascending, uniform arrivals over 30 days
    user_id int64       the conversation key (one conversation per user)
    event_type string   uniform over view/click/purchase/signup/error
    value double        exponential, mean 50, two decimals
    props string        '{"k": <0..99>}'

Only the user_id draw differs between the two shapes:

* ``uniform``: every event picks a user uniformly, as the sf tables do
  (~67 turns per conversation, tightly spread);
* ``zipf``: the user is drawn with probability proportional to
  1/rank^ZIPF_S, so a few conversations hold most of the turns. This
  skews the ``row_number`` window partitions and the conv-id hash
  buckets the commit path splits on.

``shares`` measures, on the generated table, the properties the
program's behaviour depends on, using the program's own derivation
rules (sources/transcripts.py: 1 + event_id % 3 mentions per turn,
mention j links entity 0 when (event_id + j) % 3 == 0 and entity
(event_id * 7 + j * 13) % N_ENTITIES otherwise; click, purchase and
signup events are tool turns).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
TOOL_EVENT_TYPES = {"click", "purchase", "signup"}
TURNS_PER_CONV = 200 / 3  # the sf tables: 1500 users per 100k events
SPAN_US = 30 * 24 * 3600 * 1_000_000
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
ZIPF_S = 1.1

SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def make_events(n_events: int, shape: str, seed: int) -> pa.Table:
    """The events table for (n_events, shape, seed); deterministic."""
    if shape not in ("uniform", "zipf"):
        raise ValueError(f"unknown conversation-length shape {shape!r}")
    rng = np.random.default_rng(seed % 2**64)  # any integer seed, negative too
    n_users = max(1, round(n_events / TURNS_PER_CONV))
    if shape == "uniform":
        users = rng.integers(0, n_users, n_events)
    else:
        weights = 1.0 / np.arange(1, n_users + 1) ** ZIPF_S
        # a seeded permutation keeps the heavy conversations from
        # always being the smallest user ids
        ranks = rng.permutation(n_users)
        users = ranks[rng.choice(n_users, n_events, p=weights / weights.sum())]
    ts = START_US + np.sort(rng.integers(0, SPAN_US, n_events))
    types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)]
    values = np.round(rng.exponential(50.0, n_events), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
    return pa.table(
        [
            pa.array(np.arange(n_events, dtype=np.int64)),
            pa.array(ts, pa.timestamp("us")),
            pa.array(users.astype(np.int64)),
            pa.array(types.tolist(), pa.string()),
            pa.array(values),
            pa.array(props, pa.string()),
        ],
        schema=SCHEMA,
    )


def write_events(directory: str, n_events: int, shape: str, seed: int) -> pa.Table:
    """Write ``<directory>/events.parquet`` and return the table."""
    os.makedirs(directory, exist_ok=True)
    table = make_events(n_events, shape, seed)
    pq.write_table(table, os.path.join(directory, "events.parquet"))
    return table


def shares(table: pa.Table, n_entities: int) -> dict:
    """Measured input shares the program's cost depends on."""
    event_id = table.column("event_id").to_numpy()
    users = table.column("user_id").to_numpy()
    types = np.array(table.column("event_type").to_pylist())
    turns = np.bincount(np.unique(users, return_inverse=True)[1])
    n_mentions = 1 + event_id % 3
    head = sum(
        (j < n_mentions) & (((event_id + j) % 3 == 0) | ((event_id * 7 + j * 13) % n_entities == 0))
        for j in range(3))
    return {
        "input_rows": int(len(event_id)),
        "conversations": int(len(turns)),
        "turns_per_conv_max": int(turns.max()),
        "turns_per_conv_median": float(np.median(turns)),
        "tool_turn_share": float(np.isin(types, list(TOOL_EVENT_TYPES)).mean()),
        "mentions_per_turn": float(n_mentions.mean()),
        "head_entity_share": float(head.sum() / n_mentions.sum()),
    }
