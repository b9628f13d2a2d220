"""Seeded events-table generator for the benchmark workloads.

Writes the driver's ``events`` schema (``event_id, ts, user_id,
event_type, value, props``) in the shape of its sf0.1 table: users of
``n_rounds`` events each and five uniform event types. The program under
test reads the file through ``graph.keyed.keyed_graph_from_events``, so
the DuckDB oracles in ``__spark_entry__.oracle_sql()`` apply unchanged:
each user becomes one conversation, and every third event
(``event_id % 3 == 0``) links its turn to the ``event_type`` tool hub.

Users emit events round-robin in a seeded order. With ``n_users`` not a
multiple of 3, every third turn of every conversation links to a hub, so
the graph's diameter, and with it the number of CC supersteps, is the
same for every seed; what the seed changes is which user sits where
(and so the dense vertex ids and labels), which hub each link goes to,
and the timestamps, values and props. A purely random assignment would
make CC's superstep count, and its time, depend on the seed.

Generation is numpy with an explicit seed: the same (seed, size) gives
the same table. Files are cached under that key.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01 00:00:00 UTC in microseconds, spread over 30 days
_T0_US = 1_704_067_200 * 1_000_000
_SPAN_US = 30 * 86_400 * 1_000_000
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def events_table(seed: int, n_users: int, n_rounds: int) -> pa.Table:
    if n_users % 3 == 0:
        raise ValueError("n_users must not be a multiple of 3")
    rng = np.random.default_rng([seed, n_users, n_rounds])
    n_events = n_users * n_rounds
    users = np.tile(rng.permutation(n_users).astype(np.int64), n_rounds)
    types = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n_events)]
    # distinct, increasing timestamps: event_id order is time order
    ts_us = _T0_US + np.sort(rng.choice(_SPAN_US, size=n_events, replace=False))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(users),
            "event_type": pa.array(types.astype(str)),
            "value": pa.array(np.round(rng.random(n_events) * 200.0, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)]),
        }
    )


def shape_stats(table: pa.Table) -> dict:
    """Shape of the keyed graphs the table induces, from the table alone:
    n and m of the plain graph, n_m of the conv-membership graph, the
    symmetrized (deduplicated, self-loop-free) edge counts m_sym and
    m_sym_m, and the largest tool-hub degree."""
    users = table.column("user_id").to_numpy()
    eid = table.column("event_id").to_numpy()
    types = table.column("event_type").to_numpy(zero_copy_only=False)
    n_turns = len(users)
    n_convs = len(np.unique(users))
    tool_mask = eid % 3 == 0
    tool_types, tool_deg = np.unique(types[tool_mask], return_counts=True)
    m = (n_turns - n_convs) + int(tool_mask.sum())  # turn adjacency + turn->tool
    n = n_turns + len(tool_types)
    # adjacency, turn->tool and conv->turn edges never repeat or reverse
    # one another, so symmetrizing exactly doubles each table
    return {
        "n": n,
        "m": m,
        "m_sym": 2 * m,
        "n_m": n + n_convs,
        "m_sym_m": 2 * (m + n_turns),
        "max_hub_degree": int(tool_deg.max()) if len(tool_deg) else 0,
    }


def ensure_events(cache_dir: str, seed: int, n_users: int, n_rounds: int) -> tuple[str, dict]:
    """Write (once) the events parquet for (seed, size) under
    ``cache_dir`` and return (sf_dir, shape stats); ``sf_dir`` holds
    ``events.parquet`` as ``keyed_graph_from_events`` expects."""
    sf_dir = os.path.join(cache_dir, "inputs", f"s{seed}-u{n_users}-r{n_rounds}")
    meta_path = os.path.join(sf_dir, "shape.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return sf_dir, json.load(fh)
    table = events_table(seed, n_users, n_rounds)
    stats = shape_stats(table)
    os.makedirs(sf_dir, exist_ok=True)
    tmp = os.path.join(sf_dir, "events.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(sf_dir, "events.parquet"))
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(stats, fh)
    os.replace(meta_path + ".tmp", meta_path)
    return sf_dir, stats
