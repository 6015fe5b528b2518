"""Seeded input generator.

Produces an events table with exactly the schema of
``stakgraph_spark.sources.transcripts.synthetic_events`` (event_id,
ts, user_id, event_type, value, props). The seed drives which user
(conversation) each event belongs to and its event type, which
conversations an incremental edit touches, and the keys the query
clients ask for. The program only ever sees the transcript table that
``derive_transcripts`` makes from these events.
"""

from __future__ import annotations

import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "signup", "error", "purchase"])
# same mix as synthetic_events (id % 5): every type equally likely
EVENT_TYPE_P = [0.2, 0.2, 0.2, 0.2, 0.2]
TURNS_PER_CONV = 200
T0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def events_table(seed: int, n_events: int, edited_users: np.ndarray | None = None) -> pa.Table:
    """n_events events over n_events // TURNS_PER_CONV users.

    edited_users: the second version of an incremental edit — every
    event of these users gets the next event type in EVENT_TYPES,
    which changes the role and hence the text of each of their turns.
    """
    rng = np.random.default_rng(seed)
    n_users = max(n_events // TURNS_PER_CONV, 1)
    ids = np.arange(n_events, dtype=np.int64)
    users = rng.integers(0, n_users, n_events, dtype=np.int64)
    types = rng.choice(len(EVENT_TYPES), n_events, p=EVENT_TYPE_P)
    if edited_users is not None and len(edited_users):
        hit = np.isin(users, edited_users)
        types = np.where(hit, (types + 1) % len(EVENT_TYPES), types)
    micros = ids * 7_000_000
    ts = pa.array(
        micros + int(T0.timestamp() * 1_000_000), type=pa.timestamp("us", tz="UTC")
    )
    value = np.round(ids * 0.37 % 1000, 2) + 1.0
    props = ['{"k": %d}' % k for k in (ids % 100)]
    return pa.table(
        {
            "event_id": pa.array(ids, type=pa.int64()),
            "ts": ts,
            "user_id": pa.array(users, type=pa.int64()),
            "event_type": pa.array(EVENT_TYPES[types]),
            "value": pa.array(value, type=pa.float64()),
            "props": pa.array(props),
        }
    )


def write_events(path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


def edited_users(seed: int, n_events: int, k: int) -> np.ndarray:
    """The k conversations an incremental edit toggles."""
    n_users = max(n_events // TURNS_PER_CONV, 1)
    rng = np.random.default_rng([seed, 1])
    return np.sort(rng.choice(n_users, size=min(k, n_users), replace=False)).astype(np.int64)


class Zipf:
    """Zipf popularity over a seeded permutation of [0, n): the hot
    keys differ per seed, the skew does not."""

    def __init__(self, rng: np.random.Generator, n: int, a: float = 1.2):
        self.rng = rng
        self.perm = rng.permutation(n)
        w = np.arange(1, n + 1, dtype=np.float64) ** -a
        self.cdf = np.cumsum(w) / w.sum()

    def draw(self) -> int:
        i = int(np.searchsorted(self.cdf, self.rng.random(), side="right"))
        return int(self.perm[min(i, len(self.perm) - 1)])
