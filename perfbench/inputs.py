"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(seed, size)``. The tables have the
canonical testdata's schema, and their shape is the one measured on the
sf0.1 testdata (``events``: 100,000 rows, 1,500 users; ``documents``: 5,000
rows), scaled so that the entity count grows with the row count, as in
``bench.py``'s entity-suffixed replication:

* 66.7 events per user (100,000 / 1,500), users drawn uniformly, so the
  per-user count is binomial (sf0.1: p10 56, median 66, p90 78);
* 10/3 documents per user (5,000 / 1,500), ``source`` = ``src<doc_id % 20>``;
* event times uniform over 30 days from 2024-01-01 (sf0.1: 3,205-3,471
  events a day), tz-naive microseconds, so Spark reads ``ts`` as
  TIMESTAMP_NTZ, as it reads the testdata;
* the five event types equally likely (sf0.1: 0.199-0.203 each), so 20% of
  events are purchases and become as-of labels;
* ``value`` exponential with mean 50, rounded to cents (sf0.1: mean 49.9,
  s.d. 49.6, median 34.8), for every event type alike;
* document texts of 10-100 words, uniform, from the testdata's 30-word
  vocabulary (sf0.1: p1 10, median 54, p99 99), and the testdata's
  language shares.

Timestamps are unique within each user: the window features order by
``event_time`` alone, so ties would make their output order-dependent and
the off-clock comparison meaningless.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.4118, 0.1506, 0.1404, 0.1484, 0.1488)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SF01_EVENTS, SF01_USERS, SF01_DOCS = 100_000, 1_500, 5_000
VALUE_MEAN = 50.0
N_SOURCES = 20
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
DAY_US = 86_400 * 1_000_000
SPAN_US = 30 * DAY_US
# The delta is 1% of the base events, all on 1% of the users, in the day
# after the base span: a daily load that leaves 99% of the state untouched.
DELTA_FRAC = 0.01


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _prefixed(prefix: str, ints: pa.Array) -> pa.Array:
    return pc.binary_join_element_wise(prefix, ints.cast(pa.string()), "")


def _pick(names, idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(names)).cast(pa.string())


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    lengths = rng.integers(10, 101, n_docs)
    word_ids = rng.integers(0, len(WORDS), int(lengths.sum()))
    offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32)
    texts = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), _pick(WORDS, word_ids)), " ")
    doc_ids = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(doc_ids),
            "text": texts,
            "lang": _pick(LANGS, rng.choice(len(LANGS), n_docs, p=LANG_P)),
            "source": _prefixed("src", pa.array(doc_ids % N_SOURCES)),
            "n_chars": pc.utf8_length(texts).cast(pa.int64()),
        }
    )


def events_table(
    rng: np.random.Generator,
    users: np.ndarray,
    first_event_id: int = 0,
    t0_us: int = EPOCH_US,
    span_us: int = SPAN_US,
) -> pa.Table:
    """One event per entry of ``users``, numbered in time order."""
    ts = t0_us + rng.integers(0, span_us, len(users))
    # drop the (vanishingly rare) same-user timestamp collisions
    _, keep = np.unique(users * (1 << 48) + (ts - t0_us), return_index=True)
    users, ts = users[keep], ts[keep]
    order = np.argsort(ts, kind="stable")
    users, ts = users[order], ts[order]
    n = len(users)
    values = np.round(rng.exponential(VALUE_MEAN, n), 2)
    props = pc.binary_join_element_wise(
        _prefixed('{"k": ', pa.array(rng.integers(0, 100, n))), "}", ""
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_event_id, first_event_id + n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": _pick(EVENT_TYPES, rng.integers(0, len(EVENT_TYPES), n)),
            "value": pa.array(values),
            "props": props,
        }
    )


def write_event_tables(seed: int, n_events: int, root: str, with_delta: bool = False) -> dict:
    """Write ``root/base/{events,documents}.parquet`` and, when asked, the
    delta as ``root/delta/{events,documents}.parquet`` (the documents dim
    copied, so each directory is a complete source for ``sources.tables``).
    Returns the two directories and the number of users the delta touches."""
    rng = np.random.default_rng([seed, 1])
    n_users = max(1, round(n_events * SF01_USERS / SF01_EVENTS))
    docs = documents_table(rng, max(n_users, round(n_users * SF01_DOCS / SF01_USERS)))
    base = events_table(rng, rng.integers(0, n_users, n_events))
    _write(docs, f"{root}/base/documents.parquet")
    _write(base, f"{root}/base/events.parquet")
    out = {"base": f"{root}/base", "delta": f"{root}/delta", "delta_users": 0}
    if with_delta:
        hot = rng.choice(n_users, max(1, round(n_users * DELTA_FRAC)), replace=False)
        n_delta = max(1, round(n_events * DELTA_FRAC))
        delta = events_table(
            rng, rng.choice(hot, n_delta), first_event_id=base.num_rows,
            t0_us=EPOCH_US + SPAN_US, span_us=DAY_US,
        )
        _write(docs, f"{root}/delta/documents.parquet")
        _write(delta, f"{root}/delta/events.parquet")
        out["delta_users"] = len(np.unique(delta["user_id"].to_numpy()))
    return out
