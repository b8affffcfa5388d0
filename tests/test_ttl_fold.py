"""The D5 TTL fold kernel (`dedup_stream.ttl_fold`) without a Spark
session: both arbitrary-state APIs call it, and the
transformWithStateInPandas one cannot run where google.protobuf is
missing, so the kernel is pinned here directly."""

from __future__ import annotations

import random

import pandas as pd

from minefields_kafka_streams_deduplication_spark.streaming.dedup_stream import (
    TTL_MINUTES,
    ttl_fold,
)

TTL_US = TTL_MINUTES * 60 * 1_000_000
MIN_US = 60 * 1_000_000


def reference_fold(key_ts_id: list[tuple], ttl_us: int = TTL_US) -> set[int]:
    """Put-only-on-forward TTL dedup, the benchmark generator's ground
    truth: per key, in (ts, id) order, forward an event iff no event of
    that key was FORWARDED in the last ``ttl_us``. Rows are
    (key, ts_us, event_id); returns the forwarded ids."""
    last: dict = {}
    kept = set()
    for key, ts, eid in sorted(key_ts_id, key=lambda r: (r[1], r[2])):
        prev = last.get(key)
        if prev is None or ts - prev > ttl_us:
            kept.add(eid)
            last[key] = ts
    return kept


def frame(rows: list[tuple]) -> pd.DataFrame:
    """rows: (event_id, minutes, user_id, event_type)."""
    return pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts_us": [r[1] * MIN_US for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [float(r[0]) for r in rows],
        }
    )


def kept_ids(pdf: pd.DataFrame, last: dict) -> list[int]:
    return sorted(pdf["event_id"].take(ttl_fold(pdf, last)).tolist())


def test_chunks_out_of_order_fold_as_one_sorted_group():
    # Two 2-row chunks in file order 10, 50 | 0, 45 min: a per-chunk
    # sort forwards [1, 2]; the whole group in ts order forwards [3, 4].
    chunks = [frame([(1, 10, 7, "a"), (2, 50, 7, "a")]), frame([(3, 0, 7, "a"), (4, 45, 7, "a")])]
    pdf = pd.concat(chunks, ignore_index=True)
    last: dict = {}
    assert kept_ids(pdf, last) == [3, 4]
    assert last == {(7, "a"): 45 * MIN_US}


def test_state_carried_in_suppresses_and_expires():
    last = {(7, "a"): 0}
    pdf = frame([(1, 20, 7, "a"), (2, 31, 7, "a"), (3, 40, 7, "a")])
    # +20 is inside the carried TTL, +31 is past it and re-arms the TTL,
    # so +40 is suppressed against +31 (not against the carried 0).
    assert kept_ids(pdf, last) == [2]
    assert last == {(7, "a"): 31 * MIN_US}


def test_two_keys_in_one_group_keep_independent_entries():
    last = {(7, "a"): 0, (9, "a"): 10 * MIN_US}
    pdf = frame([(1, 32, 7, "a"), (2, 38, 9, "a"), (3, 41, 9, "a"), (4, 5, 7, "b")])
    assert kept_ids(pdf, last) == [1, 3, 4]
    assert last == {(7, "a"): 32 * MIN_US, (9, "a"): 41 * MIN_US, (7, "b"): 5 * MIN_US}


def test_resend_after_ttl_forwards_again():
    # A re-send exactly at the TTL is still inside it (strict >).
    pdf = frame([(1, 0, 7, "a"), (2, 30, 7, "a"), (3, 30, 7, "a"), (4, 61, 7, "a")])
    last: dict = {}
    assert kept_ids(pdf, last) == [1, 4]


def test_ties_on_ts_break_by_event_id():
    pdf = frame([(5, 0, 7, "a"), (2, 0, 7, "a")])
    assert kept_ids(pdf, {}) == [2]


def test_matches_reference_across_batches_and_shuffled_chunks():
    rng = random.Random(11)
    rows = [
        (eid, rng.randrange(0, 600), rng.randrange(4), rng.choice("ab"))
        for eid in range(1, 801)
    ]
    rows.sort(key=lambda r: (r[1], r[0]))
    batches = [rows[i : i + 200] for i in range(0, len(rows), 200)]
    last: dict = {}
    got: set[int] = set()
    for batch in batches:
        shuffled = batch[:]
        rng.shuffle(shuffled)
        chunks = [frame(shuffled[i : i + 7]) for i in range(0, len(shuffled), 7)]
        pdf = pd.concat(chunks, ignore_index=True)
        got |= set(pdf["event_id"].take(ttl_fold(pdf, last)).tolist())
    want = reference_fold([((u, t), m * MIN_US, eid) for eid, m, u, t in rows])
    assert got == want
    assert len(want) < len(rows), "no row was suppressed: the check is vacuous"
