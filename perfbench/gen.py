"""Seeded input generators for the benchmark workloads.

Each generator writes the parquet table the engine reads
(``events.parquet`` or ``documents.parquet``, same schema as the
engine's fixtures) and ``truth.json`` beside it: the planted counts and
the expected output rows per query. The same seed gives byte-identical
files. Only numpy/pyarrow are used, so generation needs no Spark.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WATERMARK_DELAY_US = 10 * 60 * 1_000_000  # dedup_stream_watermark's delay
TTL_US = 30 * 60 * 1_000_000  # dedup_stream_custom_ttl's TTL
EPOCH_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z, the fixture's first day

# The engine fixture's document vocabulary (space-separated words).
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]


def ttl_fold(key_ts_id: list[tuple], ttl_us: int = TTL_US) -> set[int]:
    """Reference put-only-on-forward TTL dedup: per key, in (ts, id)
    order, forward an event iff no event of that key was FORWARDED in
    the last ``ttl_us``; only a forwarded event updates the key's state.
    Input rows are (key, ts_us, event_id); returns the forwarded ids."""
    last: dict = {}
    kept = set()
    for key, ts, eid in sorted(key_ts_id, key=lambda r: (r[1], r[2])):
        prev = last.get(key)
        if prev is None or ts - prev > ttl_us:
            kept.add(eid)
            last[key] = ts
    return kept


def _write(table: pa.Table, out_dir: str, name: str, truth: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    # One file, one row group: a file stream reads it as one data batch.
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)


def gen_events(out_dir: str, seed: int, n_base: int) -> dict:
    """Event log for the stream dedup operators.

    - users are Zipf-skewed over 5 event types, so a few (user_id,
      event_type) TTL keys are hot;
    - ``resend_in_window``: copies of forwarded events (same business
      key, new event_id) 1 s to 10 min later — both operators drop them;
    - ``resend_after_ttl``: copies of forwarded events placed more than
      30 min after the original and before the key's next event — the
      custom-TTL operator must re-emit them;
    - ``out_of_order``: rows written later in the file than their event
      time says (delayed by 1-20 min of event time).
    """
    rng = np.random.default_rng(seed)
    n_users = max(50, n_base // 10)
    span_us = 3 * 24 * 3600 * 1_000_000
    user = np.minimum(rng.zipf(1.3, n_base), n_users) - 1
    etype = rng.integers(0, len(EVENT_TYPES), n_base)
    ts = np.sort(rng.integers(0, span_us, n_base)) + EPOCH_US
    value = np.round(rng.uniform(0.0, 200.0, n_base), 2)
    ids = np.arange(n_base, dtype=np.int64)

    base_kept = ttl_fold(list(zip(zip(user, etype), ts, ids)))
    fwd = np.array(sorted(base_kept), dtype=np.int64)
    # next event time of the same TTL key, to place after-TTL re-sends
    order = np.lexsort((ts, etype, user))
    nxt = np.full(n_base, np.iinfo(np.int64).max, dtype=np.int64)
    same = (user[order][1:] == user[order][:-1]) & (etype[order][1:] == etype[order][:-1])
    nxt[order[:-1][same]] = ts[order][1:][same]

    n_in = n_base // 10
    src_in = rng.choice(fwd, n_in, replace=False)
    ts_in = ts[src_in] + rng.integers(1_000_000, WATERMARK_DELAY_US, n_in)

    gap_ok = fwd[nxt[fwd] - ts[fwd] > TTL_US + 2 * 60 * 1_000_000]
    gap_ok = np.setdiff1d(gap_ok, src_in)
    n_after = min(len(gap_ok), max(1, n_base // 50))
    src_after = rng.choice(gap_ok, n_after, replace=False)
    room = np.minimum(nxt[src_after] - ts[src_after] - TTL_US, 60 * 60 * 1_000_000)
    ts_after = ts[src_after] + TTL_US + 60_000_000 + (rng.random(n_after) * (room - 60_000_000)).astype(np.int64)

    src = np.concatenate([ids, src_in, src_after])
    all_ts = np.concatenate([ts, ts_in, ts_after])
    # New ids continue from max(id)+1, so they never collide with the base.
    all_ids = np.arange(len(src), dtype=np.int64)
    all_user, all_type, all_value = user[src], etype[src], value[src]

    n_ooo = len(src) // 20
    delay = np.zeros(len(src), dtype=np.int64)
    ooo = rng.choice(len(src), n_ooo, replace=False)
    delay[ooo] = rng.integers(60_000_000, 20 * 60_000_000, n_ooo)
    perm = np.lexsort((all_ids, all_ts + delay))

    keys = list(zip(zip(all_user, all_type), all_ts, all_ids))
    kept = ttl_fold(keys)
    n_after_kept = sum(int(i) in kept for i in all_ids[n_base + n_in :])
    if n_after_kept != n_after:
        raise RuntimeError("after-TTL re-send placed where the fold suppresses it")
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, len(src)).astype(str)), "}")
    table = pa.table(
        {
            "event_id": pa.array(all_ids[perm]),
            "ts": pa.array(all_ts[perm], pa.timestamp("us")),
            "user_id": pa.array(all_user[perm].astype(np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[all_type[perm]]),
            "value": pa.array(all_value[perm]),
            "props": pa.array(props[perm]),
        }
    )
    bkeys = set(zip(all_user.tolist(), all_type.tolist(), all_value.tolist()))
    truth = {
        "table": "events",
        "rows": len(src),
        "planted": {
            "base": n_base,
            "resend_in_window": n_in,
            "resend_after_ttl": n_after,
            "out_of_order": n_ooo,
        },
        "distinct_business_keys": len(bkeys),
        "ttl_keys": len(set(zip(all_user.tolist(), all_type.tolist()))),
        "resend_after_ttl_ids": sorted(int(i) for i in all_ids[n_base + n_in :]),
        "ttl_kept_ids": sorted(int(i) for i in kept),
        "expected_rows": {
            "dedup_stream_watermark": len(bkeys),
            "dedup_keep_first": len(bkeys),
            "dedup_stream_custom_ttl": len(kept),
            "dedup_batch_custom_ttl": len(kept),
        },
    }
    _write(table, out_dir, "events", truth)
    return truth


def _edit(tokens: list[str], rng: np.random.Generator, n_edits: int) -> list[str]:
    out = list(tokens)
    for pos in rng.choice(len(out), n_edits, replace=False):
        out[pos] = VOCAB[(VOCAB.index(out[pos]) + 1 + int(rng.integers(0, len(VOCAB) - 1))) % len(VOCAB)]
    return out


def gen_docs(out_dir: str, seed: int, n_orig: int) -> dict:
    """Document corpus for the LLM-data dedup path.

    - originals: random texts over the fixture vocabulary, with lengths
      spread evenly over 10-100 words;
    - ``exact_copies``: a quarter of the originals get 1 or 2 copies,
      verbatim or (every third copy) upper-cased, which the exact-copy
      collapse folds;
    - ``near_dups``: a third of the originals of 60+ words get 1 or 2
      variants with 1 or 2 token substitutions (3-gram Jaccard >= ~0.8),
      which only the LSH / SimHash / connected-components path finds.
      Clusters stay small: an original, at most 2 copies and at most 2
      variants.

    Seeds change the texts and which documents are copied, never the
    counts, so every seed gives the same amount of work.
    """
    rng = np.random.default_rng(seed)
    lengths = rng.permutation(np.linspace(10, 100, n_orig).round().astype(int))
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n)) for n in lengths]
    src_of, kind = [-1] * n_orig, ["orig"] * n_orig
    for j, o in enumerate(rng.choice(n_orig, n_orig // 4, replace=False)):
        for c in range(1 + j % 2):
            texts.append(texts[o].upper() if (j + c) % 3 == 0 else texts[o])
            src_of.append(int(o))
            kind.append("copy")
    long_ids = np.flatnonzero(lengths >= 60)
    for j, o in enumerate(rng.choice(long_ids, len(long_ids) // 3, replace=False)):
        for v in range(1 + j % 2):
            texts.append(" ".join(_edit(texts[o].split(), rng, 1 + (j + v) % 2)))
            src_of.append(int(o))
            kind.append("near")
    n = len(texts)
    perm = rng.permutation(n)  # copies do not sit next to their originals
    # Ids: originals keep 0..n_orig-1; planted rows continue from max+1.
    doc_id = np.arange(n, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": pa.array(doc_id[perm]),
            "text": pa.array([texts[i] for i in perm]),
            "lang": pa.array([LANGS[int(i)] for i in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{int(i)}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(texts[i]) for i in perm], pa.int64()),
        }
    )
    copies = {str(i): src_of[i] for i in range(n) if kind[i] == "copy"}
    truth = {
        "table": "documents",
        "rows": n,
        "planted": {
            "originals": n_orig,
            "exact_copies": sum(k == "copy" for k in kind),
            "near_dups": sum(k == "near" for k in kind),
        },
        "copy_of": copies,
        "expected_rows": {
            "dedup_text_exact": len({t.strip().lower() for t in texts}),
        },
    }
    _write(table, out_dir, "documents", truth)
    return truth
