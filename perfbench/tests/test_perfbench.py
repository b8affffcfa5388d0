"""Self-tests of the benchmark: generators, ground truth, checkers and
metric names. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

import duckdb
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402
from workloads import END_TO_END, WORKLOADS, per_layer_metrics  # noqa: E402

EVENTS_N = 3000
DOCS_N = 200


@pytest.fixture(scope="module")
def events(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events"))
    truth = gen.gen_events(d, 7, EVENTS_N)
    return pq.read_table(os.path.join(d, "events.parquet")).to_pandas(), truth, d


@pytest.fixture(scope="module")
def docs(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("docs"))
    truth = gen.gen_docs(d, 7, DOCS_N)
    return pq.read_table(os.path.join(d, "documents.parquet")).to_pandas(), truth, d


@pytest.mark.parametrize("make,n,name", [(gen.gen_events, EVENTS_N, "events"), (gen.gen_docs, DOCS_N, "documents")])
def test_generators_are_deterministic(tmp_path, make, n, name):
    def files(sub, seed):
        d = tmp_path / sub
        make(str(d), seed, n)
        return [(d / f).read_bytes() for f in (f"{name}.parquet", "truth.json")]

    assert files("a", 3) == files("b", 3)
    assert files("c", 4)[0] != files("a", 3)[0]


def _reference_ttl(df) -> set[int]:
    """Per-key loop over each key's (ts, id)-sorted rows."""
    kept = set()
    ttl = 30 * 60 * 1_000_000
    ts_us = df["ts"].values.astype("datetime64[us]").astype("int64")
    for _, g in df.assign(ts_us=ts_us).sort_values(["ts_us", "event_id"]).groupby(["user_id", "event_type"]):
        last = None
        for ts, eid in zip(g["ts_us"], g["event_id"]):
            if last is None or ts - last > ttl:
                kept.add(int(eid))
                last = ts
    return kept


def test_event_ground_truth_matches_the_file(events):
    df, truth, _ = events
    p = truth["planted"]
    assert len(df) == truth["rows"] == p["base"] + p["resend_in_window"] + p["resend_after_ttl"]
    assert df["event_id"].is_unique and df["event_id"].min() == 0
    assert len(df.drop_duplicates(["user_id", "event_type", "value"])) == truth["distinct_business_keys"]
    # every re-send shares a business key with an earlier event
    resent = df[df["event_id"] >= p["base"]].merge(
        df[df["event_id"] < p["base"]], on=["user_id", "event_type", "value"], suffixes=("", "_src")
    )
    gap_min = (resent["ts"] - resent["ts_src"]).dt.total_seconds() / 60
    assert resent["event_id"].nunique() == p["resend_in_window"] + p["resend_after_ttl"]
    in_window = resent[resent["event_id"] < p["base"] + p["resend_in_window"]]
    assert ((in_window["ts"] - in_window["ts_src"]).dt.total_seconds().between(0, 600)).groupby(
        in_window["event_id"]
    ).any().all()
    assert (gap_min[resent["event_id"] >= p["base"] + p["resend_in_window"]] > 30).all()
    kept = _reference_ttl(df)
    assert kept == set(truth["ttl_kept_ids"])
    assert set(truth["resend_after_ttl_ids"]) <= kept
    assert truth["expected_rows"]["dedup_stream_custom_ttl"] == len(kept)
    # rows written out of event-time order
    late = (df["ts"] < df["ts"].cummax().shift(fill_value=df["ts"].min())).sum()
    assert 0 < late <= p["out_of_order"]


def test_doc_ground_truth_matches_the_file(docs):
    df, truth, _ = docs
    p = truth["planted"]
    assert len(df) == truth["rows"] == p["originals"] + p["exact_copies"] + p["near_dups"]
    assert df["doc_id"].is_unique
    text = dict(zip(df["doc_id"], df["text"]))
    copy_of = {int(k): v for k, v in truth["copy_of"].items()}
    assert len(copy_of) == p["exact_copies"]
    assert all(c >= p["originals"] > o and text[c].lower() == text[o].lower() for c, o in copy_of.items())
    assert truth["expected_rows"]["dedup_text_exact"] == df["text"].str.lower().nunique()


def test_checkers_reject_a_dropped_row_and_a_duplicated_key(events, docs):
    df, truth, _ = events
    kept = set(truth["ttl_kept_ids"])
    cols = list(df.columns)
    rows = [tuple(r) for r in df[df["event_id"].isin(kept)].itertuples(index=False)]
    assert checks.check_ttl(cols, rows, kept) is None
    assert checks.check_ttl(cols, rows[1:], kept)
    assert checks.check_ttl(cols, rows + rows[:1], kept)

    first = df.drop_duplicates(["user_id", "event_type", "value"])
    keys = set(zip(first["user_id"], first["event_type"], first["value"]))
    rows = [tuple(r) for r in first.itertuples(index=False)]
    assert checks.check_watermark(cols, rows, keys) is None
    assert checks.check_watermark(cols, rows[1:], keys)
    assert checks.check_watermark(cols, rows + rows[:1], keys)

    ddf, dtruth, _ = docs
    copy_of = {int(k): v for k, v in dtruth["copy_of"].items()}
    ids = set(ddf["doc_id"])
    survivors = [(i,) for i in sorted(ids - set(copy_of))]
    assert checks.check_minhash(["doc_id"], survivors, ids, copy_of) is None
    assert checks.check_minhash(["doc_id"], survivors + [(min(copy_of),)], ids, copy_of)
    assert checks.check_minhash(["doc_id"], survivors + survivors[:1], ids, copy_of)

    groups = defaultdict(set)
    for c, o in copy_of.items():
        groups[o] |= {o, c}
    ccols = ["doc_id", "cluster_id", "cluster_size"]
    crows = [(d, min(g), len(g)) for g in groups.values() for d in g]
    assert checks.check_clusters(ccols, crows, ids, copy_of) is None
    dropped = [r for r in crows if r[0] != min(copy_of)]
    assert checks.check_clusters(ccols, dropped, ids, copy_of)
    assert checks.check_clusters(ccols, crows + crows[:1], ids, copy_of)


def test_oracle_check_rejects_a_dropped_row_and_a_duplicated_row(events):
    from minefields_kafka_streams_deduplication_spark import get_oracles

    _, _, d = events
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')")
    sql = get_oracles()["dedup_keep_first"]
    cur = con.execute(sql)
    cols, rows = [c[0] for c in cur.description], cur.fetchall()
    assert checks.check_oracle(con, sql, cols, rows) is None
    assert checks.check_oracle(con, sql, cols, rows[1:])
    assert checks.check_oracle(con, sql, cols, rows + rows[:1])


def test_benchmark_json_names_match_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_metrics()
