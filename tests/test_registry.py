"""Registry contract tests: every oracle key has a query; every query
runs at sf0.001 and returns a stable, non-degenerate schema."""

from __future__ import annotations

import pytest

import minefields_kafka_streams_deduplication_spark as engine

# Streaming queries execute a real micro-batch run — smoke-tested
# separately in test_streaming.py to keep this sweep fast.
STREAMING = {
    "dedup_stream_watermark",
    "dedup_stream_custom_ttl",
    "window_tumbling_stream",
    "window_session_stream",
    "join_interval_stream",
}


def test_every_oracle_has_a_query():
    qs, os_ = engine.get_queries(), engine.get_oracles()
    assert set(os_) <= set(qs)


def test_entry_contract(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


@pytest.mark.parametrize(
    "name", sorted(n for n in engine.get_queries() if n not in STREAMING)
)
def test_query_runs(spark, sf_dir, name):
    df = engine.get_queries()[name](spark, sf_dir)
    assert df.columns, f"{name} has no columns"
    df.limit(5).collect()  # schema + execution smoke


def test_oracle_types_duckdb_hash_safe(sf_dir):
    """No oracle may emit a DuckDB-only numeric type (HUGEINT / UHUGEINT /
    DECIMAL): the driver hashes values per-column after a schema compare,
    and a DuckDB ``sum(int)`` silently widens to HUGEINT, failing the hash
    even when values are equal (r03: ``train_val_split``). Every integer
    ``sum()`` in an oracle must be ``CAST(... AS BIGINT)``; every decimal
    aggregate must be cast/rounded to DOUBLE."""
    import os

    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for name, sql in engine.get_oracles().items():
        rel = con.sql(sql)
        for col, typ in zip(rel.columns, rel.types):
            s = str(typ)
            if s in ("HUGEINT", "UHUGEINT", "UBIGINT") or s.startswith("DECIMAL"):
                bad.append((name, col, s))
    assert not bad, f"hash-unsafe oracle column types: {bad}"


def test_driver_memory_sized_from_machine(tmp_path, monkeypatch):
    """Without SPARK_DRIVER_MEMORY the driver heap is 30 % of MemTotal,
    clamped to 2–8 GiB and rounded down to 256 MiB; the env var wins."""
    from minefields_kafka_streams_deduplication_spark.session import _driver_memory

    def sized(total_gib):
        path = tmp_path / f"meminfo_{total_gib}"
        path.write_text(
            f"MemTotal:       {int(total_gib * 1024 * 1024)} kB\n"
            "MemFree:         1024 kB\n"
        )
        return _driver_memory(str(path))

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert sized(15) == "4608m"
    assert sized(125) == "8192m"
    assert sized(4) == "2048m"
    assert _driver_memory(str(tmp_path / "missing")) == "2048m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert sized(15) == "3g"
