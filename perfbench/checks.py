"""Output checks for the benchmark's queries.

Oracle-backed queries are compared with the engine's DuckDB oracle SQL
by exact value equality. Rows-only queries are checked against
references computed here from the generated input and its ground
truth. Every checker takes the output as column names plus a list of
row tuples and returns ``None`` when the output is correct, otherwise a
one-line reason.
"""

from __future__ import annotations

import math
from collections import Counter


def _norm_value(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    return v


def norm_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with columns in name order and rows in a canonical order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


def check_oracle(con, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    cur = con.execute(sql)
    want = norm_rows([d[0] for d in cur.description], cur.fetchall())
    got = norm_rows(cols, rows)
    if got == want:
        return None
    first = next(((a, b) for a, b in zip(got, want) if a != b), None)
    return f"{len(got)} rows vs oracle {len(want)}; first difference {first}"


def _col(cols: list[str], rows: list[tuple], name: str) -> list:
    i = cols.index(name)
    return [r[i] for r in rows]


def _unique(ids: list, what: str) -> str | None:
    dup = [k for k, n in Counter(ids).items() if n > 1]
    return f"{len(dup)} {what} appear more than once, e.g. {dup[0]}" if dup else None


def check_watermark(cols, rows, business_keys: set) -> str | None:
    """Output keys are exactly the input's distinct business keys, once each."""
    keys = list(zip(*(_col(cols, rows, c) for c in ("user_id", "event_type", "value"))))
    return _unique(keys, "business keys") or (
        None
        if set(keys) == business_keys
        else f"{len(set(keys))} keys vs {len(business_keys)} distinct input keys"
    )


def check_ttl(cols, rows, kept_ids: set) -> str | None:
    """Output ids equal the reference put-only-on-forward TTL fold."""
    ids = _col(cols, rows, "event_id")
    err = _unique(ids, "event ids")
    if err:
        return err
    if set(ids) != kept_ids:
        return (
            f"{len(set(ids) - kept_ids)} ids not kept by the reference fold, "
            f"{len(kept_ids - set(ids))} kept ids missing"
        )
    return None


def check_minhash(cols, rows, input_ids: set, copy_of: dict) -> str | None:
    """Survivors are input docs, once each; no planted exact copy
    survives, because it collapses into its lower-id original."""
    ids = _col(cols, rows, "doc_id")
    err = _unique(ids, "doc ids")
    if err:
        return err
    if not set(ids) <= input_ids:
        return "output doc ids not in the input"
    kept_copies = set(ids) & set(copy_of)
    if kept_copies:
        return f"{len(kept_copies)} planted exact copies survive, e.g. {min(kept_copies)}"
    return None


def check_clusters(cols, rows, input_ids: set, copy_of: dict) -> str | None:
    """Clusters are input docs, once each; cluster_id is the cluster's
    min doc id and cluster_size its member count; every planted exact
    copy is in its original's cluster."""
    ids = _col(cols, rows, "doc_id")
    err = _unique(ids, "doc ids")
    if err:
        return err
    if not set(ids) <= input_ids:
        return "output doc ids not in the input"
    cid = dict(zip(ids, _col(cols, rows, "cluster_id")))
    size = dict(zip(ids, _col(cols, rows, "cluster_size")))
    members: dict = {}
    for d, c in cid.items():
        members.setdefault(c, []).append(d)
    for c, ds in members.items():
        if min(ds) != c or any(size[d] != len(ds) for d in ds):
            return f"cluster {c} has members {sorted(ds)[:5]} and sizes {size[ds[0]]}"
    for copy, orig in copy_of.items():
        if copy not in cid or cid[copy] != cid.get(orig):
            return f"planted copy {copy} is not in the cluster of its original {orig}"
    return None
