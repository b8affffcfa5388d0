"""The exact-copy collapse: one representative per distinct text.

Copy-heavy corpora are dominated by EXACT copies. Every document query
that shingles or tokenizes therefore runs its token-volume work once per
TEXT CLASS — the documents whose normalized text has one ``md5`` — and
re-attaches the answer per document afterwards. Each 1000× copy-flood
sweep found another query that skipped this step, so it lives here, in
one form:

* :func:`by_text_class` — ONE ``groupBy(md5(norm))`` aggregate builds
  the rep table. It partial-aggregates map-side, so the exchange carries
  at most one row per distinct text per map task (a window over the text
  hash would ship every copy's text through the exchange). Callers pass
  the aggregates they use: :func:`winner` (the min-doc_id row and its
  payload), :func:`copy_weight` (copy count), :func:`rep_tokens`.
* :func:`expand_rep_pairs` — turns rep pairs back into document pairs:
  every cross-group member pair carries its reps' value, and every
  featured copy group adds its within-group clique at ``self_value``.

Each caller keeps its own ``norm`` (raw ``text``, ``lower(text)`` or
``lower(trim(text))``): the normalization is part of that query's
semantics. A NULL ``norm`` hashes to NULL — those documents form one
rep row but no member row (the members join is an equi-join), which is
harmless because a NULL text has no shingles or tokens to pair on.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KEY = "th"  # the text-class key column: md5 of the caller's normalized text


class TextClasses(NamedTuple):
    """``keys`` (doc_id, th) is the narrow per-document map; ``reps``
    holds one row per text class: ``th`` plus the caller's aggregates."""

    keys: DataFrame
    reps: DataFrame

    @property
    def members(self) -> DataFrame:
        """(doc_id, rep_id): every document mapped to its class's rep.
        Needs a :func:`winner` aggregate (``reps.doc_id``)."""
        return self.keys.join(
            self.reps.select(KEY, F.col("doc_id").alias("rep_id")), KEY
        ).select("doc_id", "rep_id")


def by_text_class(docs: DataFrame, norm: Column, *aggs: Column) -> TextClasses:
    """Collapse ``docs`` to one row per ``md5(norm)`` class carrying
    ``aggs``."""
    key = F.md5(norm).alias(KEY)
    return TextClasses(docs.select("doc_id", key), docs.groupBy(key).agg(*aggs))


def winner(*payload: str) -> list[Column]:
    """The class's min-doc_id row: ``doc_id`` plus each ``payload``
    column from that row (min_by over the unique doc_id is
    deterministic)."""
    return [F.min("doc_id").alias("doc_id")] + [
        F.min_by(c, "doc_id").alias(c) for c in payload
    ]


def copy_weight() -> Column:
    """``w``: the number of copies in the class."""
    return F.count(F.lit(1)).alias("w")


def rep_tokens() -> Column:
    """``tk``: the class's lowercased token array."""
    return F.first(F.split(F.lower("text"), " ")).alias("tk")


def expand_rep_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    featured_reps: DataFrame,
    value_col: str,
    self_value: Column,
) -> DataFrame:
    """(doc_id_1 < doc_id_2, ``value_col``) document pairs from
    (rep_1, rep_2, ``value_col``) rep pairs.

    Copies of one text share their rep's features, so a cross-group
    member pair carries exactly its reps' value, and two copies pair at
    ``self_value`` (Jaccard 1.0, Hamming 0). The within-group clique is
    gated on ``featured_reps`` (a ``doc_id`` frame of reps that HAVE
    features): a text with <3 tokens has no shingles, so the per-copy
    formulation emits no pair for its copies either. ``members`` is
    read four times — pass a cached frame."""
    m1 = members.select(F.col("rep_id").alias("rep_1"), F.col("doc_id").alias("d1"))
    m2 = members.select(F.col("rep_id").alias("rep_2"), F.col("doc_id").alias("d2"))
    cross = rep_pairs.join(m1, "rep_1").join(m2, "rep_2").select(
        F.least("d1", "d2").alias("doc_id_1"),
        F.greatest("d1", "d2").alias("doc_id_2"),
        value_col,
    )
    g1 = members.join(
        featured_reps.select(F.col("doc_id").alias("rep_id")), "rep_id"
    ).select("rep_id", F.col("doc_id").alias("d1"))
    g2 = members.select("rep_id", F.col("doc_id").alias("d2"))
    within = (
        g1.join(g2, "rep_id")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            F.col("d1").alias("doc_id_1"),
            F.col("d2").alias("doc_id_2"),
            self_value.alias(value_col),
        )
    )
    return cross.unionByName(within)
