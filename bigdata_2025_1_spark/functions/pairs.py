"""Candidate-pair building blocks of the near-duplicate queries.

Every pair search in the dedup family has the same two steps: block
(generate candidate pairs through an equi-join on a short key, never
all-pairs) and verify (join each side's full set back for the
candidates alone and score the pair exactly). The blocks are
:func:`band_pairs` (LSH band buckets) and :func:`rarest_shingle_pairs`
(rare-token prefix filtering); the verify rejoin is :func:`pair_sides`
and the score is :func:`jaccard` (or its two integer sizes,
:func:`overlap_sizes`, where a query compares them cross-multiplied).

Naming: an entity keyed by ``x_id`` pairs as ``(x_a, x_b)`` with
``x_a < x_b``, and :func:`pair_sides` suffixes each side's columns
``_a`` / ``_b``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def band_pairs(banded: DataFrame, id: str) -> DataFrame:
    """Distinct ``(x_a, x_b)`` pairs, ``x_a < x_b``, of the rows of a
    ``(id, band, band_key)`` frame that share a ``(band, band_key)``
    bucket (``id`` = ``x_id``). A pair colliding in several bands comes
    out once. The join shuffles the bucket columns and ids only."""
    stem = id.removesuffix("_id")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id}") < F.col(f"b.{id}")),
        )
        .select(F.col(f"a.{id}").alias(f"{stem}_a"), F.col(f"b.{id}").alias(f"{stem}_b"))
        .distinct()
    )


def pair_sides(pairs: DataFrame, frame: DataFrame, cols: list[str]) -> DataFrame:
    """``pairs`` (first column ``x_a``, then ``x_b``) with each side's
    ``cols`` from ``frame`` (keyed by ``x_id``) joined back as
    ``<col>_a`` / ``<col>_b`` — the verify rejoin, so full sets travel
    for candidate pairs only."""
    stem = pairs.columns[0].removesuffix("_a")
    for s in ("a", "b"):
        side = frame.select(
            F.col(f"{stem}_id").alias(f"{stem}_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in cols],
        )
        pairs = pairs.join(side, f"{stem}_{s}")
    return pairs


def overlap_sizes(x: str, y: str) -> tuple[Column, Column]:
    """``(|x ∩ y|, |x ∪ y|)`` of two distinct-element array columns."""
    return F.size(F.array_intersect(x, y)), F.size(F.array_distinct(F.concat(x, y)))


def jaccard(x: str, y: str) -> Column:
    """Set Jaccard ``|x ∩ y| / |x ∪ y|`` of two distinct-element array
    columns: one int/int division, bit-stable across engines."""
    inter, union = overlap_sizes(x, y)
    return inter.cast("double") / union


def rarest_shingle_pairs(sized: DataFrame, col: str) -> DataFrame:
    """Containment candidates ``doc_small``, ``doc_big`` with their set
    sizes ``sz_a``, ``sz_b`` (and the probe ``shingle``) from a
    ``(doc_id, col, sz)`` frame of nonempty sets of size ``sz``: each
    doc probes the postings of its rarest element only — argmin by
    (document frequency, element), a total order — and pairs with every
    other doc holding it that is larger, or of equal size with a larger
    doc_id. Full containment is caught with certainty (the rarest
    element of A is in every B ⊇ A); the postings joined are those of
    rare elements, short by construction."""
    posts = sized.select("doc_id", "sz", F.explode(col).alias("shingle"))
    df = posts.groupBy("shingle").agg(F.count("*").alias("df"))
    rarest = (
        posts.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.min(F.struct(F.col("df"), F.col("shingle"))).alias("r"),
            F.min("sz").alias("sz"),
        )
    )
    r = rarest.select(
        F.col("doc_id").alias("doc_small"),
        F.col("r.shingle").alias("shingle"),
        F.col("sz").alias("sz_a"),
    )
    p = posts.select(
        F.col("doc_id").alias("doc_big"), "shingle", F.col("sz").alias("sz_b")
    )
    return r.join(p, "shingle").filter(
        (F.col("doc_small") != F.col("doc_big"))
        & (
            (F.col("sz_a") < F.col("sz_b"))
            | ((F.col("sz_a") == F.col("sz_b")) & (F.col("doc_small") < F.col("doc_big")))
        )
    )
