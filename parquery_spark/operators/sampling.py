"""Deterministic sampling operators for training-data pipelines.

``df.sample()`` is seed-stable only for a FIXED partitioning — a repartition,
a changed split count, or a re-run over a grown corpus reshuffles which rows
survive.  Training pipelines need the opposite contract: membership decided
by the ROW (content-hash), so a sample is reproducible across runs,
engines, partition layouts, and incremental corpus growth (rows never flip
in or out when unrelated rows arrive).  Both operators here hash a key
column with the same md5 family the dedup operators use
(:func:`~parquery_spark.operators.dedup.hash64`), which is bit-identically
computable in ANSI SQL — so even the samplers are oracle-gated.

Scale shape: ``hash_sample`` is a pure narrow filter (pushes work to zero —
no shuffle, no state); ``top_n_per_stratum`` is one window over a
``(stratum, hash)`` sort — the same partial-sortable shape as any top-n,
with no skew hazard beyond the stratum sizes themselves.

The reference has no sampling operators (SURVEY.md §2.4); this module is
part of the beyond-reference LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from parquery_spark.operators.dedup import hash64

#: hash64 yields 60 uniform bits; rates are applied against this modulus
_HASH_SPACE = 1 << 60


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    seed: int = 0,
) -> DataFrame:
    """Keep ~``fraction`` of rows, membership decided by the key's hash.

    Content-addressed: the same key survives every run, engine, partition
    layout, and corpus size — the reproducibility contract ``df.sample``
    cannot give.  Plans as a narrow filter (no shuffle)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    c = F.col(key_col).cast("string")
    return df.filter(hash64(c, seed) < F.lit(int(fraction * _HASH_SPACE)))


def top_n_per_stratum(
    df: DataFrame,
    stratum_cols: list[str],
    key_col: str,
    n: int,
    seed: int = 0,
) -> DataFrame:
    """Exactly ``min(n, |stratum|)`` rows per stratum, chosen by hash order
    — the deterministic replacement for per-group reservoir sampling
    (balanced class subsets, per-language caps, eval-split carve-outs).

    Hash-ordering makes the choice uniform-ish and reproducible; ties on
    the key break by the key itself, so unique keys ⇒ a total order ⇒
    an exactly-reproducible sample."""
    c = F.col(key_col).cast("string")
    w = Window.partitionBy(*stratum_cols).orderBy(
        hash64(c, seed).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n)
        .drop("__rk")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: Column | str,
    k: int,
    key: str,
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement (Efraimidis-
    Spirakis A-ES): row priority ``ln(u)/w`` with ``u`` drawn from the
    row's content hash, take the top ``k`` priorities.  Inclusion
    probability is proportional to weight (length-proportional corpus
    sampling, quality-weighted curation), yet the draw is a pure function
    of (key, seed) — reproducible across runs, engines, and partition
    layouts, like every sampler here.

    Plan shape: narrow map (hash + ln) → ``TakeOrderedAndProject`` — no
    full sort, no shuffle of the corpus.  Rows with non-positive weight
    are excluded (their inclusion probability is zero).
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (hash64(F.col(key).cast("string"), seed) + F.lit(1)) / F.lit(
        float(_HASH_SPACE)
    )
    priority = F.log(u) / w
    return (
        df.filter(w > 0)
        .orderBy(priority.desc(), F.col(key))
        .limit(k)
    )
