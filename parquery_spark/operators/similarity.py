"""Similarity search over embedding columns (``array<float>``): brute-force
cosine top-k as the exact baseline, random-hyperplane LSH bucketing as the
scale path, and embedding near-duplicate pairs.

Design for 100 TB:

* Vector math stays in the JVM — no Python in the hot path.  Bulk paths
  (top-k scans, bucket signatures) are **explode-shaped**: ``posexplode``
  the vector once, then every dot product is a whole-stage-codegen
  ``SUM(x * element_at(const_array, pos))`` partial aggregation.  Spark's
  higher-order functions (``aggregate``/``zip_with``) are CodegenFallback —
  interpreted per element, ~1000× slower per row for a 12-plane signature —
  so they are kept only for per-PAIR expressions where each row carries two
  different vectors (no shared explode possible).  The explode keeps a
  row's elements contiguous in one partition, so per-id partial sums fold
  left-to-right — float-identical to a sequential dot product.
* Brute-force top-k against one query is explode → partial-agg →
  ``TakeOrderedAndProject`` (no full sort, no shuffle of the corpus when
  the source is id-partitioned; ``fan_out`` repairs under-split local
  corpora).
* The LSH path buckets vectors by sign-bit signature against a fixed set of
  deterministic hyperplanes; queries probe only matching buckets.  Recall is
  tuned by ``num_planes`` and multi-probe hamming radius.  Hyperplanes are
  generated from a seeded RNG so results are reproducible and oracle-testable.
* Near-dup pairs join only within buckets — candidate volume is controlled
  by the signature width, never O(n²).

The reference has no similarity operators (SURVEY.md §2.4).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from parquery_spark.operators.util import fan_out


def _as_double(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return c.cast("array<double>")


def fold_sum(arr: Column | str, term=None) -> Column:
    """THE bit-stable elementwise-sum kernel — every per-row float
    distance/score in the engine routes through here (directly or via
    :func:`dot`/:func:`norm`/:func:`fold_sum_pairs`).

    Pinned semantics, do not vary them per call site:

    * the input array is CAST to ``array<double>`` (float32 inputs widen
      BEFORE any arithmetic — mixed-precision accumulation is the other
      half of the cross-engine divergence class);
    * the accumulator starts at DOUBLE ``0.0``;
    * elements are added strictly left-to-right in array order.

    That recipe is bit-identical to DuckDB's ``list_sum`` /
    ``list_dot_product`` over the same values (property-pinned in
    ``tests/test_property.py``), which is what keeps distance/score
    oracles hash-exact at every SF.  The tempting alternative —
    ``posexplode`` + ``SUM`` partial aggregation — is NOT order-stable
    across engines for per-PAIR math and silently diverges at larger SFs
    (the retired NOTES.md round-4 hazard; the one blessed explode form is
    :func:`_explode_sums`, whose per-id contiguity argument is local to
    this module).

    ``term`` optionally maps each (double) element inside the fold, e.g.
    ``fold_sum(a, lambda v: v * v)`` for a squared norm.
    """
    a = (F.col(arr) if isinstance(arr, str) else arr).cast("array<double>")
    t = term if term is not None else (lambda v: v)
    return F.aggregate(a, F.lit(0.0), lambda acc, v: acc + t(v))


def fold_sum_pairs(a: Column, b: Column, pair) -> Column:
    """Bit-stable fold over element pairs of two equal-length arrays:
    ``sum(pair(a_i, b_i))`` left-to-right.  ``zip_with`` evaluates both
    inputs once; the product array is then folded by :func:`fold_sum`
    under its pinned semantics."""
    return fold_sum(
        F.zip_with(
            a.cast("array<double>"), b.cast("array<double>"), pair
        )
    )


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns — fused zip_with/aggregate."""
    return fold_sum_pairs(a, b, lambda x, y: x * y)


def norm(a: Column) -> Column:
    return F.sqrt(fold_sum(a, lambda v: v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def dot_literal(vec: Column, q: list[float]) -> Column:
    """Dot product against a constant query vector.  Built as an array
    literal + fused zip_with/aggregate loop — NOT an unrolled 64-term sum,
    which would blow past Janino's method-size limit and knock the whole
    stage out of codegen."""
    return dot(_as_double(vec), _lit_array(q))


def _lit_array_sql(vals) -> str:
    """SQL text of a constant ``array<double>`` literal.  ``repr(float)``
    is shortest-round-trip decimal, which Catalyst's double parser maps
    back to the identical bits — pinned by ``tests/test_operators.py``."""
    vals = list(vals)
    if not vals:  # array() parses as array<null>; keep the typed empty
        return "cast(array() as array<double>)"
    return "array(" + ",".join(f"{float(v)!r}D" for v in vals) + ")"


def _lit_array(vals) -> Column:
    """Constant ``array<double>`` literal (constant-folded by Catalyst).

    Built as ONE parsed expression string instead of per-element ``F.lit``
    py4j calls (round 12): a 64-dim query vector cost ~64 gateway round
    trips (~60 ms of driver time) per literal, multiplied by planes/queries
    in every ANN plan; the SQL parser builds the identical foldable array
    in one call."""
    return F.expr(_lit_array_sql(vals))


def _dot_term_sql(vals) -> str:
    """SQL text of the per-element dot-product term against a constant
    vector, for :func:`_explode_sums`: ``x * element_at(const, pos+1)``."""
    return f"__x * element_at({_lit_array_sql(vals)}, __p + 1)"


def _explode_sums(
    df: DataFrame, vec_col: str, id_col: str, terms: dict
) -> DataFrame:
    """One row per id with ``SUM(term(x, pos))`` for every named term —
    the codegen-friendly bulk form of per-vector dot products.

    ``posexplode`` emits a vector's elements contiguously inside one
    partition, so each per-id partial sum accumulates left-to-right —
    float-identical to a sequential fold (and to the SQL oracles'
    ``list_dot_product``).  ``fan_out`` id-partitions an under-split local
    corpus so the groupBy reuses that partitioning (no second exchange);
    at cluster scale the exploded shuffle is why the partitioned ANN index
    (:func:`write_ann_index`) is the preferred probe path.  Ids with empty
    vectors produce no rows (a 0-dim embedding has no defined direction).

    Term values are SQL TEXT over the exploded columns ``__x`` (element,
    double) and ``__p`` (0-based position) — one parser call each, where
    the former ``lambda(x, p)`` Column trees cost dozens of py4j round
    trips per term (round 12; measured ~0.4 s of driver time per 13-term
    call).  Legacy callables are still accepted.
    """
    pos = fan_out(df, id_col).select(
        F.col(id_col), F.posexplode(_as_double(vec_col)).alias("__p", "__x")
    )
    x, p = F.col("__x"), F.col("__p")
    return pos.groupBy(id_col).agg(
        *[
            F.sum(make(x, p)).alias(name) if callable(make)
            else F.expr(f"sum({make}) AS {name}")
            for name, make in terms.items()
        ]
    )


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
) -> DataFrame:
    """Exact brute-force cosine top-k against a constant query vector.

    Plans as scan → posexplode → codegen partial-agg (dot, ‖v‖²) → global
    top-k (Spark's TakeOrderedAndProject: per-partition heap + driver
    merge of k rows — no full sort even at 10^10 rows).
    """
    qn = float(np.linalg.norm(query))
    sums = _explode_sums(
        df, vec_col, id_col,
        {"__dot": _dot_term_sql(query), "__nn": "__x * __x"},
    )
    sim = F.round(
        F.col("__dot") / (F.sqrt(F.col("__nn")) * F.lit(qn)), digits
    )
    return (
        sums.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def hyperplanes(dim: int, num_planes: int = 16, seed: int = 7) -> np.ndarray:
    """Deterministic random hyperplanes for sign-bit LSH."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((num_planes, dim))


def _bucket_from_sums(num_planes: int) -> Column:
    # one parsed expression — the former per-plane Column chain cost
    # ~0.5 s of py4j round trips for 12 planes (round 12)
    return F.expr(
        " + ".join(
            f"(CASE WHEN __d{j} > 0 THEN {1 << j}L ELSE 0L END)"
            for j in range(num_planes)
        )
    )


def lsh_bucket_table(
    df: DataFrame,
    planes: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, bucket) for the whole corpus, explode-shaped: one posexplode,
    then every plane's dot is a codegen ``SUM(x * element_at(plane, pos))``
    partial aggregation — ~1000× less per-row interpreter overhead than
    evaluating ``num_planes`` HOF folds per vector."""
    sums = _explode_sums(
        df, vec_col, id_col,
        {f"__d{j}": _dot_term_sql(plane) for j, plane in enumerate(planes)},
    )
    return sums.select(
        F.col(id_col), _bucket_from_sums(len(planes)).alias("bucket")
    )


def cosine_topk_lsh(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 12,
    probe_hamming: int = 2,
    seed: int = 7,
    digits: int = 6,
) -> DataFrame:
    """Approximate cosine top-k: probe only buckets within ``probe_hamming``
    of the query's LSH bucket, then exact cosine on the candidates.

    At corpus scale the bucket column is a partition/cluster key, so the
    probe prunes both compute AND input (partition pruning on bucket).
    """
    planes = hyperplanes(len(query), num_planes, seed)
    qsig = sum(
        (1 << j) for j, p in enumerate(planes) if float(np.dot(p, query)) > 0
    )
    probe_ids = lsh_bucket_table(df, planes, vec_col, id_col).filter(
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qsig))) <= probe_hamming
    )
    # the probe id set is |ball|/2^planes of the corpus — broadcast it and
    # semi-join to prune the exact-cosine pass.  (With the persisted index
    # layout, cosine_topk_indexed replaces this second scan with directory-
    # level partition pruning.)
    candidates = df.join(
        F.broadcast(probe_ids.select(id_col)), id_col, "left_semi"
    )
    return cosine_topk(candidates, query, k, vec_col, id_col, digits)


def near_dup_bucket_table(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """The ANN near-dup INDEX relation: ``(id, bucket, nrm, v)`` — sign
    bucket, vector norm, and the vector itself, one explode pass.  A pure
    function of (corpus, planes), so production stages it once per corpus
    version (stat-keyed parquet) and feeds it back to
    :func:`near_dup_pairs` via ``bucketed=`` — the hive-partitioned
    :func:`write_ann_index` is the partition-pruned variant of the same
    idea."""
    if dim is None:
        first = df.select(vec_col).first()
        if first is None:
            raise ValueError(
                f"cannot infer embedding dim from an empty corpus; pass "
                f"dim= explicitly (vec_col={vec_col!r})"
            )
        dim = len(first[0])
    planes = hyperplanes(dim, num_planes, seed)
    terms = {f"__d{j}": _dot_term_sql(plane) for j, plane in enumerate(planes)}
    terms["__nn"] = "__x * __x"
    sums = _explode_sums(df, vec_col, id_col, terms)
    return sums.select(
        F.col(id_col),
        _bucket_from_sums(num_planes).alias("bucket"),
        F.sqrt("__nn").alias("nrm"),
    ).join(df.select(F.col(id_col), _as_double(vec_col).alias("v")), id_col)


def _check_injected_bucket_table(
    rel: DataFrame, id_col: str, num_planes: int
) -> None:
    """Cheap structural guard for an INJECTED :func:`near_dup_bucket_table`
    relation (mirrors ``_check_injected_banding`` in operators/dedup.py):
    a table built with a different ``num_planes`` carries bucket ids the
    call's bucket space can't contain, and a missing column means the
    artifact is not a bucket table at all — both would otherwise yield
    wrong or empty pairs with only the artifact's logic tag as defense.
    One-row probe: the relation is internally homogeneous (every row
    built by the same recipe), so O(1) at any corpus size.  A ``seed``
    mismatch at the SAME width is not detectable structurally — that
    remains the tag's job."""
    need = {id_col, "bucket", "nrm", "v"}
    missing = need - set(rel.columns)
    if missing:
        raise ValueError(
            f"near_dup_pairs: injected bucket table lacks columns "
            f"{sorted(missing)}"
        )
    probe = rel.select(F.col("bucket").alias("b")).first()
    if probe is None:
        return  # empty relation: nothing to validate
    if not (0 <= probe["b"] < 2 ** num_planes):
        raise ValueError(
            f"near_dup_pairs: injected bucket table has bucket id "
            f"{probe['b']} outside [0, 2**{num_planes}) — built with a "
            "different num_planes (stale artifact: bump its logic tag)"
        )


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    seed: int = 7,
    digits: int = 6,
    dim: int | None = None,
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucketing: vectors in
    the same sign-bit bucket are verified with exact cosine.  High
    thresholds ⇒ near-identical vectors ⇒ same bucket with high
    probability; join is quadratic only within buckets.

    Pass ``dim`` (the embedding width) explicitly when known: it is needed
    driver-side to generate the hyperplanes, and without it an extra
    Spark job (``first()``) probes the data — which also fails on an
    empty corpus.

    ``bucketed`` injects a precomputed :func:`near_dup_bucket_table`
    relation (typically a stat-keyed storage artifact) — it MUST have
    been built with the same (num_planes, seed, dim) or buckets/norms
    silently disagree; the artifact's logic tag carries those params."""
    # bucket + ‖v‖² in ONE explode pass (codegen partial-aggs); the vector
    # itself is joined back for the per-pair verification.  The relation
    # feeds both sides of the bucket self-join as ALIAS references
    # (operators/reuse.py), so ReuseExchange computes the explode +
    # norm aggregation once — no persisted intermediate (the old
    # MEMORY_AND_DISK persist here leaked one session-lived cache per
    # call); per-id norms computed here mean the per-pair expression is
    # a single dot product.
    if bucketed is None:
        bucketed = near_dup_bucket_table(
            df, vec_col, id_col, num_planes, seed, dim
        )
    else:
        _check_injected_bucket_table(bucketed, id_col, num_planes)
    from parquery_spark.operators.reuse import self_join_reusing
    from parquery_spark.operators.util import fan_out

    # Spread the verify join's probe side (round 12, guide §2.5): the
    # join key has only 2**num_planes distinct values, so an under-split
    # input (a compact index artifact reads as ONE split locally) runs
    # the whole bucket-quadratic HOF-dot verification on one task — the
    # broadcast hash join inherits the probe side's layout, never the
    # key's.  Keying the spread by id keeps it balanced regardless of
    # bucket skew, both sides still share the one exchange via
    # ReuseExchange, and at cluster scale (well-split index) fan_out is
    # a no-op.  Measured: 2.22 s -> 0.61 s at sf0.1, identical pairs.
    bucketed = fan_out(bucketed, id_col)

    pairs = self_join_reusing(
        bucketed,
        (F.col("__ca.bucket") == F.col("__cb.bucket"))
        & (F.col(f"__ca.{id_col}") < F.col(f"__cb.{id_col}")),
        a="__ca", b="__cb",
    )
    # per-pair: each row carries two DIFFERENT vectors, so there is no
    # shared explode — the one HOF dot per candidate pair stays; candidate
    # volume (bucket-quadratic, threshold-pruned) bounds the cost
    sim = F.round(
        dot(F.col("__ca.v"), F.col("__cb.v"))
        / (F.col("__ca.nrm") * F.col("__cb.nrm")),
        digits,
    )
    return (
        pairs.select(
            F.col(f"__ca.{id_col}").alias("id_a"),
            F.col(f"__cb.{id_col}").alias("id_b"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# Persisted ANN index: hive layout partitioned by LSH bucket
# ---------------------------------------------------------------------------

def hamming_ball(center: int, num_planes: int, radius: int) -> list[int]:
    """All bucket ids within ``radius`` bit-flips of ``center`` — the
    multi-probe set, enumerated driver-side (|ball| = Σ C(num_planes, r),
    e.g. 79 buckets for num_planes=12, radius=2)."""
    from itertools import combinations

    out = []
    for r in range(radius + 1):
        for flips in combinations(range(num_planes), r):
            b = center
            for j in flips:
                b ^= 1 << j
            out.append(b)
    return out


def write_ann_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 12,
    seed: int = 7,
    dim: int | None = None,
    mode: str = "overwrite",
) -> str:
    """Persist the corpus hive-partitioned by sign-bit LSH bucket — the
    end-to-end ANN layout: one directory per bucket, so a probe query's
    bucket predicate becomes a **PartitionFilter** and the scan never opens
    non-probed buckets' files.  At 100 TB that turns every query from a
    full-corpus scan into |ball|/2^num_planes of the input (≈0.6 % for
    12 planes, radius 2).

    The hyperplanes are regenerated from (dim, num_planes, seed) at query
    time, so the layout is self-describing given those three parameters —
    persist them alongside the index in real deployments."""
    from parquery_spark.sources.parquet import write_partitioned

    if dim is None:
        first = df.select(vec_col).first()
        if first is None:
            raise ValueError("cannot infer dim from an empty corpus; pass dim=")
        dim = len(first[0])
    planes = hyperplanes(dim, num_planes, seed)
    bucketed = df.join(
        lsh_bucket_table(df, planes, vec_col, id_col), id_col
    )
    return write_partitioned(bucketed, path, ["bucket"], mode=mode)


def cosine_topk_indexed(
    spark,
    index_path: str,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 12,
    probe_hamming: int = 2,
    seed: int = 7,
    digits: int = 6,
) -> DataFrame:
    """Approximate cosine top-k against a :func:`write_ann_index` layout.

    The probe buckets are enumerated driver-side (:func:`hamming_ball`)
    and applied as ``bucket IN (...)`` — an In predicate on the partition
    column, which Spark turns into directory-level pruning (verify with
    ``.explain``: ``PartitionFilters: [bucket#.. IN (..)]``).  Exact cosine
    then ranks only the surviving ≤ |ball| buckets."""
    planes = hyperplanes(len(query), num_planes, seed)
    qsig = sum(
        (1 << j) for j, p in enumerate(planes) if float(np.dot(p, query)) > 0
    )
    probes = hamming_ball(qsig, num_planes, probe_hamming)
    from parquery_spark import relations

    candidates = relations.get_relation(spark, index_path).filter(
        F.col("bucket").isin(probes)
    )
    return cosine_topk(candidates, query, k, vec_col, id_col, digits)


def ann_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 12,
    probe_hamming: int = 2,
    seed: int = 7,
    digits: int = 6,
) -> DataFrame:
    """Batch kNN JOIN between two corpora (retrieval eval, embedding-level
    decontamination): for every query vector, the top-``k`` cosine
    neighbors among corpus vectors whose LSH bucket lies within
    ``probe_hamming`` of the query's.

    The non-equi "hamming ≤ r" condition is turned into an EQUI-join by
    exploding each query row into its hamming ball (|ball| = Σ C(planes,i),
    e.g. 79 keys for 12 planes / radius 2) — the query side is the small
    side, so the explode multiplies the cheap relation while the corpus
    relation joins on its single bucket key, shuffled once, never
    scanned per query.  Ranking rounds cosine BEFORE the row_number so
    tie-breaks (then corpus id) are engine-independent.
    """
    planes = hyperplanes_for(queries, corpus, vec_col, num_planes, seed)

    def side(df, prefix):
        terms = {f"__d{j}": _dot_term_sql(pl) for j, pl in enumerate(planes)}
        terms["__nn"] = "__x * __x"
        sums = _explode_sums(df, vec_col, id_col, terms)
        return sums.select(
            F.col(id_col).alias(f"{prefix}_id"),
            _bucket_from_sums(num_planes).alias(f"{prefix}_bucket"),
            F.sqrt("__nn").alias(f"{prefix}_nrm"),
        ).join(
            df.select(
                F.col(id_col).alias(f"{prefix}_id"),
                _as_double(vec_col).alias(f"{prefix}_v"),
            ),
            f"{prefix}_id",
        )

    q = side(queries, "q")
    c = side(corpus, "c")

    masks = [
        m for m in range(1 << num_planes) if bin(m).count("1") <= probe_hamming
    ]
    # one parsed explode over the whole hamming ball — the per-mask
    # Column chain cost ~0.4 s of py4j round trips for 79 masks (round 12)
    ball = ",".join(f"(q_bucket ^ {m})" for m in masks)
    probed = q.select(
        "q_id", "q_nrm", "q_v",
        F.expr(f"explode(array({ball}))").alias("c_bucket"),
    )
    sim = F.round(
        dot(F.col("q_v"), F.col("c_v")) / (F.col("q_nrm") * F.col("c_nrm")),
        digits,
    )
    pairs = (
        probed.join(c, "c_bucket")
        .select("q_id", "c_id", sim.alias("cosine_sim"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_sim").desc(), F.col("c_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplanes_for(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    num_planes: int,
    seed: int,
) -> np.ndarray:
    """Hyperplanes sized from the schema when possible, else one sample."""
    for df in (queries, corpus):
        dt = dict(df.dtypes).get(vec_col, "")
        m = None
        if dt.startswith("array"):
            row = df.select(F.size(vec_col).alias("n")).first()
            m = row["n"] if row else None
        if m:
            return hyperplanes(int(m), num_planes, seed)
    raise ValueError(f"cannot determine embedding dim from {vec_col!r}")


def group_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Per-group centroid (mean vector), DETERMINISTICALLY: one row per
    (group, dimension) with the mean component.

    Distributed float addition is order-dependent — a plain ``AVG`` over a
    shuffled explode gives hash-unstable low bits run to run.  Components
    here are summed in DECIMAL(28,12): exact, associative, commutative —
    the mean is a pure function of the data regardless of partition
    layout, which is what makes centroids cachable/oracle-testable.
    (float32 inputs are exactly representable in 12 fractional decimal
    digits only after rounding; the cast rounds identically on any
    engine, so determinism holds end to end.)

    Output: ``(group_col, pos, c, n)`` — dimension index (0-based), the
    rounded mean component, and the vector count.
    """
    pos = df.select(
        F.col(group_col), F.posexplode(_as_double(vec_col)).alias("pos", "__x")
    )
    agg = pos.groupBy(group_col, "pos").agg(
        F.sum(F.col("__x").cast("decimal(28,12)")).alias("__s"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(
        F.col(group_col),
        F.col("pos"),
        F.round(F.col("__s").cast("double") / F.col("n"), digits).alias("c"),
        F.col("n"),
    )


def _mmr_kernel(k: int, lam: float, mu: float, digits: int, id_col: str):
    """``applyInPandas`` factory: one bounded rerank window (≤ ``pool``
    rows: (query_id, id, vector, rel)) → the MMR-selected top-``k`` with
    scores.

    Float discipline: every dot product is a strict left-to-right DOUBLE
    fold — the Python twin of :func:`fold_sum`'s pinned semantics (and of
    the oracle's ``list_dot_product``) — and every similarity/score is
    rounded to ``digits`` BEFORE any comparison, so selection order is a
    function of decimal-quantized values both engines agree on.  The
    max-similarity term is the TRUE max over the chosen set (it can be
    negative — clamping at 0 is a classic MMR implementation bug that
    under-penalizes anti-correlated picks).

    The SCORE is rounded at ``digits + 1``, not ``digits``: with rel/sim
    quantized at 1e-6, ``0.7·rel − 0.3·maxsim`` is an EXACT decimal
    multiple of 1e-7, so rounding it at 6 digits lands on the decimal
    half-way point with probability ~1/10 per row — exactly where
    Python/Spark/DuckDB tie rules differ (measured: 1 flipped last digit
    in 40 rows at sf0.001).  At 7 digits the value sits ON a grid point
    (binary error ~1e-16 vs 5e-8 to the nearest boundary), so every
    engine rounds identically with no tie exposure."""
    import math

    def dot_lr(a: list[float], b: list[float]) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def fn(pdf):
        import pandas as pd

        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        ids = [int(i) for i in pdf[id_col]]
        vecs = [[float(x) for x in v] for v in pdf["__v"]]
        rels = [float(r) for r in pdf["__rel"]]
        qid = int(pdf["query_id"].iloc[0])
        norms = [math.sqrt(dot_lr(v, v)) for v in vecs]
        n = len(ids)
        maxsim: list[float | None] = [None] * n
        remaining = list(range(n))  # vec-id ascending (pre-sorted)
        out_rank: list[int] = []
        out_id: list[int] = []
        out_score: list[float] = []
        for rank in range(1, min(k, n) + 1):
            best, best_score = None, None
            if rank == 1:
                # base case: nothing is selected yet, so the MMR score is
                # a monotone function of rel alone — pick by RAW rel
                # (ids ascending, strict >, so ties go to the smallest
                # id), matching the oracle CTE's base-case ORDER BY rel.
                # Scaling/rounding lam*rel BEFORE the argmax would let
                # distinct rels collapse onto one digits+1 grid point for
                # small lam (≲0.05 at digits=6) and flip the pick.
                for i in remaining:
                    if best is None or rels[i] > rels[best]:
                        best = i
                best_score = round(lam * rels[best], digits + 1)
            else:
                for i in remaining:
                    score = round(
                        lam * rels[i] - mu * maxsim[i], digits + 1
                    )
                    if best is None or score > best_score:
                        best, best_score = i, score
            out_rank.append(rank)
            out_id.append(ids[best])
            out_score.append(best_score)
            remaining.remove(best)
            for i in remaining:
                sim = round(
                    dot_lr(vecs[i], vecs[best]) / (norms[i] * norms[best]),
                    digits,
                )
                if maxsim[i] is None or sim > maxsim[i]:
                    maxsim[i] = sim
        return pd.DataFrame(
            {
                "query_id": [qid] * len(out_rank),
                "rank": out_rank,
                id_col: out_id,
                "mmr_score": out_score,
            }
        )

    return fn


def mmr_rerank(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    pool: int = 25,
    lam: float = 0.7,
    mu: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    digits: int = 6,
) -> DataFrame:
    """Maximal-marginal-relevance diversity selection over bounded rerank
    windows — the standard de-redundancy step between retrieval and
    consumption (Carbonell & Goldstein 1998), here shaped for a training-
    data pipeline: pick ``k`` of the ``pool`` most query-relevant items
    per query so the selected set trades relevance against redundancy
    (``score = lam·rel − mu·max_{s∈S} sim(c, s)``).

    Scale shape: ``queries`` is a bounded probe batch (the same driver-
    side scalar class as :func:`cosine_topk`'s literal query — at corpus
    scale the query side would be a keyed relation feeding an ANN probe,
    q83/q69's path).  Candidate relevance is computed JVM-side per pair
    against the broadcast literal query relation; the per-query pool cut
    is a window top-``pool``; only then does each ≤``pool``-row window
    enter the Arrow-batched Python kernel — the iterative argmax is
    inherently sequential PER WINDOW, but windows parallelize freely
    across queries, so the Python path is bounded at ``pool × k`` dots
    per query regardless of corpus size.

    Degenerate inputs: zero-norm candidates are excluded from the pool
    (no defined direction — the module-wide convention, see
    :func:`_explode_sums`); rank 1 is selected by RAW relevance (ids
    ascending on ties), matching the oracle CTE's base case for every
    ``lam`` — including tiny values where ``round(lam·rel, digits+1)``
    would collapse distinct rels onto one grid point."""
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in queries],
        "query_id long, qv array<double>",
    )
    cand = (
        fan_out(df, id_col)
        .crossJoin(F.broadcast(qdf))
        .where(F.col(id_col) != F.col("query_id"))
    )
    rel = F.round(cosine(_as_double(vec_col), F.col("qv")), digits)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("__rel").desc(), F.col(id_col)
    )
    pool_df = (
        cand.select(
            "query_id",
            F.col(id_col),
            _as_double(vec_col).alias("__v"),
            rel.alias("__rel"),
        )
        # a zero-norm candidate has no defined direction (the module-wide
        # convention, see _explode_sums): its rel is NULL/NaN on the JVM
        # path and would raise ZeroDivisionError inside the Python kernel
        # when it meets norms[i]*norms[best] — drop it before the pool cut
        .where(fold_sum(F.col("__v"), lambda v: v * v) > 0.0)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= pool)
        .drop("__rn")
    )
    out_schema = (
        f"query_id long, rank int, {id_col} long, mmr_score double"
    )
    return pool_df.groupBy("query_id").applyInPandas(
        _mmr_kernel(k, lam, mu, digits, id_col), out_schema
    )
