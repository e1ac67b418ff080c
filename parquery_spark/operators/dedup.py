"""Deduplication operators for training-data pipelines: exact, fingerprint,
MinHash+LSH, SimHash, and n-gram Jaccard near-dup.

Design for 100 TB:

* **No all-pairs comparison anywhere.**  Every near-dup operator reduces to
  (a) a narrow map computing per-doc signatures (JVM expressions, no UDFs),
  (b) a shuffle keyed on a *bucket* (LSH band, simhash band, or blocking
  key), and (c) pair verification only inside buckets.  Candidate volume is
  controlled by band/row parameters, not data size.
* **Deterministic md5-based hash family.**  Base hash = first 8 hex chars
  of md5 as int64, reduced mod 2^31-1; the MinHash family is the classic
  affine ``h_i(x) = (a_i * x + b_i) mod 2^31-1`` over that base — one md5
  per shingle total.  Chosen because both Spark
  (``conv(substring(md5(..)))``) and standard SQL engines compute it
  bit-identically, making the probabilistic operators differentially
  testable against a SQL oracle.  (A production deployment would swap the
  base for xxhash64 for speed; the operator shape is identical.)
* Skewed buckets (a shingle that appears in every doc) are the classic LSH
  hazard; AQE skew-join handles moderate skew, and ``max_bucket_size``
  drops degenerate buckets outright — standard practice at corpus scale.

The reference has no dedup operators (SURVEY.md §2.4); these are the
beyond-reference pipeline capabilities.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from parquery_spark.operators.reuse import aliased_refs, self_join_reusing

from parquery_spark.functions.text import fingerprint, normalized_text
from parquery_spark.operators.util import fan_out

# ---------------------------------------------------------------------------
# shared hash family
# ---------------------------------------------------------------------------

def hash64(c: Column, seed: int | None = None) -> Column:
    """Deterministic 60-bit non-negative hash of a string column via md5.

    Bit-identical to the SQL ``('0x' || substr(md5(s || '#<seed>'), 1, 15))
    ::BIGINT`` so oracle engines can replicate it exactly.
    """
    if seed is not None:
        c = F.concat(c, F.lit(f"#{seed}"))
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash32(c: Column) -> Column:
    """32-bit variant (for per-bit SimHash arithmetic)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


#: Mersenne prime modulus for the affine MinHash family.
MINHASH_P = (1 << 31) - 1


#: parsed-Column cache for the wide MinHash/banding expression trees,
#: keyed on (SparkContext id, recipe params) — round 13, VERDICT r12 #7:
#: probes re-parsed the identical ``num_hashes``-wide trees on every
#: call (~0.3 s of py4j/parse per q82 probe).  Unresolved Columns are
#: immutable and safe to reuse across plans within one JVM; keying on
#: the context id drops entries from a stopped session.  Plan objects
#: only, never data.
_EXPR_CACHE: dict[tuple, object] = {}


def _cached_exprs(kind: str, params: tuple, build):
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    key = (id(sc), kind, params)
    hit = _EXPR_CACHE.get(key)
    if hit is None:
        if len(_EXPR_CACHE) > 256:  # bounded: recipes are few
            _EXPR_CACHE.clear()
        hit = _EXPR_CACHE[key] = build()
    return hit


def minhash_coefficients(num_hashes: int, seed: int = 9) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine hash family
    ``h_i(x) = (a_i * x + b_i) mod P`` over the base md5 hash.  One md5 per
    shingle + ``num_hashes`` integer transforms — instead of ``num_hashes``
    md5 evaluations — is the classic MinHash construction and ~an order of
    magnitude cheaper.  All operands stay < 2^62, so the arithmetic is
    exact in int64 on any engine (oracle-replicable)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


# ---------------------------------------------------------------------------
# exact + fingerprint dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, subset: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact duplicate group (hash group-by —
    one shuffle on the dedup key, map-side partial aggregation)."""
    return (
        df.groupBy(*subset)
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def fingerprint_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-exact dedup on the md5 fingerprint of normalized text
    (case/punctuation/whitespace-insensitive)."""
    return (
        df.select(fingerprint(text_col).alias("fingerprint"), id_col)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


# ---------------------------------------------------------------------------
# tokens & shingles
# ---------------------------------------------------------------------------

def shingle_tokens(text: Column | str) -> Column:
    """Lowercased word tokens for shingling (empty tokens removed)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.split(F.lower(c), r"[^a-z0-9']+"), lambda t: t != F.lit("")
    )


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """k-word shingles as strings; empty array when the doc has < k words.

    Built by zipping the token array with its own k-1 shifted copies —
    NOT by ``slice`` inside a ``transform`` lambda: higher-order-function
    lambdas are interpreted per element without subexpression hoisting, so
    an embedded ``slice(tokens, i, k)`` re-evaluates the tokenizer once per
    shingle position (O(n) full-text splits per doc — measured ~10× slower
    at corpus scale).  ``zip_with`` evaluates its collection inputs once
    per row."""
    w = shingle_tokens(text)
    if k == 1:
        return w
    arr = w
    for j in range(1, k):
        # zip_with pads the shorter side with null; concat_ws skips nulls,
        # leaving short partial shingles at the tail — sliced off below
        arr = F.zip_with(
            arr,
            F.slice(w, j + 1, F.greatest(F.size(w) - j, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(
        F.size(w) >= k, F.slice(arr, 1, F.size(w) - k + 1)
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _est_jaccard(num_hashes: int) -> "Column":
    """``round(#equal sig positions / num_hashes, 6)`` over ``sig_a`` /
    ``sig_b`` — one parsed expression (the per-position Column chain cost
    ~16 py4j round trips per position; round 12)."""
    def build():
        eq = " + ".join(
            f"cast(element_at(sig_a, {i + 1}) = element_at(sig_b, {i + 1})"
            " as int)"
            for i in range(num_hashes)
        )
        return F.expr(f"round(({eq}) / {float(num_hashes)!r}D, 6)")

    return _cached_exprs("est_jaccard", (num_hashes,), build)


def minhash_signature(
    text: Column | str, num_hashes: int = 16, shingle_k: int = 3
) -> Column:
    """Array of ``num_hashes`` minima over the shingle set — the classic
    MinHash signature; E[fraction of equal positions] = Jaccard.

    Column-expression form for single-row/ad-hoc use.  For corpus-scale
    signature computation use :func:`minhash_signatures`, which plans as
    explode → hash → partial aggregation instead of nested array lambdas
    (Catalyst re-inlines shared lambda subexpressions, so the expression
    form recomputes the shingle array once per hash seed — measured 30×
    slower at corpus scale)."""
    sh = word_shingles(text, shingle_k)
    base = F.transform(sh, lambda s: hash32(s) % F.lit(MINHASH_P))

    # NB: coefficients must be bound via closure, not a defaulted second
    # lambda arg — F.transform passes the ELEMENT INDEX to 2-arg lambdas.
    def affine(a, b):
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)

    return F.array(
        *[
            F.array_min(F.transform(base, affine(a, b)))
            for a, b in minhash_coefficients(num_hashes)
        ]
    )


def gram_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    partition_by_id: bool = True,
) -> DataFrame:
    """One row per doc: ``(id, s = distinct shingles, n = |s|)`` — the
    shared input of signature computation AND exact-Jaccard verification.

    ``partition_by_id`` applies :func:`~parquery_spark.operators.util.
    fan_out` on the raw ``(id, text)`` rows BEFORE shingling: on an
    under-split local corpus (one small parquet file → one task) it
    hash-repartitions on the id so the shingle compute runs on all cores
    AND the downstream ``groupBy(id)`` partial-agg needs no further
    shuffle; on a well-split cluster-scale corpus it is a no-op (no
    gratuitous full-text shuffle).  NOTE on fan-out: consumers whose
    plans stay canonically identical up to an exchange (an ALIAS-based
    self-join, or two branches hash-partitioned by the same column over
    the identical subtree) share the exchange via ReuseExchange and the
    shingle pass below it runs once; a consumer with a structurally
    different plan (e.g. a groupBy at another key) re-executes the
    narrow shingle projection.  A caller fanning the sets out to many
    heterogeneous consumers stages them to storage (or passes a
    caller-OWNED persisted handle via the ``sets`` parameters) — the
    operators here deliberately persist nothing themselves."""
    # the zip_with shingle tree costs ~15 py4j calls to build; parse once
    # per (column name, k) and reuse across probes (_EXPR_CACHE, round 13)
    grams = (
        _cached_exprs(
            "shingles", (text_col, shingle_k),
            lambda: (
                word_shingles(text_col, shingle_k) if shingle_k > 1
                else shingle_tokens(text_col)
            ),
        )
        if isinstance(text_col, str)
        else (
            word_shingles(text_col, shingle_k) if shingle_k > 1
            else shingle_tokens(text_col)
        )
    )
    src = df.select(F.col(id_col), F.col(text_col))
    if partition_by_id:
        src = fan_out(src, id_col)
    return src.select(
        F.col(id_col), F.array_distinct(grams).alias("s")
    ).withColumn("n", F.size("s"))


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Corpus-scale MinHash signatures, explode-shaped:

    scan → shingle (once per doc) → explode to (id, shingle) rows → all
    ``num_hashes`` hashes per row (one md5 each) → groupBy(id).min per seed.

    The group-by partial-aggregates map-side, so the shuffle carries one
    ``num_hashes``-wide row per doc per task — not per shingle.  Docs with
    fewer than ``shingle_k`` words have no shingles and are omitted (their
    signature is undefined; the LSH layer treats them as unpairable, which
    matches SQL-oracle NULL-key semantics).

    Pass a precomputed :func:`gram_sets` DataFrame via ``sets`` to share
    the shingle pass with other consumers (MinHash over the distinct set
    equals MinHash over the multiset — min ignores duplicates)."""
    coeffs = minhash_coefficients(num_hashes)
    if sets is None:
        # partition_by_id also fans the shingle/hash compute out to all
        # cores on an under-split corpus; the groupBy(id) below then
        # re-uses that partitioning instead of adding a shuffle
        sets = gram_sets(df, text_col, id_col, shingle_k, partition_by_id=True)
    exploded = sets.select(
        F.col(id_col), F.explode("s").alias("__shingle")
    ).select(
        F.col(id_col),
        (hash32(F.col("__shingle")) % F.lit(MINHASH_P)).alias("__h"),
    )
    # one parsed expression per seed (the Column chain cost ~6 py4j round
    # trips per seed; round 12) — literals are < 2^31 so the parser types
    # them INT exactly like F.lit, and INT * BIGINT promotes identically.
    # The whole per-seed list and the sig-array column parse once per
    # (num_hashes) and are reused across probes (_EXPR_CACHE, round 13).
    min_exprs = _cached_exprs(
        "minhash_mins", (num_hashes,),
        lambda: [
            F.expr(f"min(({a} * __h + {b}) % {MINHASH_P}) AS __h{i}")
            for i, (a, b) in enumerate(coeffs)
        ],
    )
    sig_expr = _cached_exprs(
        "minhash_sig", (num_hashes,),
        lambda: F.array(
            *[f"__h{i}" for i in range(num_hashes)]
        ).alias("sig"),
    )
    mins = exploded.groupBy(id_col).agg(*min_exprs)
    return mins.select(F.col(id_col), sig_expr)



def _check_injected_banding(
    rel: DataFrame, num_hashes: int, bands: int, what: str
) -> None:
    """Cheap structural guard for an INJECTED banded-signature relation
    (a stat-keyed artifact or caller-persisted index): a relation built
    with different ``num_hashes`` would silently yield wrong or NULL
    ``est_jaccard`` (``element_at`` past the sig array end), and a
    different ``bands`` recipe would silently produce empty joins (band
    keys never match).  The probe reads ONE row (O(1) at any corpus
    size) — artifacts are internally homogeneous (every row is built by
    the same recipe), so a single row catches the stale/mismatched-
    artifact class this guards against."""
    need = {"band", "band_key", "sig"}
    missing = need - set(rel.columns)
    if missing:
        raise ValueError(
            f"{what}: injected banding lacks columns {sorted(missing)}"
        )
    probe = rel.select(
        F.size("sig").alias("n"), F.col("band").alias("b")
    ).first()
    if probe is None:
        return  # empty relation: nothing to validate
    if probe["n"] != num_hashes:
        raise ValueError(
            f"{what}: injected banding carries {probe['n']}-hash "
            f"signatures but the call expects num_hashes={num_hashes} — "
            "stale or mismatched artifact (bump its logic tag)"
        )
    if probe["b"] >= bands or probe["b"] < 0:
        raise ValueError(
            f"{what}: injected banding has band id {probe['b']} outside "
            f"the call's bands={bands}"
        )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int = 1000,
    sets: DataFrame | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs with estimated Jaccard.

    Pipeline: signature (narrow map) → explode to ``bands`` band keys →
    self-join on the band key (shuffle on band hash — candidates only, never
    all pairs) → estimate Jaccard from full signatures.  Buckets larger than
    ``max_bucket_size`` are dropped (degenerate content); at corpus scale
    this bounds the worst-case join fan-out.

    ``banded`` injects a precomputed :func:`band_keys` relation —
    typically a stat-keyed STORAGE artifact (signatures are a pure
    function of the corpus version; production computes them once per
    corpus, not once per query — :func:`write_minhash_index` is the
    partitioned variant of the same idea).  When omitted, the banding is
    derived inline and the self-join sides share one execution of it via
    ReuseExchange (alias self-join, no persisted intermediate).

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduplicated across
    bands.
    """
    if banded is None:
        banded = band_keys(
            df, text_col, id_col, num_hashes, bands, shingle_k, sets=sets
        )
    else:
        _check_injected_banding(banded, num_hashes, bands,
                                "lsh_candidate_pairs(banded=)")

    # drop degenerate buckets before the join
    sized = banded.withColumn(
        "bucket_n",
        F.count(F.lit(1)).over(Window.partitionBy("band", "band_key")),
    ).filter(F.col("bucket_n") <= max_bucket_size)

    # Alias-based SELF-join over the one plan object (operators/reuse.py):
    # ReuseExchange unifies the sides' shuffle subtrees and the shingle →
    # explode → 16-way min-agg → banding map work executes ONCE, the
    # second side reading the same map output — the zero-cache
    # replacement for the MEMORY_AND_DISK persist this operator used to
    # leak per call.  Only the bucket-count window above the reused
    # exchange runs per side — a sort+count over already-shuffled
    # compact rows.
    # est_jaccard is computed BEFORE the cross-band pair dedup: it is a
    # pure function of the two signatures, so every duplicate (id_a,
    # id_b) row carries bit-identical values and distinct over the three
    # narrow columns returns exactly the former first()-through-dedup
    # rows — but the dedup exchange ships 24 bytes/pair instead of two
    # num_hashes-long arrays, and the aggregate plans hash-partial
    # map-side instead of SortAggregate-with-first over array buffers.
    return (
        self_join_reusing(
            sized,
            (F.col("__la.band") == F.col("__lb.band"))
            & (F.col("__la.band_key") == F.col("__lb.band_key")),
            a="__la", b="__lb",
        )
        .filter(F.col(f"__la.{id_col}") < F.col(f"__lb.{id_col}"))
        .select(
            F.col(f"__la.{id_col}").alias("id_a"),
            F.col(f"__lb.{id_col}").alias("id_b"),
            F.col("__la.sig").alias("sig_a"),
            F.col("__lb.sig").alias("sig_b"),
        )
        .select("id_a", "id_b", _est_jaccard(num_hashes).alias("est_jaccard"))
        .dropDuplicates()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, blocked)
# ---------------------------------------------------------------------------

def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str] | None = None,
    threshold: float = 0.5,
    shingle_k: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word (or k-shingle) sets, computed by
    inverted-index co-occurrence — the scalable exact-verification plan:

    1. one row per (block, doc, distinct gram)  — explode, narrow
    2. self-equi-join on (block, gram)          — pairs sharing ≥1 gram;
       pairs sharing nothing never materialize at all
    3. groupBy(pair).count                      — |A∩B| via partial-agg
    4. join per-doc set sizes back              — |A∪B| = |A|+|B|-|A∩B|

    Compared to an all-pairs block join with per-pair ``array_intersect``,
    this ships only (gram, id) rows through the shuffle — never the gram
    arrays — and its cost is Σ_g df(g)² within blocks, not |block|².
    A pathologically common gram is the skew hazard: AQE skew-join
    splitting handles moderate cases; for adversarial corpora set
    ``max_df`` to drop stop-grams whose within-block document frequency
    exceeds the cap BEFORE the self-join.  The pair-volume contribution of
    a gram is df(g)², so capping bounds step 2 at Σ_g min(df(g), max_df)²
    — a ubiquitous token (df = |corpus|) goes from |corpus|² to zero.
    With ``max_df`` set, ``jaccard`` is computed over the capped
    vocabulary on BOTH sides of the ratio (stop-grams leave the union as
    well as the intersection): the result is exact Jaccard of the
    *informative* grams, the standard stop-word-filtered similarity.
    Only pairs with ``jaccard >= threshold`` (after 6-digit rounding) are
    returned; pairs with zero overlap are definitionally below any
    positive threshold.

    Cache contract: NONE — this operator persists nothing.  The two
    inverted-index join sides are an alias self-join whose exchange
    subtrees ReuseExchange unifies (the index is built once); only the
    per-doc size branch re-runs the narrow shingle projection, an extra
    corpus map scan with no extra shuffle.  A caller that needs
    shingle-once across MANY consumers stages the sets to storage (the
    ``write_minhash_index`` pattern) and owns that artifact."""
    grams = (
        word_shingles(text_col, shingle_k) if shingle_k > 1
        else shingle_tokens(text_col)
    )
    blocks = list(block_cols or [])
    base = fan_out(
        df.select(*blocks, F.col(id_col), F.col(text_col)), id_col
    ).select(
        *blocks, F.col(id_col), F.array_distinct(grams).alias("gram_set")
    ).withColumn("n_grams", F.size("gram_set"))
    sizes = base.select(F.col(id_col), F.col("n_grams"))
    exploded = base.select(
        *blocks, F.col(id_col), F.explode("gram_set").alias("g")
    )
    if max_df is not None:
        # document frequency via a window on (block, gram) — partitions
        # exactly like the self-join key, so the exchange is shared with
        # step 2 rather than adding one; per-doc sizes are recomputed over
        # the surviving grams (capped-vocabulary Jaccard, see docstring)
        exploded = exploded.withColumn(
            "__df",
            F.count(F.lit(1)).over(Window.partitionBy(*blocks, "g")),
        ).filter(F.col("__df") <= max_df).drop("__df")
        sizes = exploded.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_grams")
        )
    # alias self-join (operators/reuse.py): both sides canonically
    # identical → ReuseExchange builds the inverted index once (no
    # persisted intermediate)
    cond = F.col(f"__ja.{id_col}") < F.col(f"__jb.{id_col}")
    for kcol in [*blocks, "g"]:
        cond = (F.col(f"__ja.{kcol}") == F.col(f"__jb.{kcol}")) & cond
    co = (
        self_join_reusing(exploded, cond, a="__ja", b="__jb")
        .select(
            F.col(f"__ja.{id_col}").alias("id_a"),
            F.col(f"__jb.{id_col}").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # sizes is one row per doc — small here, but at corpus scale it is NOT
    # broadcastable; leave the strategy to Catalyst/AQE (it broadcasts when
    # the statistics say it fits)
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("n_b"))
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        co.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _check_simhash_bits(bits: int) -> None:
    """The md5-derived ``hash64`` base supplies 60 usable bits (15 hex
    chars); bits 61-63 would always vote -1, and bits=64 would build
    ``1 << 63`` which overflows Spark LongType."""
    if not 1 <= bits <= 60:
        raise ValueError(
            f"simhash bits must be in [1, 60] (got {bits}): the md5-derived "
            "64-bit hash base provides 60 usable bits"
        )


def simhash_table(
    df: DataFrame, text_col: str, id_col: str, bits: int = 32
) -> DataFrame:
    """Corpus-scale SimHash, explode-shaped: one md5 per token (explode →
    hash32 once), then ``bits`` partial-aggregated sign-votes per doc —
    instead of the expression form's per-bit re-traversal of the token
    array.  Docs with zero tokens get simhash 0 (rejoined, matching the
    SQL convention that an empty vote sum sets no bits)."""
    _check_simhash_bits(bits)
    token_hash = hash32 if bits <= 32 else hash64
    src = fan_out(df.select(F.col(id_col), F.col(text_col)), id_col)
    exploded = src.select(
        F.col(id_col), F.explode(shingle_tokens(text_col)).alias("__t")
    ).select(F.col(id_col), token_hash(F.col("__t")).alias("__h"))

    # Lane-packed vote counting: 3 bit-positions share one 64-bit
    # accumulator in 21-bit lanes, so a 60-bit simhash needs 20 partial-agg
    # sums instead of 60 (measured ~30% faster warm, ~3× faster on first
    # compile — the generated aggregate class is a third the size).
    # bit j = 3·m + l accumulates ones_j in lane l of accumulator m;
    # vote_j = 2·ones_j − n, so bit j is set iff 2·ones_j > n.  Exact for
    # per-doc token counts < 2^21 (≈2M tokens — chunk larger documents
    # upstream, the standard training-pipeline contract).
    lanes = 3
    n_acc = (bits + lanes - 1) // lanes

    def acc_expr(m: int) -> Column:
        e = F.shiftright("__h", lanes * m).bitwiseAND(F.lit(1))
        for l in range(1, min(lanes, bits - lanes * m)):
            e = e + F.shiftleft(
                F.shiftright("__h", lanes * m + l).bitwiseAND(F.lit(1)), 21 * l
            )
        return e.cast("long")

    votes = exploded.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(acc_expr(m)).alias(f"__a{m}") for m in range(n_acc)],
    )

    def ones(j: int) -> Column:
        m, l = divmod(j, lanes)
        return F.shiftright(f"__a{m}", 21 * l).bitwiseAND(F.lit(0x1FFFFF))

    sh = sum(
        F.when(ones(j) * 2 > F.col("__n"), F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for j in range(bits)
    )
    hashed = votes.select(F.col(id_col), sh.alias("sh"))
    return (
        df.select(id_col)
        .join(hashed, id_col, "left")
        .select(F.col(id_col), F.coalesce("sh", F.lit(0).cast("long")).alias("sh"))
    )


def simhash(text: Column | str, bits: int = 32) -> Column:
    """SimHash over word tokens (with multiplicity): bit j is set when the
    sum over tokens of ±1 (sign of token-hash bit j) is positive.

    Column-expression form for ad-hoc use; at corpus scale prefer
    :func:`simhash_table` (explode-shaped — the expression form re-walks
    the token array once per bit)."""
    _check_simhash_bits(bits)
    hashes = F.transform(
        shingle_tokens(text), hash32 if bits <= 32 else hash64
    )

    def voter(bit):
        return lambda acc, h: acc + (
            F.shiftright(h, bit).bitwiseAND(F.lit(1)) * 2 - 1
        )

    out = F.lit(0).cast("long")
    for j in range(bits):
        vote = F.aggregate(hashes, F.lit(0).cast("long"), voter(j))
        out = out + F.when(vote > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    table: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup candidates: band the ``bits``-bit hash into
    ``bands`` chunks (pigeonhole: hamming ≤ bands-1 ⇒ some band equal),
    join on (band, chunk), verify hamming distance ≤ ``max_hamming``.

    ``table`` injects a precomputed :func:`simhash_table` relation
    (``(id, sh)``, ~16 bytes/doc) — the stat-keyed storage-artifact form:
    signatures are a pure function of the corpus version, so production
    computes them once per corpus and probes them per query.

    ``max_bucket_size`` is the SCALE knob (the
    :func:`lsh_candidate_pairs` contract, round 12): fixed-width banding
    has a random-collision floor of ~bands·n²/2^band_bits candidate
    pairs, and natural-language sign votes SKEW chunks, so a handful of
    (band, chunk) buckets can hold a large corpus fraction — measured at
    100× (500k docs): billions of enumerated pairs, a multi-GB shuffle
    of candidates the hamming verify then rejects.  Buckets larger than
    the cap are dropped on BOTH join sides (broadcast anti-join on the
    oversized-bucket list — KBs).  Recall tradeoff: a true near-dup pair
    whose only shared band lands in a dropped bucket is missed; docs in
    an oversized bucket still pair through their other bands.  ``None``
    keeps exact enumeration (fine through ~10× local corpora)."""
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    if table is None:
        table = simhash_table(df, text_col, id_col, bits)
    # The signature artifact is ~16 bytes/doc, so even a 500k-doc corpus
    # lands in 1-3 parquet splits — and the whole explode → band join →
    # pair dedup chain fuses into the probe side's scan stage, gating a
    # potentially ~n²/2^band_bits-pair enumeration at 1-3 tasks (found
    # via jstack at sf10: one 3-task codegen stage running 12+ min).
    # fan_out repairs the degenerate split count; at cluster scale a
    # billion-doc signature table is already well-split and this is a
    # no-op.
    table = fan_out(table, id_col)
    banded = table.select(
        id_col, "sh",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("sh", b * band_bits).bitwiseAND(F.lit(mask)).alias("chunk"),
            ) for b in range(bands)
        ])).alias("bk"),
    ).select(id_col, "sh", "bk.band", "bk.chunk")
    if max_bucket_size is not None:
        oversized = (
            banded.groupBy("band", "chunk")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > max_bucket_size)
            .select("band", "chunk")
        )
        # bands x 2^band_bits rows at MOST, usually a handful: broadcast
        banded = banded.join(
            F.broadcast(oversized), ["band", "chunk"], "left_anti"
        )
    # alias self-join (operators/reuse.py) → ReuseExchange unifies the
    # two sides' shuffle subtrees, so the tokenize + 60-vote aggregation
    # executes once and the second side reads the same map output — the
    # zero-cache replacement for the MEMORY_AND_DISK persist this
    # operator used to leak per call (see lsh_candidate_pairs)
    # hamming is a pure function of the two signatures, so the verify
    # filter runs BEFORE the cross-band pair dedup: the dedup exchange
    # carries only verified pairs (candidates the hamming cut rejects —
    # the overwhelming majority under banding's random-collision floor —
    # never shuffle), and distinct over the three narrow columns returns
    # exactly the former filter-after-dedup rows.
    hamming = (
        F.bit_count(
            F.col("__ha.sh").bitwiseXOR(F.col("__hb.sh"))
        ).cast("long")
    )
    return (
        self_join_reusing(
            banded,
            (F.col("__ha.band") == F.col("__hb.band"))
            & (F.col("__ha.chunk") == F.col("__hb.chunk")),
            a="__ha", b="__hb",
        )
        .filter(F.col(f"__ha.{id_col}") < F.col(f"__hb.{id_col}"))
        .select(
            F.col(f"__ha.{id_col}").alias("id_a"),
            F.col(f"__hb.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates()
    )


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 15,
    bands: int = 5,
    shingle_k: int = 2,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Two-stage near-dup detection — the corpus-scale production pattern:

    1. **recall stage**: MinHash-LSH candidate generation
       (:func:`lsh_candidate_pairs`) — cost scales with band collisions,
       never with |corpus|².
    2. **precision stage**: exact Jaccard verification of the candidates
       only — per-pair set intersection is affordable because the
       candidate set is orders of magnitude smaller than all pairs.

    Returns (id_a, id_b, jaccard) for candidates whose exact Jaccard (over
    distinct ``shingle_k``-word shingles, rounded to 6 digits) meets the
    threshold.  Recall is governed by the banding: P(candidate) =
    1-(1-j^rows)^bands.

    Cache contract: NONE when ``sets`` is omitted — this operator
    persists nothing.  The two verification sides are ALIAS references
    to the one sets plan, so their join exchanges (both keyed by the id
    over the identical subtree — shuffle OR broadcast) unify via
    ReuseExchange and the shingle pass below them runs once; the
    signature path shingles once more.  Measured (plan skeleton, both
    join regimes): exactly 2 shingle projections execute — the contract
    "once for verification plus once for the signature pass".  A caller
    chaining MANY consumers over the same sets passes a caller-OWNED
    (persisted or staged-to-storage) relation via ``sets`` and releases
    it — at corpus scale that is the production shape (the q42/q62
    pipeline stages the VERIFIED PAIRS themselves to storage, so this
    whole plan builds once per corpus version).
    """
    if sets is None:
        sets = gram_sets(
            df, text_col, id_col, shingle_k, partition_by_id=True
        )
    cands = lsh_candidate_pairs(
        df, text_col, id_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        max_bucket_size=max_bucket_size, sets=sets,
    ).select("id_a", "id_b")
    va, vb = aliased_refs(sets, "__va", "__vb")
    inter = F.size(
        F.array_intersect(F.col("__va.s"), F.col("__vb.s"))
    )
    jac = inter / (F.col("__va.n") + F.col("__vb.n") - inter)
    return (
        cands.join(va, F.col("id_a") == F.col(f"__va.{id_col}"))
        .join(vb, F.col("id_b") == F.col(f"__vb.{id_col}"))
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_join(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int = 1000,
    corpus_banded: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL dedup: MinHash-LSH candidate pairs between a NEW batch
    and the EXISTING corpus (never within either side) — the ingest-time
    shape: each arriving batch is checked against the accumulated corpus
    without ever rebuilding a corpus×corpus self-join.

    Both sides band independently (a doc's band keys depend only on its
    own signature); the join is band-key equi, with the degenerate-bucket
    cap applied to the CORPUS side — that bounds fan-out per band key by
    ``max_bucket_size`` regardless of corpus size.  At scale the corpus
    side's banded signatures are a persisted index (band_key-partitioned
    parquet), so each batch join prunes to matching buckets; pass that
    stored relation (or any precomputed :func:`band_keys` output for the
    corpus) via ``corpus_banded`` so the accumulated corpus is never
    re-minhashed per arriving batch — a row's band keys depend only on
    its own text, so a filtered slice of a full-corpus banding is
    exactly the slice's banding.

    Returns ``(new_id, corpus_id, est_jaccard)``.
    """

    def banded(df):
        return band_keys(df, text_col, id_col, num_hashes, bands, shingle_k)

    left = banded(new_df).select(
        F.col("band"), F.col("band_key"),
        F.col(id_col).alias("new_id"), F.col("sig").alias("sig_a"),
    )
    if corpus_banded is not None:
        _check_injected_banding(corpus_banded, num_hashes, bands,
                                "lsh_join(corpus_banded=)")
    src = banded(corpus_df) if corpus_banded is None else corpus_banded
    right = _drop_oversized_buckets(src, max_bucket_size).select(
        F.col("band"), F.col("band_key"),
        F.col(id_col).alias("corpus_id"), F.col("sig").alias("sig_b"),
    )
    # est_jaccard before the pair dedup (see lsh_candidate_pairs): the
    # dedup exchange carries 24 bytes/pair, not two signature arrays
    return (
        left.join(right, ["band", "band_key"])
        .select(
            "new_id", "corpus_id",
            _est_jaccard(num_hashes).alias("est_jaccard"),
        )
        .dropDuplicates()
    )


def _drop_oversized_buckets(
    banded: DataFrame, max_bucket_size: int
) -> DataFrame:
    """Degenerate-bucket cap WITHOUT shuffling the banded rows: a narrow
    two-column aggregate finds the (band, band_key) buckets over the cap
    (map-side partial agg — the exchange carries per-bucket counts, not
    rows) and a broadcast ANTI-join drops their rows map-side.

    The former shape — ``count() over Window(band, band_key)`` — paid a
    full Exchange + Sort of the banded CORPUS per ingest batch purely to
    compute the cap, while the candidate join itself was broadcast and
    never reused that partitioning (round 13, guide §2.3/§2.4).  Here
    the corpus is scanned twice, but the second pass reads only the two
    key columns and degenerate buckets are rare by construction, so the
    broadcast side is ~empty.  Equivalent row-for-row: band_key is an
    md5 hex string (never NULL), so anti-join semantics match the
    window filter exactly.  The SELF-join path (lsh_candidate_pairs)
    keeps its window — there the window's exchange doubles as the join
    exchange and is shared via ReuseExchange."""
    oversized = (
        banded.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket_size)
        .select("band", "band_key")
    )
    return banded.join(
        F.broadcast(oversized), ["band", "band_key"], "left_anti"
    )


def band_keys(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    sets: DataFrame | None = None,
) -> DataFrame:
    """MinHash band keys: ``(id, sig, band, band_key)`` — one row per
    (document, band).  A document's band keys depend only on its own
    signature, so each side of an incremental join bands independently,
    and a corpus's banded rows can be PERSISTED once (see
    :func:`write_minhash_index`) instead of recomputed per batch."""
    rows = num_hashes // bands
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k, sets=sets
    )

    # the band-struct array as ONE parsed expression (the nested
    # struct/md5/concat Column tree cost ~50 py4j round trips; round 12);
    # named_struct fields type exactly like F.struct(F.lit(b), md5(...)).
    # Parsed once per (num_hashes, bands) and reused across probes
    # (_EXPR_CACHE, round 13).
    def build():
        bands_sql = ",".join(
            "named_struct('band', {b}, "
            "'band_key', md5(concat_ws(',', {c})))".format(
                b=b,
                c=",".join(
                    f"cast(element_at(sig, {b * rows + r + 1}) as string)"
                    for r in range(rows)
                ),
            )
            for b in range(bands)
        )
        return F.expr(f"explode(array({bands_sql}))").alias("bk")

    bk_expr = _cached_exprs("band_structs", (num_hashes, bands), build)
    return sigs.select(id_col, "sig", bk_expr).select(
        id_col, "sig", "bk.band", "bk.band_key"
    )


# ---------------------------------------------------------------------------
# Persisted MinHash band-key index: hive layout partitioned by
# (band, band_key prefix) — the at-scale corpus side of incremental dedup
# ---------------------------------------------------------------------------

#: hex chars of the band_key used as the partition directory key at full
#: scale: 2 chars = 256 directories per band — coarse enough that a corpus
#: write doesn't explode into millions of tiny files, fine enough that a
#: small arriving batch prunes ~99% of the index (its probe set covers few
#: prefixes).
BAND_PREFIX_CHARS = 2

#: a written index directory should hold at least this many banded rows —
#: below it, per-file open cost dominates the probe's scan (measured: a
#: 19k-row corpus split across bands×256 dirs cost ~1.5 s of pure file
#: opens per probe, the whole query's budget).  The writer drops to a
#: 1-hex-char prefix (bands×16 dirs) for corpora under the bar; the probe
#: detects the layout's width from the directory names, so mixed-era
#: indexes keep working.
_MIN_ROWS_PER_INDEX_DIR = 1000


def _index_prefix_chars(index_path: str, spark=None) -> int:
    """Prefix width of an existing index layout, read from its directory
    names (``bk_prefix=<value>`` under any ``band=*``).

    The layout is listed driver-side with one :func:`fs.glob` (Hadoop
    ``globStatus`` for ``s3a://``, ``hdfs://``…).  Guessing the default
    width for a layout that cannot be listed made a probe against a
    width-1 remote index prune to zero directories and admit every
    duplicate (round-13 ADVICE), so where no backend can list it the width
    is read from ONE row of the layout itself (the partition column is
    part of every row), and without a session this raises."""
    w = _index_prefix_chars_or_none(index_path, spark)
    return BAND_PREFIX_CHARS if w is None else w


def _index_prefix_chars_or_none(index_path: str, spark=None) -> int | None:
    """:func:`_index_prefix_chars` without the default: ``None`` when the
    layout holds no partition directory to read a width from."""
    from parquery_spark import fs as _fs

    dirs = _fs.glob(f"{index_path.rstrip('/')}/band=*/bk_prefix=*")
    if dirs is not None:
        return len(dirs[0].rsplit("=", 1)[1]) if dirs else None
    if spark is not None:
        rows = (
            spark.read.parquet(index_path)
            .select(F.length(F.col("bk_prefix").cast("string")).alias("w"))
            .limit(1)
            .collect()
        )
        if rows and rows[0]["w"] is not None:
            return int(rows[0]["w"])
        return None
    raise ValueError(
        f"cannot detect the bk_prefix width of non-local index "
        f"{index_path!r} without a SparkSession; pass prefix_chars "
        "explicitly or provide spark"
    )


def write_minhash_index(
    corpus_df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    mode: str = "overwrite",
    prefix_chars: int | None = None,
) -> str:
    """Persist the corpus's banded MinHash signatures hive-partitioned by
    ``(band, bk_prefix)`` — the ingest-time layout :func:`lsh_join`'s
    docstring promises: each arriving batch re-bands only ITSELF, reads
    only matching index directories (PartitionFilters — verify with
    ``.explain``), and never re-minhashes the accumulated corpus.

    ``band_key`` itself stays a data column (equi-join key); only its
    hex prefix becomes a directory, keeping the file count bounded
    (bands × 16^chars) while the directory filter still prunes I/O.  The
    prefix width is SCALE-ADAPTIVE unless pinned via ``prefix_chars``:
    2 hex chars (256 dirs/band) once directories would hold at least
    :data:`_MIN_ROWS_PER_INDEX_DIR` rows each, else 1 (16 dirs/band) —
    a small corpus across 1024 directories pays more in per-file opens
    per probe than the whole probe computes.  Append new batches with
    ``mode="append"`` after they pass dedup — the layout is stable
    because a row's partition depends only on its own signature (appends
    to an existing path inherit its width via
    :func:`_index_prefix_chars`, never re-deciding it)."""
    from parquery_spark import fs as _fs
    from parquery_spark.sources.parquet import write_partitioned

    existing = _fs.exists(path)
    if prefix_chars is None:
        if mode == "append" and existing:
            prefix_chars = _index_prefix_chars_or_none(
                path, spark=corpus_df.sparkSession
            )
        if prefix_chars is None:
            # NB: with prefix_chars unset this count() is an extra eager
            # action — an expensive unpersisted corpus pipeline executes
            # twice (count + write).  Callers with such inputs should
            # pass prefix_chars (or count once themselves and pin it).
            n_banded = corpus_df.count() * bands
            prefix_chars = (
                BAND_PREFIX_CHARS
                if n_banded >= bands * 256 * _MIN_ROWS_PER_INDEX_DIR
                else 1
            )
    elif mode == "append" and existing:
        # an explicit pin that disagrees with the existing layout would
        # write a MIXED-width index whose probes silently miss every
        # partition of the other width (round-13 ADVICE) — fail loud
        have = _index_prefix_chars_or_none(
            path, spark=corpus_df.sparkSession
        )
        if have is not None and have != prefix_chars:
            raise ValueError(
                f"write_minhash_index(mode='append'): prefix_chars="
                f"{prefix_chars} conflicts with the existing layout's "
                f"width {have} at {path!r}"
            )
    bk = band_keys(corpus_df, text_col, id_col, num_hashes, bands, shingle_k)
    bk = bk.withColumn(
        "bk_prefix", F.substring("band_key", 1, prefix_chars)
    )
    # co-locate each output directory's rows in one task before the write:
    # without this every task holding any row of a directory opens a file
    # there — up to tasks × (bands × 256) tiny files, and the probe then
    # pays per-file open costs that dwarf the data (measured 6× on the
    # probe, ~10× on the write)
    bk = bk.repartition("band", "bk_prefix")
    return write_partitioned(bk, path, ["band", "bk_prefix"], mode=mode)


#: banded batches at or under this many (id, band, band_key, sig) rows
#: re-enter the indexed probe join as a collected local relation (one
#: banding pass instead of two); larger batches keep the lazy recompute
_LOCAL_BATCH_MAX_ROWS = 50_000


def lsh_join_indexed(
    spark,
    index_path: str,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Incremental dedup against a :func:`write_minhash_index` layout:
    band the arriving batch, prune the index read to the batch's
    ``(band, bk_prefix)`` directories, equi-join on the full band key.

    The probe set is enumerated driver-side from the batch's band keys
    (distinct ``(band, prefix)`` pairs — bounded by bands × 256 rows, a
    scalar-sized collect like any dynamic partition pruning), then applied
    as a disjunction over the two partition columns so the scan never
    opens non-matching directories.  The degenerate-bucket cap applies to
    full ``(band, band_key)`` buckets; pruning keeps buckets whole (every
    row of a band_key shares its prefix), so capped counts are identical
    to the unindexed :func:`lsh_join`.

    Returns ``(new_id, corpus_id, est_jaccard)`` — same contract and same
    results as :func:`lsh_join` with the same parameters.

    The batch's band keys are computed ONCE (round 12): the probe
    enumeration must run eagerly anyway, so while the banded batch stays
    under :data:`_LOCAL_BATCH_MAX_ROWS` rows the whole ``(id, band,
    band_key, sig)`` relation is collected with it and re-enters the
    join as a LOCAL relation — the former shape re-minhashed the batch
    a second time inside the lazy join plan (one narrow map over the
    batch, twice per ingest).  Nothing is persisted, so the
    zero-session-cache contract holds; an oversized batch falls back to
    the original enumerate-then-recompute shape (bounded driver memory
    wins over the duplicate map at that size)."""
    left = band_keys(
        new_df, text_col, id_col, num_hashes, bands, shingle_k
    ).withColumn(
        # the batch's prefixes must be cut at the INDEX's width — read it
        # from the layout so probes work against either adaptive width
        # (spark handle: non-local layouts read the width from one row)
        "bk_prefix",
        F.substring("band_key", 1, _index_prefix_chars(index_path, spark)),
    )

    by_band: dict[int, set[str]] = {}
    head = left.limit(_LOCAL_BATCH_MAX_ROWS + 1).collect()
    if len(head) <= _LOCAL_BATCH_MAX_ROWS:
        for r in head:
            by_band.setdefault(r["band"], set()).add(r["bk_prefix"])
        left = spark.createDataFrame(head, left.schema)
    else:
        for r in left.select("band", "bk_prefix").distinct().collect():
            by_band.setdefault(r["band"], set()).add(r["bk_prefix"])
    # one IN-list per band (flat, ≤ bands OR terms) — a per-(band,prefix)
    # OR chain would nest one node per pair and overflow the expression
    # converter for realistic probe sets.  Built as ONE parsed expression:
    # the per-prefix ``isin`` literals cost a py4j round trip each (~0.7 s
    # for 4 bands × ~250 prefixes; round 12).  Prefixes are md5 hex chars,
    # but quote-escape anyway — never trust a value into SQL text.
    def _q(v: str) -> str:
        return "'" + str(v).replace("'", "''") + "'"

    clauses = [
        "(band = {b} AND bk_prefix IN ({lst}))".format(
            b=int(band), lst=",".join(_q(p) for p in sorted(prefixes))
        )
        for band, prefixes in sorted(by_band.items())
    ]
    pred = F.expr(" OR ".join(clauses)) if clauses else None

    from parquery_spark import relations

    index = relations.get_relation(spark, index_path)
    if pred is not None:
        index = index.filter(pred)
    # pruning keeps buckets whole (every row of a band_key shares its
    # prefix), so capped counts over the PRUNED index equal lsh_join's;
    # the agg+anti-join shape drops the index-side Exchange+Sort the
    # window form paid (see _drop_oversized_buckets)
    right = _drop_oversized_buckets(index, max_bucket_size).select(
        "band", "band_key",
        F.col(id_col).alias("corpus_id"), F.col("sig").alias("sig_b"),
    )
    # est_jaccard before the pair dedup (see lsh_candidate_pairs): the
    # dedup exchange carries 24 bytes/pair, not two signature arrays
    return (
        left.select(
            "band", "band_key",
            F.col(id_col).alias("new_id"), F.col("sig").alias("sig_a"),
        )
        .join(right, ["band", "band_key"])
        .select(
            "new_id", "corpus_id",
            _est_jaccard(num_hashes).alias("est_jaccard"),
        )
        .dropDuplicates()
    )

def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    left_id: str,
    right_id: str,
) -> DataFrame:
    """Edit-distance-1 entity matching WITHOUT an all-pairs comparison:
    symmetric-delete blocking (the SymSpell construction).  Each string
    emits ``len + 1`` block keys — itself plus every one-character
    deletion; two strings within Levenshtein distance 1 ALWAYS share a
    key (a substitution pair meets at the deletion of the edited
    position, an insert/delete pair at the inserted position's deletion),
    so the equi-join on the key has perfect recall and only its
    candidates pay Levenshtein verification.

    Explode-shaped (posexplode over a ``sequence``, substring surgery in
    codegen — no interpreted higher-order lambdas); the shuffle key is
    the deletion variant, whose collisions are near-identical strings by
    construction.  Returns ``(left_id, right_id, distance)`` with
    ``distance <= 1``."""

    def keyed(df, col, id_col, out_id):
        # single-file inputs scan as one split; the explode multiplies
        # rows ~len(s)-fold, so spread BEFORE it or one task pays it all
        df = fan_out(df, id_col)
        c = F.col(col)
        ex = df.select(
            F.col(id_col).alias(out_id),
            c.alias(f"__s_{out_id}"),
            F.explode(F.sequence(F.lit(0), F.length(c))).alias("__i"),
        )
        s = f"__s_{out_id}"
        key = F.when(F.col("__i") == 0, F.col(s)).otherwise(
            F.expr(
                f"concat(substring({s}, 1, __i - 1),"
                f" substring({s}, __i + 1, length({s})))"
            )
        )
        return ex.select(out_id, s, key.alias("__k"))

    l = keyed(left, left_col, left_id, "__lid")
    r = keyed(right, right_col, right_id, "__rid")
    # round 12 (guide §2.3 "narrower types"): the join key is the 64-bit
    # HASH of the deletion variant, not the variant string — the
    # candidate exchange carries 8 bytes of key instead of a ~|s| string
    # and the join compares longs instead of strings.  Semantics are
    # unchanged: equal variants hash equal, a hash collision can only
    # ADD candidate pairs, every candidate still faces the distance
    # filter, and the SymSpell theorem guarantees every true pair
    # already shares a REAL key — so the verified result set is
    # bit-identical (differentially pinned against the string-keyed
    # naive form in pytest).  Measured in-process A/B at sf0.1 (noop,
    # min-of-5): 0.76 s -> 0.62 s.  Computing levenshtein BEFORE the
    # dedup was also tried (narrows the dedup exchange to 3 longs) and
    # measured SLOWER (0.79/0.84 s): duplicate candidates re-run a
    # |s|^2 DP per shared variant (~19 variants for identical pairs),
    # which costs more than the string bytes save.
    cands = (
        l.withColumn("__k", F.xxhash64("__k"))
        .join(r.withColumn("__k", F.xxhash64("__k")), "__k")
        .dropDuplicates(["__lid", "__rid"])
    )
    dist = F.levenshtein("__s___lid", "__s___rid")
    return (
        cands.select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            dist.cast("long").alias("distance"),
        )
        .filter(F.col("distance") <= 1)
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    rolling-hash scheme): hash every k-word gram positionally, slide a
    w-gram window, keep the minimum hash of each window, return the
    DISTINCT selected hashes per document.  Guarantees any shared run of
    k + w - 1 words between two documents shares at least one fingerprint,
    while storing ~1/w of the gram hashes.

    Distributed shape: posexplode (narrow) → one shuffle on id_col for the
    rolling-min window → distinct on (id, hash).  Never materializes
    all-pairs anything; the fingerprint relation is the join key for
    plagiarism/overlap detection downstream.

    Returns (id_col, fingerprint) rows; docs with fewer than k + w - 1
    words yield no rows (no complete window exists).
    """
    from pyspark.sql import Window

    grams = word_shingles(text_col, k)
    pos = df.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "gram")
    ).select(id_col, "pos", hash64(F.col("gram")).alias("h"))
    wroll = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    )
    wdoc = Window.partitionBy(id_col)
    sel = pos.select(
        id_col,
        "pos",
        F.min("h").over(wroll).alias("fingerprint"),
        F.count(F.lit(1)).over(wdoc).alias("__ng"),
    )
    return (
        sel.where(F.col("pos") <= F.col("__ng") - w)
        .select(id_col, "fingerprint")
        .distinct()
    )


def substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    max_gram_occ: int = 64,
    gram_key: str = "raw",
) -> DataFrame:
    """Exact-substring duplicate spans (the ExactSubstr family of
    "Deduplicating Training Data Makes Language Models Better", Lee et al.
    2022): find every maximal run of >= ``min_tokens`` consecutive words
    shared verbatim between two documents, with its position in BOTH docs
    — the artifact you need to *cut* duplicated text, not merely flag the
    document (which MinHash/SimHash/winnowing already do).

    Suffix arrays don't distribute; the equivalent join-shaped plan does:

    1. posexplode each doc into its ``min_tokens``-word grams (narrow);
    2. drop grams occurring once (no partner) or more than
       ``max_gram_occ`` times (boilerplate stop-grams — the hot keys that
       would otherwise quadratically blow the bucket join, same cap role
       as ``max_bucket_size`` in ``lsh_candidate_pairs``);
    3. self-equi-join on the gram (shuffle on the gram key; per-key
       fan-out <= max_gram_occ**2 by construction);
    4. merge hits into maximal spans: matches of one shared run all lie
       on one diagonal (pos_a - pos_b constant) at consecutive pos_a, so
       ``pos_a - row_number()`` over (pair, diagonal) is constant exactly
       within a maximal run (the classic gaps-and-islands key) — one
       shuffle on (doc_a, doc_b), then a plain groupBy.

    At 100 TB the only with-n driver/executor term is the per-gram-key
    bucket, capped by ``max_gram_occ``; everything else is narrow or
    key-partitioned.

    ``gram_key`` picks the shuffle/join key representation:

    - ``"raw"`` (default): the ``min_tokens``-word gram STRING itself —
      textually identical to the DuckDB oracle twin, exact at any scale.
    - ``"hash"``: each gram is reduced to TWO independent ``xxhash64``
      values (different seeds) immediately after gram construction and
      the string is dropped, so the shuffled row is ``(id, pos, 16
      bytes)`` instead of ``(id, pos, ~6·min_tokens bytes)`` — the
      petabyte-shuffle form.  A false span needs a 128-bit double
      collision between two DIFFERENT grams sharing an occurrence
      window: by the birthday bound, ~n²/2¹²⁹ expected corpus-wide
      (≈ 3e-19 even at 10¹⁵ grams) — far below the hardware-error
      floor, which is why suffix-array ExactSubstr implementations
      hash their grams the same way.

    Returns one row per maximal span:
    ``(doc_a, doc_b, a_start, b_start, span_tokens)`` with doc_a < doc_b,
    1-based token offsets, span_tokens >= min_tokens.
    """
    from pyspark.sql import Window

    L = int(min_tokens)
    if L < 2:
        raise ValueError("min_tokens must be >= 2")
    toks = fan_out(
        df.select(F.col(id_col).alias("__id"), F.col(text_col)), "__id"
    ).select(
        "__id", F.split(F.col(text_col), " ").alias("__t")
    ).where(F.size("__t") >= L)
    # sequence() counts DOWN when start > stop (NOTES.md hazard) — the
    # size filter above guarantees 1 <= size - L + 1
    grams = toks.select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - L + 1),
                lambda p: F.concat_ws(" ", F.slice("__t", p, L)),
            )
        ).alias("__p0", "gram"),
    ).select("__id", (F.col("__p0") + 1).alias("pos"), "gram")
    if gram_key == "hash":
        # drop the gram string before anything shuffles: key = two
        # independent 64-bit hashes (see docstring for the collision
        # bound); xxhash64 is JVM-side, seeded by its first argument
        grams = grams.select(
            "__id", "pos",
            F.xxhash64("gram").alias("g1"),
            F.xxhash64(F.lit(1), "gram").alias("g2"),
        )
        keys = ["g1", "g2"]
    elif gram_key == "raw":
        keys = ["gram"]
    else:
        raise ValueError(
            f"gram_key must be 'raw' or 'hash' (got {gram_key!r})"
        )
    # occurrence-count via window (one shuffle on the gram key) instead
    # of groupBy + join-back: same filter semantics, one fewer gram
    # derivation.  The window's hashpartitioning(key) is exactly the
    # self-join's required distribution, and the alias self-join below
    # keeps both sides canonically identical, so ReuseExchange unifies
    # them: the tokenize → explode → window map work executes once with
    # NO persisted intermediate (this operator used to leak a
    # MEMORY_AND_DISK gram cache per call).
    occ = (
        grams.withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy(*keys))
        )
        .where((F.col("__n") >= 2) & (F.col("__n") <= max_gram_occ))
        .drop("__n")
    )
    cond = F.col("__ga.__id") < F.col("__gb.__id")
    for kcol in keys:
        cond = (F.col(f"__ga.{kcol}") == F.col(f"__gb.{kcol}")) & cond
    hits = self_join_reusing(occ, cond, a="__ga", b="__gb").select(
        F.col("__ga.__id").alias("doc_a"),
        F.col("__gb.__id").alias("doc_b"),
        F.col("__ga.pos").alias("pos_a"),
        F.col("__gb.pos").alias("pos_b"),
    )
    diag = F.col("pos_a") - F.col("pos_b")
    w = Window.partitionBy("doc_a", "doc_b", diag).orderBy("pos_a")
    isl = hits.select(
        "doc_a",
        "doc_b",
        "pos_a",
        "pos_b",
        diag.alias("__diag"),
        (F.col("pos_a") - F.row_number().over(w)).alias("__island"),
    )
    return (
        isl.groupBy("doc_a", "doc_b", "__diag", "__island")
        .agg(
            F.min("pos_a").cast("int").alias("a_start"),
            F.min("pos_b").cast("int").alias("b_start"),
            (F.max("pos_a") - F.min("pos_a") + L).cast("int").alias(
                "span_tokens"
            ),
        )
        .select("doc_a", "doc_b", "a_start", "b_start", "span_tokens")
    )


def substring_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    max_gram_occ: int = 64,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Per-document removal accounting for exact-substring dedup: take
    every span ``substring_spans`` found, cut it from the LATER document
    of each pair (keep-first convention: doc_a < doc_b, so doc_b loses
    the span), merge the possibly-overlapping cut intervals per document
    (one doc can duplicate many partners), and report how many tokens
    the cut removes vs keeps.  ``kept_tokens = 0`` marks a verbatim
    subset of an earlier doc — droppable outright.

    The interval merge is the standard gaps-and-islands running-max:
    after the span shuffle (keyed by doc), everything is one window pass
    and a groupBy per doc — no join back to the pair space.  Output is
    one row per AFFECTED document:
    ``(doc_id, n_tokens, removed_tokens, kept_tokens, n_cut_spans)``.

    Pass a precomputed :func:`substring_spans` relation via ``spans``
    (same ``min_tokens``; typically a staged-to-storage span artifact —
    the pattern the assignment/codebook model artifacts use) to skip
    the gram join entirely: a pipeline that writes the span table and
    then accounts removals against it should derive both from ONE span
    pass, not two.
    """
    from pyspark.sql import Window

    if spans is None:
        spans = substring_spans(
            df, text_col, id_col,
            min_tokens=min_tokens, max_gram_occ=max_gram_occ,
        )
    ivals = spans.select(
        F.col("doc_b").alias("__doc"),
        F.col("b_start").cast("long").alias("s"),
        (F.col("b_start") + F.col("span_tokens") - 1).cast("long").alias(
            "e"
        ),
    )
    wprev = (
        Window.partitionBy("__doc")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = Window.partitionBy("__doc").orderBy("s", "e")
    marked = ivals.withColumn(
        "__new",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(wprev), F.lit(-1)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("__isl", F.sum("__new").over(wrun))
    merged = (
        marked.groupBy("__doc", "__isl")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
        .groupBy("__doc")
        .agg(
            F.sum(F.col("me") - F.col("ms") + 1).alias("removed_tokens"),
            F.count(F.lit(1)).alias("n_cut_spans"),
        )
    )
    lens = df.select(
        F.col(id_col).alias("__doc"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias(
            "n_tokens"
        ),
    )
    return (
        merged.join(lens, "__doc")
        .select(
            F.col("__doc").alias(id_col),
            "n_tokens",
            F.col("removed_tokens").cast("long").alias("removed_tokens"),
            (F.col("n_tokens") - F.col("removed_tokens"))
            .cast("long")
            .alias("kept_tokens"),
            F.col("n_cut_spans").cast("long").alias("n_cut_spans"),
        )
    )
