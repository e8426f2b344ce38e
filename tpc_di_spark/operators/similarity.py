"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce``: exact top-k neighbors for a query subset —
  the correctness baseline. Inputs are quantized to DECIMAL(8,6) and the
  dot products are then EXACT decimal arithmetic (see ``_dot``), so the
  cosine doubles are bit-identical across engines and are emitted raw —
  no rounding, which would reintroduce engine-specific tie behavior.
- ``lsh_bucketed_topk``: the scale path — random-hyperplane LSH buckets
  bound the candidate set, turning the O(Q x N) scan into per-bucket
  joins; recall is tunable via tables x bits.

No UDFs: dot products ride ``zip_with`` + ``aggregate`` (JVM codegen).
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

_DEC = "decimal(38,12)"


_QDEC = "decimal(8,6)"
_ACC = "decimal(20,12)"


def _dot(a, b) -> F.Column:
    """Exact, engine-portable dot product.

    Each INPUT element is quantized to DECIMAL(8,6); products and sums are
    then pure decimal arithmetic — exact, associative, no rounding at all.
    Quantizing the inputs (not the products) is what makes this portable:
    rounding a double PRODUCT to 12 decimal places differs between
    engines (round-1 did that, and DuckDB's scaled-double conversion
    disagreed with Java's BigDecimal at ~1e-11), while a 6-decimal input
    quantization leaves nothing to round downstream.

    The accumulator is DECIMAL(20,12), NOT (38,12): adding two decimals
    whose combined precision exceeds 38 trips Spark's precision-loss
    rule, which silently rounds every intermediate to scale 11 — the
    1e-11 cross-engine drift round 1 shipped. (20,12)+(17,12) stays at
    precision 21, so the fold is exact for dim * max|x|^2 < 1e8, and the
    final sum's unscaled value stays under 2^53, so the one
    decimal->double cast at the end is a single correctly-rounded
    division in every engine — the cosine doubles are bit-identical, not
    just close.

    INPUT DOMAIN: every element must satisfy |x| < 100 — DECIMAL(8,6)
    holds 2 integer digits, and an out-of-range cast is NULL under
    non-ANSI mode, silently nulling the whole dot product. Embeddings are
    expected (near-)normalized, so real inputs sit far inside the bound;
    run ``check_embedding_domain`` on a debug path to fail loudly if an
    upstream producer violates it."""
    prods = F.zip_with(
        a, b, lambda x, y: x.cast("double").cast(_QDEC) * y.cast("double").cast(_QDEC)
    )
    return F.aggregate(
        prods, F.lit(0).cast(_ACC), lambda acc, v: (acc + v).cast(_ACC)
    )


def _norm(a) -> F.Column:
    return F.sqrt(_dot(a, a).cast("double"))


def check_embedding_domain(df: DataFrame, col: str, limit: float = 100.0) -> DataFrame:
    """Fail LOUDLY (SparkRuntimeException via assert_true) if any element
    of the embedding column falls outside the |x| < ``limit`` domain that
    the exact-decimal ``_dot`` quantization requires — instead of the
    silent NULL cosine an out-of-range cast would otherwise produce.
    Pure Column expression (exists + assert_true); wire it into debug
    paths, not the hot path."""
    in_domain = ~F.exists(F.col(col), lambda x: F.abs(x) >= F.lit(limit))
    return df.withColumn(
        col,
        F.when(
            F.assert_true(
                in_domain,
                F.concat(
                    F.lit(f"embedding element out of |x|<{limit} domain in "),
                    F.lit(col),
                ),
            ).isNull(),
            F.col(col),
        ),
    )


def cosine_topk_bruteforce(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    query_filter=None,
) -> DataFrame:
    """Exact cosine top-k: each query row (optionally filtered) against the
    full corpus. Corpus side is broadcast when small; at scale, prefer
    ``lsh_bucketed_topk``."""
    # Norms are per-VECTOR quantities: computing them inside the pair
    # join (the r02 shape) re-ran the exact-decimal fold 2x per pair —
    # 3x the decimal work for Q x N pairs. Projected once per side here;
    # the doubles are the same expression on the same vector, so every
    # cosine stays bit-identical.
    q = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    if query_filter is not None:
        q = q.filter(query_filter)
    q = q.withColumn("_nq", _norm(F.col("qv")))
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("_nc", _norm(F.col("cv")))
    j = q.join(c, F.col("query_id") != F.col("neighbor_id"))
    j = j.withColumn(
        "cosine",
        F.try_divide(
            _dot(F.col("qv"), F.col("cv")).cast("double"),
            F.col("_nq") * F.col("_nc"),
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def hyperplane_components(seed: int, b: int, dim: int) -> list[float]:
    """±1 hyperplane components derived from md5(f"{seed}|{b}|{i}") —
    deterministic plan-time CONSTANTS, identical in any engine (the SQL
    oracle embeds the same literals), reproducible on any cluster with no
    RNG state. Deriving them per row (the round-1 shape re-evaluated
    dim x bits hashes per row) wasted work on values that never change."""
    return [
        1.0 if int(hashlib.md5(f"{seed}|{b}|{i}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1.0
        for i in range(dim)
    ]


def hyperplane_buckets(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    bits: int = 8,
    seed: int = 7,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector: bit b = sign(v . h_b).
    The projection rides the exact DECIMAL fold (like ``_dot``) so the
    sign — and therefore every bucket id — is bit-identical across
    engines and partitionings (a double fold's rounding could flip a
    near-zero sign between runs)."""
    bucket = None
    v = F.col(vec_col)
    for b in range(bits):
        plane = F.array(*[F.lit(c) for c in hyperplane_components(seed, b, dim)])
        d = _dot(v, plane)
        bit = F.when(d >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        bucket = term if bucket is None else bucket.bitwiseXOR(term)
    return emb.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))


def lsh_bucketed_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    bits: int = 8,
    tables: int = 2,
    dim: int = 64,
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate cosine top-k: candidates = vectors sharing an LSH bucket
    in any of ``tables`` independent hash tables; exact cosine + top-k over
    candidates only. Per-bucket self-joins keep the shuffle key-partitioned
    and the candidate count ~N * bucket_occupancy instead of N^2.

    Tuning: recall tracks the candidate fraction ~= tables * 2^-bits *
    (1 + bits * [probe_bits >= 1]); size ``bits`` ~ log2(N / target bucket
    occupancy). ``probe_bits=1`` enables multi-probe — the query side also
    probes every bucket at Hamming distance 1 from its own (flip each
    bit), multiplying recall per table WITHOUT growing the indexed side or
    adding tables; the classic high-recall shape at corpus scale.
    Recall is measured against the exact baseline in
    tests/test_operators.py::test_lsh_topk_recall_vs_exact."""
    if probe_bits not in (0, 1):
        raise ValueError("probe_bits supports 0 (exact bucket) or 1 (flip each bit)")
    cands = None
    for t in range(tables):
        from tpc_di_spark.operators.dedup import spread_small_input

        bk = hyperplane_buckets(
            spread_small_input(emb, id_col), id_col, vec_col, bits=bits,
            seed=7 + t, dim=dim,
        ).withColumn("_nrm", _norm(F.col(vec_col)))  # once per vector, not per pair
        # Persist per table: the per-bucket self-join's probe and build
        # sides are independent subtrees, so without the cache the
        # bits x exact-DECIMAL hyperplane projections (+ the norm fold)
        # run twice per table over the whole corpus.
        from tpc_di_spark.operators.dedup import invocation_scoped

        bk = invocation_scoped(bk).persist()
        a = bk.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
            F.col("_nrm").alias("_nq"), "bucket",
        )
        if probe_bits == 1:
            probes = F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(bits)],
            )
            a = a.withColumn("bucket", F.explode(probes))
        b = bk.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
            F.col("_nrm").alias("_nc"), "bucket",
        )
        pairs = a.join(b, ["bucket"]).filter(F.col("query_id") != F.col("neighbor_id")).drop("bucket")
        cands = pairs if cands is None else cands.unionByName(pairs)
    cands = cands.dropDuplicates(["query_id", "neighbor_id"])
    cands = cands.withColumn(
        "cosine",
        F.try_divide(
            _dot(F.col("qv"), F.col("cv")).cast("double"),
            F.col("_nq") * F.col("_nc"),
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def embedding_cosine_neardups(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bits: int = 8,
    tables: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-duplicate pairs (id_a < id_b, cosine >= threshold)
    via LSH candidates — the embedding-space analogue of MinHash dedup."""
    topk = lsh_bucketed_topk(emb, id_col, vec_col, k=50, bits=bits, tables=tables, dim=dim)
    return (
        topk.filter((F.col("cosine") >= threshold) & (F.col("query_id") < F.col("neighbor_id")))
        .select(
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            "cosine",
        )
    )
