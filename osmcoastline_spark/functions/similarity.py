"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exactness baseline: JVM-side dot products
  via zip_with/aggregate (no Python), window top-k per query.
* LSH-bucketed variant — the scale path: random-hyperplane sign buckets
  (deterministic seeded planes) bound the candidate set; exact cosine only
  within a bucket. Recall grows with n_tables; the bucket join replaces the
  O(n²) cross join exactly like cell binning replaces the spatial sweep.
* IVF-style variant (ivf_topk) — deterministic coarse quantizer (no kmeans
  dep): each vector joins the inverted list of its dominant-dimension sign
  cell; queries probe their nprobe highest cells.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine with a zero-norm guard: 0/0 on an all-zero embedding would
    crash the job under ANSI (the session default) or produce a NaN that
    sorts FIRST under F.desc and displaces every real top-k neighbor.
    Cosine to a zero vector is defined as 0."""
    norm_prod = _norm(a) * _norm(b)
    return F.when(norm_prod > 0, _dot(a, b) / norm_prod).otherwise(F.lit(0.0))


def brute_force_topk(
    vectors: DataFrame, queries: DataFrame, k: int = 5,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self).

    The cosine kernel runs as an Arrow batch (mapInPandas) with a
    SEQUENTIAL per-dimension float64 fold vectorized ACROSS pairs:
    `acc += a[:, d] * b[:, d]` for d = 0..dim-1 performs, per pair, the
    exact same left-fold `((0 + x0·y0) + x1·y1) + …` that the Catalyst
    `F.aggregate(zip_with(...))` twin (`cosine()` above) evaluates — so
    dot, norms, division and the final round are bit-identical to the
    definitional form, while the 5 interpreted higher-order aggregates
    per pair (measured ~2 s for 40k pairs at sf0.1) become dim fused
    numpy ops per batch (~0.6 s). Requires every vector in a table to
    have the same length (np.stack loud-fails on ragged input, where the
    HOF twin would emit NULL-propagated scores).
    """
    import numpy as np
    import pandas as pd

    ok = F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
    v = vectors.filter(ok).select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("nbr_vec")
    )
    q = queries.filter(ok).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    pairs = q.crossJoin(v).filter(F.col("query_id") != F.col("nbr_id"))
    id_type = dict(pairs.dtypes)["query_id"]

    def cos_batches(it):
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {
                        "query_id": pdf["query_id"],
                        "nbr_id": pdf["nbr_id"],
                        "cos": np.empty(0, dtype=np.float64),
                    }
                )
                continue
            qm = np.stack(pdf["q_vec"].to_numpy()).astype(np.float64)
            nm = np.stack(pdf["nbr_vec"].to_numpy()).astype(np.float64)
            n = len(pdf)
            dot = np.zeros(n)
            qn = np.zeros(n)
            nn = np.zeros(n)
            for d in range(qm.shape[1]):  # sequential fold == HOF order
                dot += qm[:, d] * nm[:, d]
                qn += qm[:, d] * qm[:, d]
                nn += nm[:, d] * nm[:, d]
            norm = np.sqrt(qn) * np.sqrt(nn)
            cos = np.where(norm > 0.0, dot / np.where(norm > 0.0, norm, 1.0), 0.0)
            yield pd.DataFrame(
                {"query_id": pdf["query_id"], "nbr_id": pdf["nbr_id"], "cos": cos}
            )

    scored = pairs.mapInPandas(
        cos_batches, f"query_id {id_type}, nbr_id {id_type}, cos double"
    ).withColumn("cos", F.round("cos", 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos", "rank")
    )


def hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((bits, dim))


def lsh_bucket_expr(vec_col: str, planes: np.ndarray) -> Column:
    """Sign-bucket id as pure column math: bit b = (vec · plane_b) > 0.

    CAUTION — codegen trap: this inlines bits × dim literals into one
    projection; beyond a few hundred literals the generated method blows
    the JVM's 64 KB bytecode limit and Spark silently falls back to
    interpreted eval (the same trap measured on simhash in round 2). The
    hot path uses `lsh_codes_udf` (one numpy matmul per Arrow batch)
    instead; this expression form is kept for small-bits uses and as the
    independent check in test_lsh_codes_udf_matches_expr."""
    code = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        d = _dot(F.col(vec_col), arr)
        code = code + F.when(d > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return code


def lsh_codes_udf(dim: int, bits: int, n_tables: int, seed: int = 42):
    """Vectorized all-tables bucket codes: ONE (batch × dim) @ (dim ×
    tables·bits) matmul per Arrow batch, bit-packed per table → array<long>
    of length n_tables. Scales to any bits/dim without touching codegen
    (the literal-expression form falls off whole-stage codegen past a few
    hundred inlined literals).

    Determinism note (round-4 ADVICE): BLAS summation order (pairwise/FMA,
    build-dependent) can flip the sign of a near-zero dot product relative
    to the sequential Catalyst expression, so bucket codes are reproducible
    on a given host but not guaranteed bit-identical across machines.
    That tolerance is inherent to this ANN family — buckets are approximate
    by design, and a boundary vector landing in a neighbor bucket only
    perturbs recall, never correctness of the exact re-rank that follows.
    Cross-engine oracle checks avoid the issue entirely by using the
    integer-exact sign-LSH variant (lsh_topk_exact), which quantizes inputs
    and keeps every dot product in int64."""
    from pyspark.sql.functions import pandas_udf

    planes = np.concatenate(
        [hyperplanes(dim, bits, seed + t) for t in range(n_tables)], axis=0
    )  # (n_tables*bits, dim)
    weights = (1 << np.arange(bits, dtype=np.int64))

    @pandas_udf("array<long>")
    def codes(vecs):  # type: ignore[no-untyped-def]
        import pandas as pd

        if not len(vecs):
            return pd.Series([], dtype=object)
        v = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
        signs = (v @ planes.T) > 0  # (n, n_tables*bits)
        per_table = signs.reshape(len(v), n_tables, bits)
        packed = per_table @ weights  # (n, n_tables) int64
        return pd.Series(list(packed))

    return codes


def lsh_topk(
    vectors: DataFrame, k: int = 5, bits: int = 8, n_tables: int = 2,
    vec_col: str = "embedding", id_col: str = "vec_id", seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share a sign-bucket in ≥1 table.

    Pass `dim` explicitly (it is schema metadata, not data) — inferring it
    would put a driver action in the hot path. All (table, bucket) keys go
    through ONE explode + ONE self-join rather than a per-table union of
    joins."""
    if dim is None:
        # fallback only — callers on the hot path must pass dim
        first = vectors.select(vec_col).limit(1).collect()
        if not first or first[0][0] is None:
            raise ValueError(
                f"cannot infer embedding dim from an empty input or a NULL "
                f"first {vec_col!r}; pass dim explicitly"
            )
        dim = len(first[0][0])
    codes = lsh_codes_udf(dim, bits, n_tables, seed)
    # null/empty embeddings are dropped in the plan (the codes UDF
    # np.stack would otherwise crash the task on a 0-d array — the same
    # hostile-row posture as ivf_cells_expr's empty-cell guard)
    vectors = vectors.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
    tagged = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.posexplode(codes(F.col(vec_col))).alias("t", "bk"),
    )

    a = tagged.select(F.col("vid").alias("query_id"), F.col("vec").alias("q_vec"), "t", "bk")
    b = tagged.select(F.col("vid").alias("nbr_id"), F.col("vec").alias("nbr_vec"), "t", "bk")
    cands = (
        a.join(b, ["t", "bk"])
        .filter(F.col("query_id") != F.col("nbr_id"))
        .dropDuplicates(["query_id", "nbr_id"])
    )

    scored = cands.withColumn("cos", F.round(cosine(F.col("q_vec"), F.col("nbr_vec")), 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos", "rank")
    )


def ivf_cells_expr(vec_col: str, nprobe: int) -> Column:
    """IVF coarse cells without a trained quantizer: cell = (dominant
    |component| dimension, its sign) → 2·dim inverted lists. Returns the
    top-`nprobe` cells by |component| as an array (probe order)."""
    vec = F.col(vec_col)
    scores = F.transform(
        F.sequence(F.lit(1), F.size(vec)),
        lambda i: F.struct(
            F.abs(F.element_at(vec, i)).cast("double").alias("a"), i.alias("i")
        ),
    )
    top = F.slice(F.sort_array(scores, asc=False), 1, nprobe)
    cells = F.transform(
        top,
        lambda s: s["i"].cast("long") * 2
        + F.when(F.element_at(vec, s["i"]) > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    # empty/NULL embeddings produce no probe cells instead of killing the
    # job: sequence(1, 0) is the DESCENDING array [1, 0] and element_at
    # then hits invalid indices (same guard as dedup.duplicated_spans)
    return F.when(F.size(vec) > 0, cells).otherwise(
        F.array().cast("array<bigint>")
    )


def ivf_topk(
    vectors: DataFrame, k: int = 5, nprobe: int = 2,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """IVF-style approximate top-k: every vector is indexed under its top-1
    coarse cell (the inverted list); each query probes its `nprobe` highest
    cells. Exact cosine only within the probed lists — the list join
    replaces the cross join, recall grows with nprobe."""
    cells = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        ivf_cells_expr(vec_col, nprobe).alias("cells"),
    )
    # empty/NULL embeddings have no probe cells (ivf_cells_expr guard) —
    # skip them here too: element_at(cells, 1) on an empty array throws
    # under ANSI mode (the explode below drops them for free)
    lists = cells.filter(F.size("cells") > 0).select(
        F.col("vid").alias("nbr_id"),
        F.col("vec").alias("nbr_vec"),
        F.element_at("cells", 1).alias("cell"),
    )
    probes = cells.select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("q_vec"),
        F.explode("cells").alias("cell"),
    )
    cands = (
        probes.join(lists, "cell")
        .filter(F.col("query_id") != F.col("nbr_id"))
        .dropDuplicates(["query_id", "nbr_id"])
    )
    scored = cands.withColumn("cos", F.round(cosine(F.col("q_vec"), F.col("nbr_vec")), 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos", "rank")
    )


def embedding_near_dup_pairs(
    vectors: DataFrame, threshold: float = 0.95, bits: int = 8,
    n_tables: int = 2, vec_col: str = "embedding", id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets + exact verify."""
    top = lsh_topk(
        vectors, k=50, bits=bits, n_tables=n_tables,
        vec_col=vec_col, id_col=id_col, dim=dim,
    )
    # canonicalize (least, greatest) then dedup: a one-directional
    # query_id < nbr_id filter silently LOSES pairs found only in the
    # high-id -> low-id direction (a dense near-dup cluster larger than
    # k fills the low id's top-k with lower ids, so (low, high) exists
    # only as (query=high, nbr=low)). cos is direction-symmetric (the
    # expression commutes), so either row carries the same value.
    return (
        top.filter(F.col("cos") >= threshold)
        .select(
            F.least("query_id", "nbr_id").alias("a"),
            F.greatest("query_id", "nbr_id").alias("b"),
            "cos",
        )
        .dropDuplicates(["a", "b"])
    )


def rademacher_planes(dim: int, bits: int, n_tables: int, salt: str = "") -> np.ndarray:
    """±1 (Rademacher) hyperplanes from md5 parity — sign-random-projection
    LSH whose planes are PORTABLE arithmetic: sign(t,b,d) = +1 iff the
    first hex digit of md5("salt" + "t:b:d") is even. Any engine with md5
    can reproduce them exactly (the DuckDB oracle does), unlike the
    float-Gaussian planes of `hyperplanes`. `salt` separates independent
    plane families (random_project uses "rp:" so a JL projection composed
    with LSH never silently shares planes with it)."""
    import hashlib

    signs = np.empty((n_tables, bits, dim), dtype=np.int64)
    for t in range(n_tables):
        for b in range(bits):
            for d in range(dim):
                h = hashlib.md5(f"{salt}{t}:{b}:{d}".encode()).hexdigest()
                signs[t, b, d] = 1 if h[0] in "02468ace" else -1
    return signs


def random_project(
    vectors: DataFrame,
    out_dim: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1_000_000.0,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with Rademacher
    planes (Achlioptas 2003's database-friendly JL variant): y_j =
    (1/√m)·Σ_d r_{j,d}·x_d with r = ±1 from the md5-parity family
    (salt "rp:"), so E‖y_a−y_b‖² = ‖x_a−x_b‖² and pairwise distances
    are preserved within the JL bound — the shrink-before-ANN step a
    100 TB embedding pipeline runs so the expensive candidate joins
    move m≪dim doubles per row.

    Exactness: inputs quantize to int64 (floor(x·scale + 0.5)); each
    y_int_j is an exact ±1-weighted int64 sum; the double output is ONE
    division by the shared python literal √m·scale — engine-identical,
    so the DuckDB twin reproduces every value bit-for-bit.

    Plan shape: PURE projection (m·dim multiply-adds per row inside
    whole-stage codegen, zero exchanges, no Python). Output columns:
    id, proj_q (array<long>, the exact integer projection), proj
    (array<double>, y_int/√m·scale).
    """
    if out_dim < 1 or out_dim > dim:
        raise ValueError("random_project: need 1 <= out_dim <= dim")
    import math

    signs = rademacher_planes(dim, out_dim, 1, salt="rp:")[0]
    denom = math.sqrt(out_dim) * scale
    # zip_with pads mismatched arrays with NULL (silent NULL projections)
    # — validate the dimension loudly in-plan instead
    vec_ok = F.when(
        F.col(vec_col).isNull() | (F.size(F.col(vec_col)) != dim),
        F.raise_error(
            F.concat(
                F.lit(f"random_project: expected {dim}-dim vector, got "),
                F.coalesce(F.size(F.col(vec_col)).cast("string"), F.lit("NULL")),
            )
        ).cast(vectors.schema[vec_col].dataType.simpleString()),
    ).otherwise(F.col(vec_col))
    q = F.transform(
        vec_ok,
        lambda x: F.floor(x.cast("double") * F.lit(scale) + F.lit(0.5)).cast("long"),
    )
    base = vectors.select(F.col(id_col), q.alias("__q"))
    y_ints = [
        F.aggregate(
            F.zip_with(
                F.col("__q"),
                F.array(*[F.lit(int(s)) for s in signs[j]]),
                lambda a, b: a * b.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        for j in range(out_dim)
    ]
    # proj derives from the proj_q COLUMN in a second select so the m·dim
    # aggregate sums are planned once, not once per output column
    return base.select(id_col, F.array(*y_ints).alias("proj_q")).select(
        id_col,
        "proj_q",
        F.transform(
            F.col("proj_q"), lambda v: v.cast("double") / F.lit(denom)
        ).alias("proj"),
    )


def lsh_topk_exact(
    vectors: DataFrame, k: int = 3, bits: int = 6, n_tables: int = 2,
    dim: int = 64, vec_col: str = "embedding", id_col: str = "vec_id",
    scale: float = 1_000_000.0,
) -> DataFrame:
    """Sign-LSH ANN whose EVERY step is bit-exact across engines — the
    SQL-oracle-able variant of lsh_topk:

    * embeddings quantized to integers (floor(x·1e6 + 0.5) — float32 →
      double is exact, one correctly-rounded multiply+floor);
    * Rademacher md5-parity planes (rademacher_planes) — bucket bit =
      (Σ_d sign·q_d > 0), an exact int64 comparison;
    * candidates share a (table, bucket) key; cosine from exact integer
      dot/norms with a fixed double expression shape
      dot/(sqrt(na)·sqrt(nb)) — single-rounded identically everywhere;
    * rank = row_number ordered by (cos desc, nbr_id).

    Same bucketed scale shape as lsh_topk (explode+equi-join, never
    all-pairs); the integer quantization costs one Catalyst transform.
    """
    from pyspark.sql.functions import pandas_udf

    qv = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(scale) + F.lit(0.5)).cast("long"),
    )
    nq = F.aggregate(
        F.transform(F.col("q"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    base = (
        vectors.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .select(F.col(id_col).alias("vid"), qv.alias("q"))
        .withColumn("nq", nq)
    )
    planes = rademacher_planes(dim, bits, n_tables).reshape(n_tables * bits, dim)
    weights = 1 << np.arange(bits, dtype=np.int64)
    n_t = n_tables

    @pandas_udf("array<long>")
    def codes(qs):  # type: ignore[no-untyped-def]
        import pandas as pd

        if not len(qs):
            return pd.Series([], dtype=object)
        v = np.stack([np.asarray(x, dtype=np.int64) for x in qs])
        sbits = (v @ planes.T) > 0  # exact integer matmul
        packed = sbits.reshape(len(v), n_t, len(weights)) @ weights
        return pd.Series(list(packed))

    tagged = base.select(
        "vid", "q", "nq", F.posexplode(codes(F.col("q"))).alias("t", "bk")
    )
    a = tagged.select(
        F.col("vid").alias("query_id"), F.col("q").alias("qa"),
        F.col("nq").alias("na"), "t", "bk",
    )
    b = tagged.select(
        F.col("vid").alias("nbr_id"), F.col("q").alias("qb"),
        F.col("nq").alias("nb"), "t", "bk",
    )
    cands = (
        a.join(b, ["t", "bk"])
        .filter(F.col("query_id") != F.col("nbr_id"))
        .dropDuplicates(["query_id", "nbr_id"])
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # zero-norm guard, same as cosine(): a zero-quantized
    # vector (every |x| < 0.5/scale) would 0/0 under ANSI
    _norm_prod = F.sqrt(F.col("na").cast("double")) * F.sqrt(
        F.col("nb").cast("double")
    )
    cos = F.when(_norm_prod > 0, dot.cast("double") / _norm_prod).otherwise(
        F.lit(0.0)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    return (
        cands.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cos", "rank")
    )
