"""Deduplication operators for training-data pipelines.

Every variant is designed around one constraint: the pairwise work must be
bounded by bucketing BEFORE any quadratic step — the same cell-binning
discipline as the spatial joins.

* exact           — hash groupBy, keep min doc_id (one shuffle)
* minhash + LSH   — per-row (ZERO-shuffle) per-band min(md5(shingle||salt))
                    signature via one F.aggregate pass over the shingle
                    array → band-bucket equi-join → candidate pairs
                    (optionally Jaccard-verified); the equi-join is the only
                    exchange in the operator. Hashes are md5 hex strings:
                    portable to DuckDB for the oracle (min() over strings).
* simhash         — 64-bit sign-sum sketch over token md5 bits; near-dup =
                    equal band keys (hamming-adjacent pairs surface via
                    4×16-bit band equality)
* n-gram Jaccard  — exact shingle-set Jaccard via explode + groupBy
* embedding       — cosine near-dup via LSH sign-buckets (see similarity.py)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmcoastline_spark.util import materialize

from .text import ws_tokens

# ------------------------------------------------------------------ exact


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per exact text hash."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


# --------------------------------------------------------------- shingles


def _shingle_array(text_col: str, k: int):
    """Distinct character k-shingles of one document as an array column
    (JVM-side sequence+transform; at least one element even for short/empty
    text, mirroring the reference-oracle `greatest(length-k+1, 1)`)."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"i -> substring({text_col}, i, {k})))"
    )


def shingles(docs: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Character k-shingles via sequence+transform (JVM-side) + explode."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_shingle_array(text_col, k)).alias("shingle"),
    )


# ------------------------------------------------------------ minhash LSH


def _minhash_sig_struct(
    docs: DataFrame, n_hashes: int, k: int, text_col: str, id_col: str,
) -> DataFrame:
    """(doc_id, _m:struct<c0..c{n-1}>) — the per-band minhash minima,
    computed NARROWLY: a document's shingles all live in its own input row,
    so the signature needs no explode, no groupBy, no exchange.  One
    F.aggregate pass over the shingle array carries a struct of n_hashes
    running minima (md5 per band inside the lambda).

    'g' sorts after every lowercase-hex md5 digest, so it is the identity
    element for string-min; the shingle array is never empty (sequence
    floor 1), so 'g' can never survive into a signature.

    Measured vs the round-1..5 explode+groupBy formulation
    (BENCH/run_minhash_ab.py, 80k docs, interleaved best-of-3): 1.7x faster
    at both local[8] and local[32], identical value-hash — and the shuffle
    count drops to ZERO, the shape that matters at 100 TB (signatures
    become embarrassingly parallel; only LSH's candidate join shuffles).
    An under-parallel input (single unsplittable file) is repartitioned
    first so the md5-heavy signature pass uses every core (round 6,
    util.ensure_min_parallelism; no-op on healthy multi-split inputs).
    """
    from osmcoastline_spark.util import ensure_min_parallelism

    docs = ensure_min_parallelism(docs)
    sh = docs.select(F.col(id_col).alias("doc_id"), _shingle_array(text_col, k).alias("_sh"))
    init = F.struct(*[F.lit("g").alias(f"c{b}") for b in range(n_hashes)])

    def merge(acc, s):
        return F.struct(*[
            F.least(acc[f"c{b}"], F.md5(F.concat(s, F.lit(f"#{b}")))).alias(f"c{b}")
            for b in range(n_hashes)
        ])

    return sh.select("doc_id", F.aggregate("_sh", init, merge).alias("_m"))


def minhash_signatures(
    docs: DataFrame, n_hashes: int = 8, k: int = 5,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, band, sig): per band, min over md5(shingle || band-salt).

    Zero-shuffle narrow plan (see _minhash_sig_struct); the posexplode of
    the n_hashes-element signature array is a narrow 8x fan-out of tiny
    rows, not an aggregation.  Signature strings are portable across
    engines (md5 hex compares lexicographically everywhere).
    """
    m = _minhash_sig_struct(docs, n_hashes, k, text_col, id_col)
    out = m.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"_m.c{b}") for b in range(n_hashes)])),
    )
    return out.withColumnRenamed("pos", "band").withColumnRenamed("col", "sig")


def minhash_lsh_pairs(
    docs: DataFrame, n_hashes: int = 8, bands: int = 4, k: int = 5,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-duplicate pairs: equal concatenated-signature in ANY
    LSH band (rows_per_band = n_hashes // bands).

    The band keys are built narrowly from the per-row signature struct —
    string-sorted "band:sig" terms, exactly the old collect_list+sort_array
    key — so the ONLY shuffle in the whole operator is the irreducible
    candidate equi-join on (lsh_band, key).  The previous formulation paid
    two extra exchanges (signature groupBy + key groupBy) for the same
    output."""
    rows_per_band = max(n_hashes // bands, 1)
    m = _minhash_sig_struct(docs, n_hashes, k, text_col, id_col)
    groups: dict[int, list[int]] = {}
    for bb in range(n_hashes):
        groups.setdefault(bb // rows_per_band, []).append(bb)
    key_cols = [
        F.concat_ws("|", F.sort_array(F.array(*[
            F.concat_ws(":", F.lit(str(bb)), F.col(f"_m.c{bb}")) for bb in groups[g]
        ])))
        for g in sorted(groups)  # consecutive 0..n_groups-1: posexplode pos == lsh_band
    ]
    keys = (
        m.select("doc_id", F.posexplode(F.array(*key_cols)))
        .withColumnRenamed("pos", "lsh_band")
        .withColumnRenamed("col", "key")
    )
    # materialize the band keys ONCE: both sides of the self-join below
    # otherwise recompute the full signature aggregate (every md5) in
    # their own map stages — the checkpoint holds bands×docs tiny rows
    # (doc_id + one concat key), far smaller than the join shuffle itself,
    # and halves the dominant signature cost (round 6: 1.12 s -> 0.49 s
    # at sf0.1 together with the input repartition)
    keys, _ = materialize(keys)
    a = keys.select(F.col("doc_id").alias("a"), "lsh_band", "key")
    b = keys.select(F.col("doc_id").alias("b"), "lsh_band", "key")
    return (
        a.join(b, ["lsh_band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 5, threshold: float = 0.8,
    text_col: str = "text", id_col: str = "doc_id",
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard over distinct k-shingle sets, restricted to pairs that
    share at least one shingle (the equi-join bounds the candidates).

    `max_doc_freq` drops shingles appearing in more than that many docs
    BEFORE the self-join — a boilerplate 8-gram shared by k docs otherwise
    contributes k² join rows (the 100 TB hot-key risk). The cap is ON by
    default (1000): at web scale the hot-shingle blow-up is the expected
    failure mode, so uncapped is the opt-in (`max_doc_freq=None`). The
    Jaccard is then computed consistently over the capped shingle sets
    (both intersection and sizes), so the metric stays well-defined;
    mirror the cap in any SQL oracle.

    The jaccard column is the raw IEEE division inter/(na+nb-inter) of
    exact integers — bit-identical on any engine, no rounding step."""
    sh = shingles(docs, k, text_col, id_col)
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("nsh"))
    a = sh.select(F.col("doc_id").alias("a"), "shingle")
    b = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("nsh").alias("na")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("nsh").alias("nb")), "b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------------- simhash


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over whitespace tokens.

    Bit b of the sketch = sign of Σ_tokens (±1 depending on bit b of
    md5(token)). Bits come from the first 16 hex chars; each hex char
    contributes 4 bits via its value — portable arithmetic (strpos over
    '0123456789abcdef').

    Construction is SQL-string based (selectExpr / F.expr), not Column-
    object based: the 64-aggregate plan built through per-Column py4j
    calls costs ~1.2 s of driver time PER BUILD (measured round 6, ~700
    py4j round-trips), while the identical plan parsed from expression
    strings builds in ~0.25 s. Same analyzed plan, same results. An
    under-parallel input is repartitioned so the md5/token pass uses
    every core (util.ensure_min_parallelism; no-op on multi-split input).
    """
    from osmcoastline_spark.util import ensure_min_parallelism

    docs = ensure_min_parallelism(docs)
    toks = docs.selectExpr(
        f"{id_col} AS doc_id",
        f"explode(split(lower(trim({text_col})), '\\\\s+')) AS tok",
    ).filter("length(tok) > 0")
    hexes = toks.selectExpr("doc_id", "substring(md5(tok), 1, 16) AS h")
    # ONE shuffle, 64 partial-aggregating sum columns per doc — no row
    # amplification (the round-1 plan exploded 64 rows per token, a 64×
    # shuffle blow-up). The 16 nibble values are projected ONCE per row so
    # each aggregate is a trivial shift/mask — inlining the string ops into
    # all 64 aggregates blows the codegen method size and falls back to
    # interpreted evaluation (measured 4× slower).
    nibs = hexes.selectExpr(
        "doc_id",
        *[
            f"(instr('0123456789abcdef', substring(h, {k + 1}, 1)) - 1) AS n{k}"
            for k in range(16)
        ],
    )
    sums = nibs.groupBy("doc_id").agg(
        *[
            F.expr(f"sum((shiftright(n{b // 4}, {3 - b % 4}) & 1) * 2 - 1) AS s{b}")
            for b in range(64)
        ]
    )
    terms = " + ".join(
        (
            "(CASE WHEN s63 > 0 THEN CAST(-9223372036854775808 AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END)"
            if b == 63
            else f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
        for b in range(64)
    )
    return sums.selectExpr("doc_id", f"CAST(0 AS BIGINT) + {terms} AS simhash")


def hash_band_structs(hash_col: str, band_bits: int):
    """The shared 64-bit-fingerprint band index: an array of (band, key)
    structs where key = band_bits-wide slice `band` of the hash, extracted
    with an UNSIGNED shift (bit 63 must not sign-extend into high bands).
    One definition serves simhash, batch phash and streaming phash — the
    three band joins must agree or a streaming emit and its batch oracle
    silently diverge."""
    return F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col(hash_col), i * band_bits)
            .bitwiseAND(F.lit((1 << band_bits) - 1))
            .alias("key"),
        )
        for i in range(64 // band_bits)
    ])


def simhash_band_pairs(sims: DataFrame, band_bits: int = 16) -> DataFrame:
    """Hamming-near candidates: docs sharing any 16-bit band of the sketch."""
    bands = sims.select(
        "doc_id", F.explode(hash_band_structs("simhash", band_bits)).alias("bk")
    ).select("doc_id", "bk.band", "bk.key")
    a = bands.select(F.col("doc_id").alias("a"), "band", "key")
    b = bands.select(F.col("doc_id").alias("b"), "band", "key")
    return a.join(b, ["band", "key"]).filter(F.col("a") < F.col("b")).select("a", "b").distinct()


def duplicated_spans(
    docs: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicated-substring detection: maximal token spans covered
    by at least one word k-gram that occurs more than once in the corpus
    (counting all occurrences, including within the same document).

    This is the Spark-native equivalent of the suffix-array
    substring-dedup stage (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better" — public): a suffix array finds
    arbitrary-length repeated substrings but does not distribute; fixed-k
    window hashing finds every repeated run of length >= k EXACTLY (a
    duplicated run of L >= k tokens flags all its L-k+1 windows, whose
    union reconstructs the maximal span; runs shorter than k are below
    the detection threshold by design, matching the paper's min-length).

    Output: one row per maximal span — doc_id, span_start, span_end
    (1-based token indices, inclusive), span_tokens, n_dup_windows.
    Overlapping or adjacent flagged windows (gap <= k between starts)
    merge, so spans are the union of duplicated regions.

    Shape at 100 TB: one row per token position leaves each map task as
    a (doc_id, pos, h1, h2) quad — the k-token window string is
    materialized transiently and hashed to a 128-bit pair (two
    independent xxhash64 inputs) BEFORE any exchange, so the shuffles
    move 8-byte hashes, never window text. The occurrence count is a
    map-side-combined partial agg (a billion-fold hot window collapses
    per task); the flag join is co-partitioned on the hash pair with a
    count side of one row per distinct window. The island/merge step
    windows over (doc_id, pos) — but only over FLAGGED rows, a small
    fraction of the corpus. 128-bit keys make hash-collision spans
    vanishingly unlikely (~2^-128 per pair); the oracle twin groups by
    the window string itself, so a collision would surface as a
    correctness diff.
    """
    t = F.col(text_col)
    toks = ws_tokens(t)
    n = F.size(toks)
    # sequence(1, 0) would generate a DESCENDING range — guard short docs
    starts = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(
        F.array().cast("array<int>")
    )
    # build the k-token window string ONCE per position: HOF lambda
    # bodies get no common-subexpression elimination, so hashing win(i)
    # twice inside the transform would materialize the string twice —
    # doubling the dominant string-build cost of the corpus-wide scan.
    # Emit (pos, w) structs, then hash the already-built string twice in
    # the outer projection (plain column refs into the exploded struct).
    win = lambda i: F.array_join(F.slice(toks, i, k), " ")  # noqa: E731
    wh = (
        docs.select(
            id_col,
            F.explode(
                F.transform(
                    starts,
                    lambda i: F.struct(
                        i.cast("long").alias("pos"), win(i).alias("w")
                    ),
                )
            ).alias("w"),
        )
        .select(
            id_col,
            F.col("w.pos").alias("pos"),
            F.xxhash64(F.col("w.w")).alias("h1"),
            F.xxhash64(F.col("w.w"), F.lit("dup2")).alias("h2"),
        )
    )
    dup_keys = (
        wh.groupBy("h1", "h2").agg(F.count("*").alias("cnt")).filter(F.col("cnt") > 1)
    )
    flagged = wh.join(dup_keys.select("h1", "h2"), ["h1", "h2"]).select(id_col, "pos")

    from pyspark.sql.window import Window

    ww = Window.partitionBy(id_col).orderBy("pos")
    isl = flagged.withColumn(
        "brk",
        F.when((F.col("pos") - F.lag("pos").over(ww)) > k, F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn(
        "island",
        F.sum("brk").over(ww.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count("*").cast("long").alias("n_dup_windows"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).cast("long").alias(
                "span_tokens"
            ),
            "n_dup_windows",
        )
    )
