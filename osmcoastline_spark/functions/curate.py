"""Corpus curation operators for training-data pipelines.

Three canonical curation steps a 100 TB text pipeline runs between raw
ingest and training: a corpus-trained n-gram LM familiarity score
(the CCNet-perplexity-style "does this read like the corpus" filter), a
deterministic stratified mixing sampler (per-stratum rates for data
mixing / rebalancing), and a Gopher-style rule filter (compositions of
cheap text statistics into named pass/fail gates).

All three are pure Catalyst column expressions / DataFrame ops (JVM-side,
whole-stage codegen) with ANSI-SQL twins in __spark_entry__.oracle_sql(),
so DuckDB verifies every value bit-for-bit. Design notes for parity and
scale:

* the LM score deliberately avoids transcendentals: rounds 1-2 showed
  ln/sin ULP drift between engines survives quantization, so the score is
  the MEAN SMOOTHED TRIGRAM PROBABILITY — an exact BIGINT sum of
  (count+1) numerators divided once at the end (IEEE division is
  correctly rounded, hence engine-identical). -log of it is a monotone
  transform, so filtering thresholds are equivalent.
* the char-trigram model is BOUNDED (≤ charset³ rows) regardless of
  corpus size, so the score join is a broadcast: at 100 TB the document
  side never shuffles for scoring — only the tiny (doc_id, partial sums)
  aggregate moves, and map-side partial aggregation applies.
* the sampler derives its uniform from md5 hex-string comparison (the
  repo's established engine-portable idiom, cf. similarity.py planes):
  keep iff substr(md5('salt:doc_id'), 1, 8) < per-stratum 8-hex
  threshold floor(rate·2³²). No floats anywhere, stable under
  re-partitioning, re-runs and engine choice — the property a
  reproducible training mix actually needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmcoastline_spark.util import materialize

from .text import lang_guess, punct_ratio, stopword_ratio, token_count, ws_tokens

# default mixing rates per language stratum (exercised by q_stratified_sample;
# callers pass their own)
DEFAULT_MIX = {"en": 0.5, "de": 1.0, "fr": 0.75, "es": 0.25, "zh": 0.125}


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Array of overlapping character n-grams (empty below n chars).

    Guarded: Spark's sequence(1, 0) generates a DESCENDING [1, 0] rather
    than an empty array, so short strings must short-circuit."""
    grams = F.transform(
        F.sequence(F.lit(1), F.length(text) - (n - 1)),
        lambda i: F.substring(text, i, n),
    )
    return F.when(F.length(text) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def lm_familiarity(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Corpus-LM familiarity score per document.

    Trains an add-one-smoothed char n-gram unigram model ON THE CORPUS
    ITSELF (one groupBy over exploded n-grams), then scores each document
    by the mean smoothed probability of its n-grams:

        mean_p = Σ_g (count(g) + 1)  /  (n_grams_doc · (T + V))

    with T = total n-gram occurrences and V = vocabulary size. High =
    built from common corpus n-grams (fluent/typical); low = rare or
    garbled text. The numerator sum is exact BIGINT arithmetic; the one
    double division at the end is IEEE-correctly-rounded, so the value is
    engine-identical (see module docstring for why no logs are taken).

    Returns doc_id, n_grams, mean_p (×1e6 — the familiar magnitude for
    thresholding); docs shorter than n chars are omitted (no n-grams ⇒ no
    model evidence).
    """
    grams = docs.select("doc_id", F.explode(char_ngrams(F.col(text_col), n)).alias("gram"))
    model = grams.groupBy("gram").agg(F.count("*").alias("c"))
    totals = model.agg(
        F.sum("c").alias("t_total"), F.count("*").alias("vocab")
    )
    per_doc = (
        grams.join(F.broadcast(model), "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.col("c") + F.lit(1)).alias("numer"),
        )
    )
    # double math end-to-end, NO decimal rounding: int64→double casts and
    # each */ are correctly rounded, hence engine-identical — whereas
    # round(x, 9) disagrees between engines in the last digit (Spark
    # BigDecimal HALF_UP vs DuckDB's multiply-round; bit at sf0.1), and an
    # integer numer·1e6 would overflow int64 at real corpus scale
    return per_doc.crossJoin(F.broadcast(totals)).select(
        "doc_id",
        "n_grams",
        (
            F.col("numer").cast("double")
            * F.lit(1_000_000)
            / (
                F.col("n_grams").cast("double")
                * (F.col("t_total") + F.col("vocab")).cast("double")
            )
        ).alias("mean_p_ppm"),
    )


def word_ngrams(text: Column, n: int) -> Column:
    """Array of overlapping word n-grams joined by single spaces (empty
    below n whitespace tokens; same sequence() guard as char_ngrams)."""
    toks = F.split(F.trim(text), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals: duplicate-word fraction and
    top-bigram fraction, plus their pass/fail gates.

    dup_word_frac   = 1 − distinct_tokens / tokens (run-together boilerplate
                      and keyword stuffing push this toward 1);
    top_bigram_frac = occurrences of the most frequent word 2-gram over all
                      2-gram occurrences (template/spam text repeats one
                      phrase; Gopher gates on exactly this family);
    r_dup_word      = dup_word_frac ≤ 0.5, r_top_bigram = top_bigram_frac
                      ≤ 0.08 — both split the synthetic corpus
                      non-vacuously (219 and 467 of 500 pass at sf0.01).

    Shape at scale (hybrid — picked by measurement, BENCH/run_repgates_ab.py):
    the word-side signals are per-row array computations (size /
    array_distinct over the token array — whole-stage-codegen'd, zero
    extra exchange), while the top-bigram count keeps the explode +
    two-level partial aggregation. A fully narrow form (top-bigram as the
    longest equal-neighbour run of the array_sort'ed bigram array via one
    F.aggregate pass) removes all four exchanges but loses 1.4–1.7× wall
    time at both 2 and 8 cores on the 32× corpus: F.aggregate's lambda is
    interpreted per array element, and a string compare + struct rebuild
    per bigram doesn't amortize that the way minhash's 8-hash lambda does.
    The exchanges that remain are map-side-combined partial aggs keyed by
    (doc_id, gram) then doc_id — skew-free at 100 TB (a doc's grams hash
    across the cluster; the per-doc rollup is one row per doc). All exact
    integer counts; the two fractions are single IEEE divisions
    (engine-identical). All three formulations are checksum-identical
    (xxhash64/bit_xor over every output column, 160k docs).
    """
    t = F.col(text_col)
    toks_f = ws_tokens(t)
    base = docs.select(
        id_col,
        F.size(toks_f).cast("long").alias("tokens"),  # long: old sum(c) parity
        F.size(F.array_distinct(toks_f)).cast("long").alias("distinct_tokens"),
    ).filter(F.col("tokens") > 0)  # old wagg base: docs with >=1 real token
    grams = docs.select(id_col, F.explode(word_ngrams(t, 2)).alias("gram"))
    bagg = (
        grams.groupBy(id_col, "gram")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_bigram"), F.sum("c").alias("bigrams"))
    )
    out = base.join(bagg, id_col, "left")
    dup = F.lit(1.0) - F.col("distinct_tokens").cast("double") / F.col("tokens").cast("double")
    top2 = F.when(
        F.col("bigrams").isNull() | (F.col("bigrams") == 0), F.lit(0.0)
    ).otherwise(F.col("top_bigram").cast("double") / F.col("bigrams").cast("double"))
    return out.select(
        id_col,
        "tokens",
        "distinct_tokens",
        dup.alias("dup_word_frac"),
        top2.alias("top_bigram_frac"),
        (dup <= 0.5).cast("int").alias("r_dup_word"),
        (top2 <= 0.08).cast("int").alias("r_top_bigram"),
        ((dup <= 0.5) & (top2 <= 0.08)).cast("int").alias("pass_repetition"),
    )


def decontaminate(
    docs: DataFrame,
    n: int = 4,
    bench_mod: int = 17,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    n-gram with a held-out benchmark set.

    The benchmark here is the deterministic subset doc_id ≡ 0 (mod
    bench_mod) — in production it's the eval suites, which are always
    tiny relative to the corpus, so its DISTINCT n-gram set is broadcast
    and the 100 TB training side NEVER shuffles for the membership test;
    the only shuffle is the per-doc hit aggregation (map-side partial,
    one row per doc after). n=4 flags 38 of 470 candidates at sf0.01 —
    non-vacuous in both directions.

    Returns (doc_id, n_grams, hit_grams, contaminated) for candidate docs
    with ≥1 n-gram; docs shorter than n words carry no evidence and are
    omitted (they cannot be contaminated by an n-gram match).
    """
    grams = docs.select(id_col, F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
    bench = (
        grams.filter(F.col(id_col) % bench_mod == 0)
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cand = grams.filter(F.col(id_col) % bench_mod != 0)
    agg = (
        cand.join(F.broadcast(bench), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hit_grams"),
        )
    )
    return agg.select(
        id_col,
        "n_grams",
        "hit_grams",
        (F.col("hit_grams") > 0).cast("int").alias("contaminated"),
    )


def _mix_threshold_hex(rate: float) -> str:
    """8-hex-digit keep threshold for a [0,1] rate; 1.0 ⇒ 'g' (above any
    hex digit, keeps everything), 0.0 ⇒ '00000000' (keeps nothing)."""
    if rate >= 1.0:
        return "g"
    if rate <= 0.0:
        return "00000000"
    return format(int(rate * (1 << 32)), "08x")


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float] | None = None,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic per-stratum sampler for training-data mixing.

    Keeps a row iff the first 8 hex digits of md5("salt:id") compare
    below the stratum's threshold floor(rate·2³²) — hex-string order IS
    numeric order at fixed width, so no int conversion (or float) is
    needed and any md5-capable engine reproduces the exact sample.
    Unknown strata default to rate 0 (dropped) — a mixing config that
    silently passes unlisted strata through would corrupt the mix.
    """
    rates = DEFAULT_MIX if rates is None else rates
    u = F.substring(
        F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))), 1, 8
    )
    thr = F.lit("00000000")
    for stratum, rate in sorted(rates.items()):
        thr = F.when(F.col(stratum_col) == stratum, F.lit(_mix_threshold_hex(rate))).otherwise(thr)
    return docs.filter(u < thr)


def gopher_rules(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style quality gates as named boolean columns (0/1 ints for
    engine-portable comparison) + the conjunction `pass_all`.

    r_len   — document length ≥ 150 chars (fragment filter);
    r_mwl   — mean word length (alpha chars / whitespace tokens) in
              [3.0, 4.6]: below = symbol soup, above = run-together text;
    r_stop  — stopword ratio ≥ 0.04 (natural-language evidence);
    r_lang  — the marker-phrase language heuristic recognises SOME
              language (lang_guess != 'und').

    All thresholds chosen to split the synthetic corpus non-vacuously
    (each rule fails a real subset at sf0.01); punct-ratio is omitted as
    a rule because the corpus is punctuation-free (it would be vacuous)
    but still reported as a feature column.
    """
    t = F.col(text_col)
    words = token_count(t)
    alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    mwl = F.when(
        words > 0, alpha.cast("double") / words.cast("double")
    ).otherwise(F.lit(0.0))
    r_len = (F.length(t) >= 150).cast("int")
    r_mwl = ((mwl >= 3.0) & (mwl <= 4.6)).cast("int")
    r_stop = (stopword_ratio(t) >= 0.04).cast("int")
    r_lang = (lang_guess(t) != "und").cast("int")
    return docs.select(
        id_col,
        mwl.alias("mean_word_len"),
        punct_ratio(t).alias("punct_ratio"),
        r_len.alias("r_len"),
        r_mwl.alias("r_mwl"),
        r_stop.alias("r_stop"),
        r_lang.alias("r_lang"),
        (r_len * r_mwl * r_stop * r_lang).alias("pass_all"),
    )


def quality_classifier(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: DataFrame | None = None,
) -> DataFrame:
    """fastText-style linear quality scorer over hashed bag-of-features
    (unigrams + word bigrams — the fastText feature set; Joulin et al.
    2016, public).  score = Σ w(feature) / n_features, label = sign.

    Two weight sources, same scoring plan:

    * ``weights=None`` (default, the oracle-able path): feature hashing
      (Weinberger et al. 2009) with the weight table collapsed into
      arithmetic — w(f) = 2·hexval(md5(f)[0]) − 15, an odd integer in
      [−15, 15].  The per-doc numerator is an exact BIGINT sum and the
      score is ONE IEEE division, so DuckDB reproduces it bit-for-bit
      (the established lm_familiarity idiom).  Zero joins, zero
      shuffles: the plan is a narrow projection — the 100 TB shape for
      model scoring.
    * ``weights=DataFrame(feature, weight_x1000: long)``: a real trained
      weight table, broadcast-joined against exploded features (the
      model is vocabulary-bounded ⇒ broadcast; the corpus side shuffles
      only for the per-doc sum, which partial-agg collapses map-side).
      Weights are milli-units (int64) so the numerator stays exact.

    Output: (id, n_features, score_num, score, pass_quality) where
    pass_quality = score_num > 0 — an integer compare, no float
    threshold at all.
    """
    t = F.col(text_col)
    unigrams = ws_tokens(t)
    feats = F.concat(unigrams, word_ngrams(t, 2))

    if weights is None:
        w = lambda f: (  # noqa: E731
            F.conv(F.substring(F.md5(f), 1, 1), 16, 10).cast("long") * 2 - 15
        )
        num = F.aggregate(
            F.transform(feats, w), F.lit(0).cast("long"), lambda acc, v: acc + v
        )
        scored = docs.select(
            F.col(id_col), F.size(feats).alias("n_features"), num.alias("score_num")
        )
    else:
        ex = docs.select(F.col(id_col), F.explode_outer(feats).alias("feature"))
        scored = (
            ex.join(F.broadcast(weights), "feature", "left")
            .groupBy(id_col)
            .agg(
                F.count("feature").cast("int").alias("n_features"),
                F.coalesce(F.sum("weight_x1000"), F.lit(0)).alias("score_num"),
            )
        )
    return scored.select(
        id_col,
        "n_features",
        "score_num",
        F.when(
            F.col("n_features") > 0,
            F.col("score_num").cast("double") / F.col("n_features").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("score"),
        (F.col("score_num") > 0).alias("pass_quality"),
    )


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    source_col: str = "source",
    token_col: str = "n_chars",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Budget-driven mixture sampler with upsampling — the data-mixing
    step proper (LLaMA/DoReMi-style): given target mixture WEIGHTS and a
    total token BUDGET, emit each source at rate
        rate_s = budget * w_s / tokens_s
    where tokens_s is the source's corpus token total. rate_s < 1
    downsamples; rate_s > 1 UPSAMPLES — every doc appears floor(rate_s)
    times ("epochs") plus one more with probability frac(rate_s), so the
    expected token count per source is exactly budget * w_s.

    Determinism/parity: the Bernoulli uniform is the 32-bit md5 prefix
    of "salt:id" compared against floor(frac(rate)*2^32) — rate is a
    fixed order of IEEE double ops over exact ints and double literals
    (budget*w first, one division), so any md5-capable engine reproduces
    the exact multiset, including epoch counts. Stable under
    repartitioning and re-runs — the property a reproducible training
    mix needs.

    Shape at 100 TB: ONE tiny per-source aggregate (map-side combined)
    broadcast back; everything else is projection + a bounded explode
    (ceil(rate) copies). The corpus is never shuffled. Sources missing
    from `weights` get rate 0 and are dropped loudly-by-design (a mixing
    config that silently passes unlisted sources corrupts the mix —
    same policy as stratified_sample).

    Output: input columns + `epoch` (1-based copy index, int).
    """
    if token_budget <= 0:
        raise ValueError("mixture_sample: token_budget must be positive")
    if any(w < 0 for w in weights.values()):
        raise ValueError("mixture_sample: weights must be non-negative")
    # sources with zero or unknown (all-NULL) token totals are dropped
    # consistently — an ANSI divide-by-zero would otherwise kill the job
    totals = docs.groupBy(source_col).agg(
        F.sum(token_col).cast("long").alias("__tok")
    ).filter(F.col("__tok") > 0)
    w_expr = F.lit(0.0)
    for src, w in sorted(weights.items()):
        w_expr = F.when(F.col(source_col) == src, F.lit(float(w))).otherwise(w_expr)
    rate = (
        F.lit(float(token_budget)) * w_expr / F.col("__tok").cast("double")
    )
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    base = F.floor(rate).cast("long")
    thr = F.floor((rate - F.floor(rate)) * F.lit(4294967296.0)).cast("long")
    n = base + F.when(u32 < thr, F.lit(1)).otherwise(F.lit(0)).cast("long")
    out_cols = docs.columns
    return (
        docs.join(F.broadcast(totals), on=source_col)
        .withColumn("__n", n)
        .filter(F.col("__n") >= 1)
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), F.col("__n").cast("int"))))
        .select(*out_cols, "epoch")
    )


def group_sample_k(
    df: DataFrame,
    k: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "gsk",
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Exact-size uniform sample WITHOUT replacement per group — the
    balanced-eval-set primitive (stratified_sample/mixture_sample give
    Bernoulli RATES; this gives exactly min(k, |group|) rows per group).

    Determinism/uniformity: rank rows by md5("salt:id") — a uniform
    deterministic permutation of each group — and keep the k smallest.
    Reproducible across engines, runs, partitionings; changing `salt`
    redraws the sample.

    Skew shape: delegates to urls.domain_topn's salted two-phase top-N
    (bucket top-k, then re-rank the ≤ buckets·k survivors), so a hot
    group never lands in one task and the result is bit-identical to
    the naive single window.
    """
    from .urls import domain_topn

    if k < 1:
        raise ValueError("group_sample_k: k must be >= 1")
    u = F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    tagged = df.withColumn("__u", u)
    out = domain_topn(
        tagged, k, domain_col=group_col,
        order_cols=[F.col("__u"), F.col(id_col)], rank_col=rank_col,
    )
    return out.drop("__u")


def assign_shards(
    df: DataFrame,
    shard_budget: int,
    token_col: str = "n_chars",
    order_cols=None,
    shard_col: str = "shard",
) -> DataFrame:
    """Deterministic token-budget sharding — assign every doc to an
    output shard so consecutive shards carry ~`shard_budget` tokens each
    (the dataset-shard writer planning step; pack_sequences packs WITHIN
    a context window, this packs ACROSS output files).

    shard = floor((cumsum(tokens) - tokens) / budget) over a global
    deterministic order — first-fit in order, so a shard overshoots by
    at most one document (no bin-packing heuristics, fully
    reproducible). The running sum is exact int64.

    Scale shape: a global-ORDER-BY window in Spark is a SINGLE-TASK
    window (WindowExec warns and moves everything to one partition), so
    this is the classic two-pass distributed prefix sum instead:
    repartitionByRange on the order + local per-partition cumsum, then
    per-partition totals (one tiny job, #partitions rows to the driver)
    become broadcast offsets. The output is partition-boundary-INVARIANT
    — cumsum over a deterministic total order does not depend on where
    the range sampler cut it — and the branch point is localCheckpointed
    so the two passes cannot see different samplings of the same
    lineage.
    """
    from pyspark.sql.window import Window

    if shard_budget < 1:
        raise ValueError("assign_shards: shard_budget must be >= 1")
    if order_cols is None:
        order_cols = [c for c in df.columns if c != token_col] or [token_col]
    oc = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    # NULL tokens would silently skip the window sum (NULL shard ids) and
    # negative ones corrupt the offsets — fail loudly in-plan instead
    tok = F.when(
        F.col(token_col).isNull() | (F.col(token_col) < 0),
        F.raise_error(
            F.concat(
                F.lit(f"assign_shards: NULL or negative {token_col} at row "),
                F.coalesce(oc[0].cast("string"), F.lit("?")),
            )
        ).cast("long"),
    ).otherwise(F.col(token_col).cast("long"))
    loc_w = Window.partitionBy("__pid").orderBy(*oc)
    # pin the range sampling before branching
    loc, _ = materialize(
        df.repartitionByRange(*oc)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__run_local",
            F.sum(tok).over(
                loc_w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    totals = {
        r["__pid"]: r["t"]
        for r in loc.groupBy("__pid").agg(F.max("__run_local").alias("t")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    spark = df.sparkSession
    off = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], "__pid int, __off long"
    )
    run = F.col("__off") + F.col("__run_local")
    return (
        loc.join(F.broadcast(off), "__pid")
        .withColumn(
            shard_col,
            F.floor(
                (run - F.col(token_col).cast("long")) / F.lit(int(shard_budget))
            ).cast("long"),
        )
        .drop("__pid", "__run_local", "__off")
    )
