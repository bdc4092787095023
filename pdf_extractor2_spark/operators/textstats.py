"""Text-analysis operators over the ``documents`` table — the corpus-level
pipeline ops a training-data pipeline needs (token counting, quality
scoring, fingerprinting, language-ID).

All are pure Spark-SQL expressions (JVM-side, whole-stage codegen; zero
Python in the hot path) with exact DuckDB-oracle equivalents in
``__spark_entry__.oracle_sql``.  Arithmetic is written to be
engine-agnostic: integer folds, explicit casts, fixed rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .dedup import round_half_up_expr

MOD = 1_000_000_007
P56 = 72_057_594_037_927_931  # shared 56-bit fold modulus (operators/dedup.py)
KMV_K = 256
TOP_TOKENS_GLOBAL = 30   # top_tokens_combined: global heavy hitters
TOP_TOKENS_PER_LANG = 5  # top_tokens_combined: per-language heavy hitters

# ---------------------------------------------------------------------------
# shared per-row expression fragments — SINGLE source for the fused
# profiles (doc_profile here, host_profile in webcorpus.py) and their
# DuckDB twins, so tuning a threshold can never desynchronize two rows
# or two engines.  Spark fragments read columns (text, toks, ml); DuckDB
# fragments read (text, t, ml).
# ---------------------------------------------------------------------------

# mean token length: the O(tokens) fold — project ONCE as `ml`, then
# reference the projection (inlining re-runs the fold per use in codegen)
ML_EXPR = (
    "CAST(aggregate(transform(toks, t -> length(t)), 0L,"
    " (acc, x) -> acc + x) AS DOUBLE) / size(toks)"
)
ML_SQL = "CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)"

# the C4 kept-gate conjunction (doc_profile/host_profile)
KEPT_EXPR = (
    "size(toks) >= 50 AND ml >= CAST(3 AS DOUBLE)"
    " AND ml <= CAST(10 AS DOUBLE)"
    " AND NOT contains(lower(text), 'lorem ipsum')"
    " AND NOT contains(text, '{')"
)
KEPT_SQL = (
    "len(t) >= 50 AND ml >= CAST(3 AS DOUBLE)"
    " AND ml <= CAST(10 AS DOUBLE)"
    " AND NOT contains(lower(text), 'lorem ipsum')"
    " AND NOT contains(text, '{')"
)

# distinct-3-gram count (doc_profile's Gopher repetition signal)
D3_EXPR = (
    "case when size(toks) < 3 then 0 else size(array_distinct("
    "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ',"
    " element_at(toks, i + 1), element_at(toks, i + 2),"
    " element_at(toks, i + 3))))) end"
)
D3_SQL = (
    "CASE WHEN len(t) < 3 THEN 0 ELSE"
    " len(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]"
    " for i in generate_series(1, len(t) - 2)])) END"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with text coalesced to '' and tokens projected — the
    NULL-safe base every per-doc operator builds on (non-ANSI sessions
    return -1 from size(split(NULL)) while DuckDB len(NULL) is NULL;
    coalescing in BOTH engine texts makes parity ANSI-flag-independent,
    per round-3 ADVICE)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.expr("coalesce(text, '')").alias("text"),
        F.expr("split(coalesce(text, ''), ' ')").alias("toks"),
    )


_BASE_SQL = (
    "SELECT doc_id, lang, coalesce(text, '') AS text,"
    " string_split(coalesce(text, ''), ' ') AS t FROM documents"
)


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language heuristic: score English function words
    vs corpus-neutral tokens; emits predicted vs labelled language."""
    return _docs_nn(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.expr(
            "case when size(filter(toks, t -> t in ('the', 'a', 'of')))"
            " * 10 >= size(toks) then 'en' else 'und' end"
        ).alias("pred_lang"),
    )


# BPE-ish sub-word pre-tokenizer (GPT-2-style family) for doc_profile's
# n_bpe_tokens: conservative char classes shared by Java regex and RE2
_BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def lang_id_sql() -> str:
    return f"""
        SELECT doc_id, lang,
               CASE WHEN len(list_filter(t, x -> x IN ('the', 'a', 'of'))) * 10
                         >= len(t)
                    THEN 'en' ELSE 'und' END AS pred_lang
        FROM ({_BASE_SQL})
    """


def distinct_shingles_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide distinct 3-gram-shingle cardinality via a
    K-Minimum-Values sketch — the sketch family (à la HLL) done
    DETERMINISTICALLY so a second engine reproduces the estimate
    bit-for-bit (HLL++ cannot be oracle-checked; KMV over a shared
    integer hash can).

    Estimator: with h_(k) the k-th smallest distinct hash on [0, M),
    estimate = (k-1) · M / h_(k).  The plan is explode → hash →
    distinct (one shuffle) → TakeOrdered(k) (map-side partial top-k,
    driver merges k·partitions values — bounded, no global sort).  The
    exact count rides along as one extra aggregate so the result row
    exhibits the sketch's error.  The hash universe is the 56-bit
    shingle fold shared with the dedup family.

    The distinct-hash branch feeds BOTH the sketch leg and the exact
    leg, so it is persisted (scoped) — without it the whole
    explode+fold+distinct subtree executes twice per query."""
    from .dedup import _scoped_clear, _scoped_persist, _with_shingle_ids

    _scoped_clear()
    dh = _scoped_persist(
        _with_shingle_ids(spark, sf_dir).select(F.col("sid").alias("h")).distinct()
    )
    sketch = dh.orderBy("h").limit(KMV_K).agg(
        F.max("h").alias("kth_min_h"), F.count("*").alias("k_used")
    )
    exact = dh.agg(F.count("*").alias("n_exact_distinct"))
    est = round_half_up_expr(
        f"case when k_used < {KMV_K} then cast(n_exact_distinct as double)"
        f" else ((k_used - 1) * {P56}.0D) / kth_min_h end",
        2,
    )
    return sketch.crossJoin(exact).select(
        "n_exact_distinct", "k_used", "kth_min_h",
        F.expr(est).alias("kmv_estimate"),
    )


def distinct_shingles_kmv_sql() -> str:
    from .dedup import _ids_sql

    est = round_half_up_expr(
        f"CASE WHEN k_used < {KMV_K} THEN CAST(n_exact_distinct AS DOUBLE)"
        f" ELSE ((k_used - 1) * CAST({P56} AS DOUBLE)) / kth_min_h END",
        2,
    )
    return f"""
        WITH {_ids_sql()},
        h AS (SELECT DISTINCT sid AS h FROM ids),
        topk AS (SELECT h FROM h ORDER BY h LIMIT {KMV_K}),
        sk AS (SELECT MAX(h) AS kth_min_h, COUNT(*) AS k_used FROM topk),
        exact_ct AS (SELECT COUNT(*) AS n_exact_distinct FROM h)
        SELECT n_exact_distinct, k_used, kth_min_h,
               {est} AS kmv_estimate
        FROM sk CROSS JOIN exact_ct
    """


def _f6(x: str) -> str:
    """Cross-engine round-half-up to 6 decimals (ratios of small
    integers DO land on exact binary halfway points, e.g. 1/128) — the
    shared idiom from operators/dedup.py."""
    return round_half_up_expr(x, 6)


# ---------------------------------------------------------------------------
# CCNet-style n-gram LM perplexity (VERDICT r4 next #1)
# ---------------------------------------------------------------------------

PPX_VOCAB_K = 512   # top-K train tokens kept; everything else → <unk>
PPX_TRAIN_MOD = 5   # doc_id % MOD == 0 → deterministic held-out train slice
_PPX_BOS = "<s>"
_PPX_UNK = "<unk>"  # a literal '<unk>' token in a document merges with
                    # OOV — standard LM practice, identical in both engines


def _lnrat_milli(num: str, den: str) -> str:
    """floor(ln(num/den)·1000 + 0.5) AS BIGINT — a log-probability in
    integer MILLI-nats, the same expression text in both engines.

    Why integer milli-nats: per-document scores sum THOUSANDS of log
    terms, and Spark's ln and DuckDB's ln disagree in the last ulp on
    ~7% of inputs (measured: 7,286/100,000 bitwise mismatches), so a
    double-sum would drift across engines.  Quantizing each model row
    ONCE to an integer makes every downstream sum exact and
    order-independent; a 1-ulp ln disagreement flips the quantized
    value only when ln(p)·1000 + 0.5 lands within ~3e-13 of an integer
    (~1e-6 chance across a full 514²-row model) — measured 0 mismatches
    over 22,000 model-shaped rationals."""
    return (
        f"cast(floor(ln(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE))"
        f" * CAST(1000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    )


_PPX_MEAN = (
    "-CAST(sum_logp_milli AS DOUBLE)"
    " / (CAST(n_bigrams AS DOUBLE) * CAST(1000 AS DOUBLE))"
)

# CCNet-style head/middle/tail bands are RELATIVE quartiles of the
# corpus's rounded log_ppx, computed exactly in-job (fixed absolute
# cutoffs were measured and rejected: a 10× larger train slice tightens
# the score distribution enough that sf0.01-derived cutoffs leave the
# sf0.1 tail with 1 document — the band stage degenerated to a no-op).
#
# The exact distributed quantile, at any scale: aggregate doc scores
# into a VALUE HISTOGRAM keyed by the 4-dp rounded log_ppx (≤ tens of
# thousands of distinct cells no matter how many documents), take the
# cumulative via a histogram self-join (metadata-sized, no window over
# corpus rows), and pick thresholds with pure-integer comparisons
# (4·cum ≥ tot and 4·cum ≥ 3·tot — no double division anywhere), so
# Spark and DuckDB can never disagree on band membership.
_PPX_BAND_CASE = (
    "CASE WHEN log_ppx <= t_head THEN 'head'"
    " WHEN log_ppx <= t_mid THEN 'middle'"
    " ELSE 'tail' END"
)


def _ppx_banded(scores: DataFrame) -> DataFrame:
    """(doc_id, log_ppx) → (doc_id, log_ppx, ppx_band) with exact
    relative quartile bands: head = best quartile, tail = worst.
    t_head = MIN v with 4·cum(v) ≥ tot; t_mid = MIN v with
    4·cum(v) ≥ 3·tot — both always defined (v_max has cum = tot).
    The caller persists ``scores``; the histogram is re-aggregated from
    that cache for its two self-join sides and the total."""
    hist = scores.groupBy("log_ppx").agg(F.count("*").cast("long").alias("c"))
    tot = hist.agg(F.sum("c").cast("long").alias("tot"))
    a = hist.select(F.col("log_ppx").alias("v"))
    b = hist.select(F.col("log_ppx").alias("bv"), F.col("c").alias("bc"))
    cum = (
        a.join(F.broadcast(b), F.col("bv") <= F.col("v"))
        .groupBy("v")
        .agg(F.sum("bc").cast("long").alias("cum"))
    )
    th = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.min(F.when(F.expr("4 * cum >= tot"), F.col("v"))).alias("t_head"),
            F.min(F.when(F.expr("4 * cum >= 3 * tot"), F.col("v"))).alias("t_mid"),
        )
    )
    return scores.crossJoin(F.broadcast(th)).select(
        "doc_id", "log_ppx", F.expr(_PPX_BAND_CASE).alias("ppx_band")
    )


def _ppx_band_sql_ctes(ppx: str) -> str:
    """DuckDB twin of ``_ppx_banded`` as a WITH-list fragment over an
    existing CTE ``ppx`` providing (doc_id, log_ppx); ends with
    ``ppx_banded(doc_id, log_ppx, ppx_band)``."""
    return f"""
        ppx_hist AS (SELECT log_ppx, CAST(COUNT(*) AS BIGINT) AS c
                     FROM {ppx} GROUP BY 1),
        ppx_tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM ppx_hist),
        ppx_cum AS (SELECT a.log_ppx AS v, CAST(SUM(b.c) AS BIGINT) AS cum
                    FROM ppx_hist a JOIN ppx_hist b ON b.log_ppx <= a.log_ppx
                    GROUP BY a.log_ppx),
        ppx_th AS (SELECT MIN(CASE WHEN 4 * cum >= tot THEN v END) AS t_head,
                          MIN(CASE WHEN 4 * cum >= 3 * tot THEN v END) AS t_mid
                   FROM ppx_cum CROSS JOIN ppx_tot),
        ppx_banded AS (SELECT doc_id, log_ppx, {_PPX_BAND_CASE} AS ppx_band
                       FROM {ppx} CROSS JOIN ppx_th)"""


def _ppx_scores(base: DataFrame) -> DataFrame:
    """Per-document bigram-LM log-perplexity over a prepared
    ``(doc_id, toks)`` frame (CCNet-family quality signal: score every
    document against a count-based LM trained on a deterministic
    held-out slice — add-one smoothing, top-K vocabulary, OOV → unk).

    Shape, at 100-TB scale: ONE explode of per-row bigram pairs
    (``<s>``-prefixed, built array-side — no window over corpus rows),
    vocabulary via distributed top-K (TakeOrdered, never a full-vocab
    sort), token→vocab mapping as two broadcast joins, and model
    scoring as a broadcast join + partial-aggregable per-doc SUM of
    integer milli-nat scores (see ``_lnrat_milli`` for why integers).
    The model is broadcast-safe BY CONSTRUCTION: after unk-mapping,
    distinct (prev, cur) ≤ (K+2)² ≈ 264k rows regardless of corpus
    size; context and vocab-size tables are ≤ K+2 rows."""
    from .dedup import _scoped_persist

    pairs = (
        "transform(sequence(1, size(toks)), i -> struct("
        f" if(i = 1, '{_PPX_BOS}', element_at(toks, i - 1)) AS prev,"
        " element_at(toks, i) AS cur))"
    )
    raw = _scoped_persist(
        base.select(
            "doc_id",
            (F.col("doc_id") % F.lit(PPX_TRAIN_MOD) == 0).alias("is_train"),
            F.explode(F.expr(pairs)).alias("pr"),
        ).select("doc_id", "is_train", "pr.prev", "pr.cur")
    )
    freq = raw.where("is_train").groupBy("cur").agg(F.count("*").alias("c"))
    vocab = (
        freq.orderBy(F.desc("c"), F.asc("cur"))
        .limit(PPX_VOCAB_K)
        .select(F.col("cur").alias("vtok"))
    )
    mapped = _scoped_persist(
        raw.join(
            F.broadcast(vocab.select(F.col("vtok").alias("pv"))),
            F.col("prev") == F.col("pv"), "left",
        )
        .join(
            F.broadcast(vocab.select(F.col("vtok").alias("cv"))),
            F.col("cur") == F.col("cv"), "left",
        )
        .select(
            "doc_id", "is_train",
            F.when(F.col("prev") == _PPX_BOS, F.lit(_PPX_BOS))
            .when(F.col("pv").isNotNull(), F.col("prev"))
            .otherwise(F.lit(_PPX_UNK)).alias("prev"),
            F.when(F.col("cv").isNotNull(), F.col("cur"))
            .otherwise(F.lit(_PPX_UNK)).alias("cur"),
        )
    )
    tr = mapped.where("is_train")
    # persisted: big feeds three branches (context counts, vocab size,
    # the scoring join) — without the cache each would re-run the
    # corpus-pair aggregation
    big = _scoped_persist(
        tr.groupBy("prev", "cur").agg(F.count("*").alias("cb"))
    )
    # context counts and vocab size derive from the MODEL table, not a
    # second corpus pass: Σ_cur c(prev,cur) = c(prev) and the distinct
    # mapped cur set is exactly big's cur column — big is ≤ (K+2)² rows
    # by construction, so these re-aggregations are metadata-sized
    # (round-5 rework: the corpus-pair frame is aggregated ONCE)
    ctx = big.groupBy("prev").agg(F.sum("cb").cast("long").alias("cp"))
    # +1 reserves an outcome slot for unk even when the train slice has
    # no OOV
    vsz = big.agg((F.countDistinct("cur") + F.lit(1)).cast("long").alias("v"))
    # ONE smoothed-score expression instead of a model/context-fallback/
    # unk-fallback coalesce chain: s = ln((c(prev,cur)+1)/(c(prev)+V))
    # with missing counts defaulting to 0 covers all three cases (seen
    # bigram, unseen bigram in a seen context, unseen context) — and
    # costs 3 broadcast joins instead of 7 broadcast subtrees (the
    # first cut spent its wall time materializing broadcasts)
    scored = (
        mapped.join(F.broadcast(big), ["prev", "cur"], "left")
        .join(F.broadcast(ctx), "prev", "left")
        .crossJoin(F.broadcast(vsz))
        .select(
            "doc_id",
            F.expr(
                _lnrat_milli("coalesce(cb, 0) + 1", "coalesce(cp, 0) + v")
            ).alias("s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("s").cast("long").alias("sum_logp_milli"),
        )
        .select(
            "doc_id", "n_bigrams", "sum_logp_milli",
            F.expr(round_half_up_expr(_PPX_MEAN, 4)).alias("log_ppx"),
        )
    )


def _ppx_sql_ctes(base: str) -> str:
    """The DuckDB twin of ``_ppx_scores`` as a WITH-list fragment over
    an existing CTE ``base`` providing (doc_id, t); ends with
    ``ppx_doc(doc_id, n_bigrams, sum_logp_milli)``.  SINGLE source —
    embedded by ``doc_profile_sql`` and ``dedup.training_corpus_filter_sql``."""
    s_all = _lnrat_milli("COALESCE(b.cb, 0) + 1", "COALESCE(c.cp, 0) + v")
    return f"""
        ppx_raw AS (
          SELECT doc_id, doc_id % {PPX_TRAIN_MOD} = 0 AS is_train,
                 unnest([{{'p': CASE WHEN i = 1 THEN '{_PPX_BOS}'
                                ELSE t[i-1] END, 'c': t[i]}}
                         for i in generate_series(1, len(t))]) AS pr
          FROM {base}),
        ppx_rw AS (SELECT doc_id, is_train,
                          struct_extract(pr, 'p') AS prev,
                          struct_extract(pr, 'c') AS cur FROM ppx_raw),
        ppx_freq AS (SELECT cur AS tok, COUNT(*) AS c
                     FROM ppx_rw WHERE is_train GROUP BY cur),
        ppx_vocab AS (SELECT tok FROM ppx_freq
                      ORDER BY c DESC, tok ASC LIMIT {PPX_VOCAB_K}),
        ppx_mapped AS (
          SELECT doc_id, is_train,
                 CASE WHEN prev = '{_PPX_BOS}' THEN '{_PPX_BOS}'
                      WHEN prev IN (SELECT tok FROM ppx_vocab) THEN prev
                      ELSE '{_PPX_UNK}' END AS prev,
                 CASE WHEN cur IN (SELECT tok FROM ppx_vocab) THEN cur
                      ELSE '{_PPX_UNK}' END AS cur
          FROM ppx_rw),
        ppx_big AS (SELECT prev, cur, COUNT(*) AS cb
                    FROM ppx_mapped WHERE is_train GROUP BY 1, 2),
        ppx_ctx AS (SELECT prev, CAST(SUM(cb) AS BIGINT) AS cp
                    FROM ppx_big GROUP BY 1),
        ppx_vsz AS (SELECT COUNT(DISTINCT cur) + 1 AS v FROM ppx_big),
        ppx_scored AS (
          SELECT m.doc_id, {s_all} AS s
          FROM ppx_mapped m
          LEFT JOIN ppx_big b ON m.prev = b.prev AND m.cur = b.cur
          LEFT JOIN ppx_ctx c ON m.prev = c.prev
          CROSS JOIN ppx_vsz),
        ppx_doc AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                 CAST(SUM(s) AS BIGINT) AS sum_logp_milli
          FROM ppx_scored GROUP BY doc_id)"""


def doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document text-analysis profile as ONE fused pass: token
    counts, quality heuristics, rolling-hash fingerprint, language-ID,
    BPE-ish subword counts, C4 quality gates, and Gopher repetition
    signals — every column a per-row Spark-SQL expression except the
    top-token mass (one exploded hash aggregate joined back on doc_id).

    This is the production shape for corpus-wide profiling at 10^12
    docs: the plan scans ONCE, tokenizes ONCE (the persisted ``base``
    projection feeds the per-row branch, the token-frequency branch and
    the perplexity model), and ships one wide row per document.  Pinned
    single-FileScan by tests/test_plans.py.  The mean-token-length gate
    compares the RAW double (identical in both engines: integer sum /
    integer count); only the reported column is rounded.

    ``text`` is coalesced to '' before any tokenize (ANSI-flag-
    independent parity — see ``_docs_nn``)."""
    from .dedup import _scoped_clear, _scoped_persist

    _scoped_clear()
    base = _scoped_persist(_docs_nn(spark, sf_dir))
    # expensive folds projected once, referenced by several columns
    stage1 = base.select(
        "doc_id", "lang", "text", "toks",
        F.expr(ML_EXPR).alias("ml"),
        F.expr(
            f"cast(size(regexp_extract_all(text, '{_BPE_PATTERN}', 0)) as long)"
        ).alias("nbpe"),
    )
    per_row = stage1.select(
        "doc_id",
        "lang",
        F.expr("cast(size(toks) as long)").alias("n_tokens"),
        F.expr("cast(size(array_distinct(toks)) as long)").alias(
            "n_distinct_tokens"
        ),
        F.expr("cast(length(text) as long)").alias("n_chars_actual"),
        F.expr(_f6(
            "cast(size(filter(toks, t -> t in ('the', 'a'))) as double)"
            " / size(toks)"
        )).alias("stopword_ratio"),
        F.expr(_f6("ml")).alias("mean_token_len"),
        F.expr(
            "case when length(text) >= 200 and size(toks) >= 40"
            " then 'keep' else 'drop' end"
        ).alias("quality_bucket"),
        F.expr(
            f"aggregate(transform(split(text, ''), c -> ascii(c)),"
            f" 0L, (acc, c) -> (acc * 31 + c) % {MOD})"
        ).alias("fingerprint"),
        F.expr(
            "case when size(filter(toks, t -> t in ('the', 'a', 'of')))"
            " * 10 >= size(toks) then 'en' else 'und' end"
        ).alias("pred_lang"),
        F.col("nbpe").alias("n_bpe_tokens"),
        F.expr(_f6("CAST(nbpe AS DOUBLE) / size(toks)")).alias("bpe_per_word"),
        F.expr("size(toks) >= 50").alias("has_min_words"),
        F.expr(
            "ml >= CAST(3 AS DOUBLE) AND ml <= CAST(10 AS DOUBLE)"
        ).alias("word_len_ok"),
        F.expr("NOT contains(lower(text), 'lorem ipsum')").alias("no_lorem"),
        F.expr("NOT contains(text, '{')").alias("no_brace"),
        F.expr(KEPT_EXPR).alias("kept"),
        F.expr("cast(greatest(size(toks) - 2, 0) as long)").alias("n_3grams"),
        F.expr(f"cast({D3_EXPR} as long)").alias("n_distinct_3grams"),
    )
    top = (
        base.select("doc_id", F.explode("toks").alias("tk"))
        .groupBy("doc_id", "tk")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("top_c"))
    )
    dup_frac = _f6(
        "CAST(1 AS DOUBLE) - CAST(n_distinct_3grams AS DOUBLE) / n_3grams"
    )
    top_frac = _f6("CAST(top_c AS DOUBLE) / n_tokens")
    keep = [f.name for f in per_row.schema.fields]
    fused = per_row.join(top, "doc_id").select(
        *keep,
        F.expr(
            f"case when n_3grams = 0 then CAST(0 AS DOUBLE) else {dup_frac} end"
        ).alias("dup_3gram_frac"),
        F.expr(top_frac).alias("top_token_frac"),
    )
    # CCNet-style bigram-LM perplexity — trained/scored off the SAME
    # persisted base, joined back per doc
    return fused.join(_ppx_scores(base), "doc_id")


def doc_profile_sql() -> str:
    sw = _f6(
        "CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE) / len(t)"
    )
    dup_frac = _f6(
        "CAST(1 AS DOUBLE) - CAST(n_distinct_3grams AS DOUBLE) / n_3grams"
    )
    top_frac = _f6("CAST(top_c AS DOUBLE) / n_tokens")
    return f"""
        WITH base AS ({_BASE_SQL}),
        s1 AS (
          SELECT doc_id, lang, text, t,
                 {ML_SQL} AS ml,
                 CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT)
                   AS nbpe
          FROM base),
        per_row AS (
          SELECT doc_id, lang,
                 CAST(len(t) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
                 CAST(length(text) AS BIGINT) AS n_chars_actual,
                 {sw} AS stopword_ratio,
                 {_f6("ml")} AS mean_token_len,
                 CASE WHEN length(text) >= 200 AND len(t) >= 40
                      THEN 'keep' ELSE 'drop' END AS quality_bucket,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     [CAST(ascii(substr(text, i, 1)) AS BIGINT)
                      for i in generate_series(1, length(text))]),
                   (acc, c) -> (acc * 31 + c) % {MOD}) AS fingerprint,
                 CASE WHEN len(list_filter(t, x -> x IN ('the', 'a', 'of')))
                           * 10 >= len(t)
                      THEN 'en' ELSE 'und' END AS pred_lang,
                 nbpe AS n_bpe_tokens,
                 {_f6("CAST(nbpe AS DOUBLE) / len(t)")} AS bpe_per_word,
                 len(t) >= 50 AS has_min_words,
                 ml >= CAST(3 AS DOUBLE) AND ml <= CAST(10 AS DOUBLE)
                   AS word_len_ok,
                 NOT contains(lower(text), 'lorem ipsum') AS no_lorem,
                 NOT contains(text, '{{') AS no_brace,
                 {KEPT_SQL} AS kept,
                 CAST(GREATEST(len(t) - 2, 0) AS BIGINT) AS n_3grams,
                 CAST({D3_SQL} AS BIGINT) AS n_distinct_3grams
          FROM s1),
        tok AS (SELECT doc_id, unnest(t) AS tk FROM base),
        cnt AS (SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        top AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_c
                FROM cnt GROUP BY 1),
        {_ppx_sql_ctes("base")}
        SELECT doc_id, lang, n_tokens, n_distinct_tokens, n_chars_actual,
               stopword_ratio, mean_token_len, quality_bucket, fingerprint,
               pred_lang, n_bpe_tokens, bpe_per_word, has_min_words,
               word_len_ok, no_lorem, no_brace, kept, n_3grams,
               n_distinct_3grams,
               CASE WHEN n_3grams = 0 THEN CAST(0 AS DOUBLE)
                    ELSE {dup_frac} END AS dup_3gram_frac,
               {top_frac} AS top_token_frac,
               n_bigrams, sum_logp_milli,
               {round_half_up_expr(_PPX_MEAN, 4)} AS log_ppx
        FROM per_row JOIN top USING (doc_id) JOIN ppx_doc USING (doc_id)
    """


def top_tokens_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters, global AND per-language, from ONE persisted
    (lang, token) frequency aggregate — the global counts are the
    per-lang counts re-aggregated, so the corpus scans once.  Global
    rows carry ``lang = '*'``.  The per-lang ranking windows over
    |vocab per lang| aggregated rows; the global ranking windows over
    an already-TakeOrdered ``TOP_TOKENS_GLOBAL``-row set (never a full sort of
    the vocabulary)."""
    from pyspark.sql import Window

    from .dedup import _scoped_clear, _scoped_persist

    _scoped_clear()
    freq = _scoped_persist(
        _docs(spark, sf_dir)
        .select(
            "lang",
            F.explode(F.expr("split(coalesce(text, ''), ' ')")).alias("token"),
        )
        .where(F.length("token") > 1)
        .groupBy("lang", "token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    by_lang = (
        freq.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_TOKENS_PER_LANG)
        .select(
            "lang", "token",
            F.col("n").cast("long").alias("n"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
    glob_top = (
        freq.groupBy("token")
        .agg(F.sum("n").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(TOP_TOKENS_GLOBAL)
    )
    wg = Window.orderBy(F.desc("n"), F.asc("token"))
    glob = (
        glob_top.withColumn("rank", F.row_number().over(wg).cast("int"))
        .select(F.lit("*").alias("lang"), "token", "n", "rank")
    )
    return by_lang.unionByName(glob)


def top_tokens_combined_sql() -> str:
    return f"""
        WITH freq AS (
          SELECT lang, token, COUNT(*) AS n
          FROM (SELECT lang, unnest(string_split(coalesce(text, ''), ' '))
                         AS token
                FROM documents)
          WHERE length(token) > 1
          GROUP BY 1, 2),
        by_lang AS (
          SELECT lang, token, CAST(n AS BIGINT) AS n,
                 CAST(row_number() OVER (PARTITION BY lang
                                         ORDER BY n DESC, token ASC)
                      AS INTEGER) AS rank
          FROM freq),
        gtot AS (SELECT token, CAST(SUM(n) AS BIGINT) AS n
                 FROM freq GROUP BY token),
        glob_ranked AS (
          SELECT '*' AS lang, token, n,
                 CAST(row_number() OVER (ORDER BY n DESC, token ASC)
                      AS INTEGER) AS rank
          FROM gtot)
        SELECT lang, token, n, rank FROM by_lang WHERE rank <= {TOP_TOKENS_PER_LANG}
        UNION ALL
        SELECT lang, token, n, rank FROM glob_ranked WHERE rank <= {TOP_TOKENS_GLOBAL}
    """
