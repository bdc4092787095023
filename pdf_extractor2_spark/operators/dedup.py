"""Deduplication operators over the ``documents`` table — exact and
near-duplicate detection as a large-scale training-data pipeline needs.

Every operator is expressed with Catalyst-native relational algebra
(explode → inverted-index equi-join → hash aggregate); there is no
cross product anywhere, so the shapes scale:

  * exact:   hash-groupBy on md5(text) — one shuffle on the digest;
  * jaccard: token-shingle inverted index; pairs emerge only from shared
    shingles (candidate set ∝ collisions, not n²);
  * minhash: 16 deterministic permutation mins per doc, banded 4×4 —
    LSH candidate pairs join on (band, key);
  * simhash: 16-bit sign-aggregated projection, grouped by signature.

One Jaccard pair-scoring path per engine: ``_sids`` turns a (doc_id,
toks) frame into the (doc_id, sid) k-token shingle stream and
``_jaccard_from`` scores (doc_a, doc_b, jaccard) from it; in DuckDB
``_sids_sql_ctes`` and ``_jaccard_sql_ctes`` are the same two steps as
WITH-list fragments.  ``jaccard_pairs``, ``dedup_groups`` and
``training_corpus_filter`` (and their oracle twins) all call them, and
``webcorpus.benchmark_contamination`` builds its 8-token window ids
through the same sid builders.

Determinism note: shingle ids are NOT a dictionary (a global sort/
row_number would serialize on one task at scale).  Each shingle hashes
inline to a 56-bit rolling hash — pure arithmetic both engines compute
identically (fold (acc*127 + ascii(c)) mod 2^56-5), so plans stay fully
parallel and the DuckDB oracle reproduces ids exactly.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, functions as F

P31 = 2_147_483_647
P56 = 72_057_594_037_927_931  # 2^56 - 5: rolling-hash modulus (acc*127+255 stays < 2^63)
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = 4
# stop-shingle document-frequency cap (prefix filtering): a shingle seen in
# more than MAX_SHINGLE_DF documents is boilerplate — it would contribute
# O(df^2) candidate pairs on ONE shuffle key in the inverted-index self-join,
# the classic skewed-key killer at web scale.  Capped shingles are dropped
# from the similarity universe entirely (intersections AND set sizes), so
# the semantics stay self-consistent and the DuckDB oracle mirrors exactly.
MAX_SHINGLE_DF = 100
# a pair is a near-duplicate when its rounded shingle Jaccard reaches this
JACCARD_FLOOR = 0.5
# window length, in tokens, of the near-duplicate shingles
SHINGLE_K = 3
# window length, in tokens, of duplicate_span_stats
SPAN_K = 8
# deterministic permutation constants, shared verbatim with the oracle SQL
HASH_A = [(1103515245 * (i + 1)) % P31 for i in range(N_HASHES)]
HASH_B = [(12345 * (i + 1) + 711) % P31 for i in range(N_HASHES)]

def round_half_up_expr(x: str, decimals: int) -> str:
    """THE cross-engine round-half-up idiom (CLAUDE.md): round() diverges
    between Spark and DuckDB on halfway doubles; this expression text is
    valid in BOTH engines, so they run the identical double arithmetic.
    Single definition — every operator builds its rounding from here."""
    scale = 10 ** decimals
    return (
        f"floor(({x}) * CAST({scale} AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        f" / CAST({scale} AS DOUBLE)"
    )


# inline 56-bit shingle hash — identical fold in Spark SQL and DuckDB
_SID_EXPR = (
    "aggregate(transform(split(shingle, ''), c -> ascii(c)),"
    f" 0L, (acc, c) -> (acc * 127 + c) % {P56})"
)
_SID_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " [CAST(ascii(substr(shingle, i, 1)) AS BIGINT)"
    " for i in generate_series(1, length(shingle))]),"
    f" (acc, c) -> (acc * 127 + c) % {P56})"
)

# tokenize ONCE into a projected column, then index it: inlining
# split(text) inside the transform lambda re-splits per position —
# O(tokens²) per document, measured 3-4x the whole query's runtime
_TOKS_EXPR = "split(text, ' ')"
# the NULL-coalesced twin pair (one source — CLAUDE.md shared-fragment
# rule): per-doc span operators tokenize through these, mirroring
# textstats._docs_nn/_BASE_SQL
_TOKS_NN_EXPR = "split(coalesce(text, ''), ' ')"
_TOKS_NN_SQL = (
    "SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t FROM documents"
)


def _kgram_spark(k: int) -> str:
    elems = ", ".join(f"element_at(toks, i + {j + 1})" for j in range(k))
    return (
        f"case when size(toks) < {k} then array()"
        f" else array_distinct(transform(sequence(0, size(toks) - {k}),"
        f" i -> concat_ws(' ', {elems}))) end"
    )


def _kgram_duck(k: int) -> str:
    elems = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return f"list_distinct([{elems} for i in generate_series(1, len(t) - {k - 1})])"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# one query's shared-branch caches at a time: entering a new dedup query
# releases the previous query's, so a long session (bench loop, driver
# sweep) never accumulates executor storage or "already cached" warnings
_SCOPED_CACHE: list[DataFrame] = []


def _scoped_clear() -> None:
    while _SCOPED_CACHE:
        _SCOPED_CACHE.pop().unpersist()


def _scoped_persist(df: DataFrame) -> DataFrame:
    _SCOPED_CACHE.append(df)
    return df.persist()


def exact_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest: one hash aggregate on md5(text)."""
    groups = (
        _docs(spark, sf_dir)
        .groupBy(F.md5(F.col("text").cast("binary")).alias("digest"))
        .agg(F.count("*").alias("n"))
    )
    return groups.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count("*").alias("n_distinct_texts"),
        F.sum(F.col("n") - 1).cast("long").alias("n_dup_docs"),
        F.sum((F.col("n") > 1).cast("long")).alias("n_dup_groups"),
    )


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Spread a scan across all cores IF the source under-partitions
    (single-row-group parquet collapses to one split and would serialize
    the CPU-heavy shingle fold on one task).  At production scale the
    input has thousands of splits, the condition is false, and NO
    shuffle is added — this only rescues pathological small layouts."""
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p, "doc_id")
    return df


def _sids(toks: DataFrame, k: int) -> DataFrame:
    """(doc_id, toks) → (doc_id, sid): each distinct k-token shingle
    hashed inline to its 56-bit id — no vocabulary, no global sort, no
    join; the plan is explode → project."""
    return (
        toks.select("doc_id", F.explode(F.expr(_kgram_spark(k))).alias("shingle"))
        .select("doc_id", F.expr(_SID_EXPR).alias("sid"))
    )


def _with_shingle_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_sids`` over every document.

    Consumers that reference this from multiple join branches wrap it in
    ``_scoped_persist`` (Catalyst does not CSE identical subtrees across
    self-joins, so without it the tokenize + fold runs once per branch)."""
    return _sids(
        _spread(spark, _docs(spark, sf_dir).select("doc_id", "text"))
        .select("doc_id", F.expr(_TOKS_EXPR).alias("toks")),
        SHINGLE_K,
    )


# (a, i) -> pairs (a, b) for all later b in the sorted, duplicate-free
# doc list: candidate pairs explode JVM-side from each shingle's posting
# list — no self-join, no second shuffle of the full edge list
_PAIR_EXPR = (
    "flatten(transform(docs, (a, i) ->"
    " transform(slice(docs, i + 2, size(docs) - i - 1),"
    " b -> named_struct('doc_a', a, 'doc_b', b))))"
)


def _groups_from(raw: DataFrame, max_df: int) -> DataFrame:
    """Posting lists: (sid, sorted docs array), stop shingles dropped.

    Two passes so NO reducer ever materializes a hot shingle's full
    posting list (at web scale a boilerplate shingle appears in 10^8+
    docs — collect_list-then-filter would build that array on one key
    before dropping it, the classic skew OOM):

      1. per-sid COUNT(*) — partial-aggregable, so the hot key arrives
         at its reducer as a handful of map-side counts;
      2. anti-join raw against the (small) hot-sid set — a streaming
         hash join, constant memory per task, AQE splits any residual
         probe-side skew;
      3. collect_list only over surviving sids, every list ≤ max_df.

    No downstream key can fan out more than C(max_df, 2) pairs.
    Callers referencing ``raw`` from a multi-branch plan persist it
    (``_scoped_persist``) so the shingle pipeline runs once."""
    hot = (
        raw.groupBy("sid")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_df)
        .select("sid")
    )
    return (
        raw.join(hot, "sid", "left_anti")
        .groupBy("sid")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
    )


def _pairs_from_groups(ok: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidate pairs, one row per shared shingle."""
    return (
        ok.where(F.size("docs") >= 2)
        .select(F.explode(F.expr(_PAIR_EXPR)).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )


def _jaccard_from(raw: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every pair of ``raw``'s documents
    whose rounded shingle Jaccard is ≥ ``threshold`` — THE Spark pair
    scorer, fed a (doc_id, sid) stream (``_sids``).  ``raw`` and the
    posting lists are scoped-persisted (each feeds two branches); the
    per-doc sizes run lazily, as persisting them measured slower."""
    raw = _scoped_persist(raw)
    ok = _scoped_persist(_groups_from(raw, MAX_SHINGLE_DF))
    sizes = (
        ok.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    )
    inter = (
        _pairs_from_groups(ok)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    # the rounded jaccard is BOTH the threshold filter and the reported
    # value — halfway-safe idiom so one x.xxxxx5 ratio can't flip the
    # filter in only one engine
    jac = round_half_up_expr("CAST(inter AS DOUBLE) / (na + nb - inter)", 6)
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_shingles", "nb"), "doc_b")
        .withColumn("jaccard", F.expr(jac))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs(spark: SparkSession, sf_dir: str,
                  threshold: float = JACCARD_FLOOR) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted posting lists —
    the standard scalable set-similarity join (no cross product): group
    shingles into per-sid doc lists (stop shingles with
    df > MAX_SHINGLE_DF dropped — prefix filtering), explode bounded
    candidate pairs, count shared shingles per pair, then score against
    per-doc set sizes (``_jaccard_from``).  Three hash aggregates and
    two small joins; no self-join shuffle of the full edge list, and no
    key can fan out more than C(MAX_SHINGLE_DF, 2)."""
    _scoped_clear()
    return _jaccard_from(_with_shingle_ids(spark, sf_dir), threshold)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16 permutation-min hashes per document."""
    # reduce the 56-bit sid into the 31-bit permutation field first so
    # a_i * sid never overflows int64
    ids = _with_shingle_ids(spark, sf_dir).withColumn("s31", F.col("sid") % F.lit(P31))
    mins = [
        F.min((F.lit(HASH_A[i]) * F.col("s31") + F.lit(HASH_B[i])) % F.lit(P31))
        .cast("long").alias(f"m{i}")
        for i in range(N_HASHES)
    ]
    return ids.groupBy("doc_id").agg(*mins)


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 of 4 bands (4 rows each).
    Output: (doc_a, doc_b, n_bands) — n_bands many ⇒ likely near-dup.

    Plan shape: the signature table (ONE pass over documents — tokenize,
    56-bit fold, 16-way min aggregate) is persisted and every band on
    both join sides reads the cache; the bands themselves are a single
    explode projection, not a 4-way union, so the shingle pipeline never
    re-executes per band.  Pinned by tests/test_plans.py::
    test_minhash_lsh_scans_documents_once (regression: round 2 lost the
    persist in a cache-scoping refactor and re-scanned documents 16×)."""
    _scoped_clear()
    sig = _scoped_persist(minhash_signatures(spark, sf_dir))
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.md5(
                F.concat_ws(
                    "-", *[f"m{j * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
                ).cast("binary")
            ).alias("key"),
        )
        for j in range(N_BANDS)
    ]
    all_bands = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    a = all_bands.alias("a")
    b = all_bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_bands"))
    )


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over shingle ids: per bit, sign of Σ(±1)."""
    ids = _with_shingle_ids(spark, sf_dir).withColumn(
        "h", (F.lit(HASH_A[0]) * (F.col("sid") % F.lit(P31)) + F.lit(HASH_B[0])) % F.lit(P31)
    )
    bit_sums = [
        F.sum(F.shiftright(F.col("h"), k) % 2 * 2 - 1).alias(f"s{k}")
        for k in range(16)
    ]
    per_doc = ids.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for k in range(16):
        term = F.when(F.col(f"s{k}") >= 0, F.lit(2**k)).otherwise(F.lit(0))
        sig = term if sig is None else (sig + term)
    return per_doc.select("doc_id", sig.cast("long").alias("simhash"))


def _release(spark: SparkSession, df: DataFrame) -> None:
    """Free the RDD behind ``df``, a frame returned by ``checkpoint`` or
    ``localCheckpoint``: unpersist its blocks and delete its checkpoint
    files, if it has any.  The RDD is read off the frame's own
    ``LogicalRDD``, so nothing another query persisted is touched.
    ``DataFrame.unpersist()`` is a no-op on a checkpointed frame, and
    Spark deletes checkpoint files only on driver GC with
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` set, so without
    this every sweep's label table would stay in executor storage or on
    the checkpoint store.  A freed local checkpoint cannot be read
    again: call this only once nothing reads ``df``.  A failed file
    delete (a store error) only leaves the files to the store's owner:
    it must not fail a job whose result is already computed."""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    rdd.unpersist(False)
    files = rdd.getCheckpointFile()
    if files.isDefined():
        path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(files.get())
        try:
            path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).delete(
                path, True
            )
        except Py4JJavaError:
            pass


#: after this many unconverged plain sweeps pointer jumping switches on —
#: near-dup components normally converge in 2-4 sweeps, so reaching 8
#: means the graph hides a long chain and the O(log d) shortcut should
#: take over rather than raising at ``max_iters`` mid-production.
_AUTO_PJ_AFTER = 8


def dedup_groups(spark: SparkSession, sf_dir: str,
                 threshold: float = JACCARD_FLOOR,
                 max_iters: int = 50,
                 checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components over the near-duplicate pair graph: every
    document in a component gets ``group_id`` = the component's minimum
    doc_id — the canonical "keep one representative per duplicate
    cluster" operator (transitive closure of pairwise near-dup, which
    pairwise filtering alone cannot express).

    Iterative min-label propagation: label(v) ← min(label(v), min label
    over neighbors) until fixpoint.  Each sweep is one join + one hash
    aggregate; propagation converges in O(diameter) sweeps (labels move
    one hop per sweep), and near-dup components are tiny (bounded by
    the shingle df cap upstream), so 2-4 sweeps suffice in practice.
    If a pathological chain exceeds ``max_iters`` the loop RAISES
    rather than silently returning unconverged labels (the DuckDB
    oracle computes the exact fixpoint — a partial result would be a
    wrong answer, not a slow one).  The only driver-side value per
    sweep is the changed-row count — the same shape GraphX/GraphFrames
    use for Pregel supersteps.

    After ``_AUTO_PJ_AFTER`` unconverged sweeps each sweep adds a
    pointer-jumping shortcut: label(v) ← label(label(v)) (valid because
    the invariant label(u) ≤ u holds throughout, so shortcutting is
    monotone toward the same fixpoint).  Reach then doubles per sweep —
    O(log diameter) sweeps instead of O(diameter) — so a surprise
    long-chain corpus (template pages each near-dup of the next
    revision) converges instead of raising, while the common
    tiny-component case keeps the cheaper plain sweeps.

    Lineage: every sweep, and the initial label table, is truncated by
    an eager checkpoint, so each sweep's plan reads only the previous
    label table and stays the same size however many sweeps run (a
    sweep reads that table twice, in the neighbour aggregate and in
    the propagation join: untruncated, the plan would double per
    sweep).  By default the checkpoint is
    ``localCheckpoint`` — fast, but its blocks live on executors
    without replication, so on a cluster one executor loss kills the
    job.  Given ``checkpoint_dir`` (HDFS or object storage on a
    cluster), every sweep is a reliable ``checkpoint`` written there
    instead: an executor loss replays at most one sweep, and in
    exchange each sweep writes one label table to the store.  A
    superseded sweep is freed (``_release``: blocks and files) as soon
    as its successor is materialized, so at most two label tables are
    held at any instant; the converged sweep's checkpoint IS the
    returned frame, and a call that raises leaves nothing behind.

    Pinned by tests/test_dedup_cap.py: a 40-node chain (diameter 39)
    raises at max_iters=8 and converges to the DuckDB fixpoint at 18,
    in both modes, leaking no blocks or files; on a 6,000-node chain
    the plan sweep 18 truncates is the size of sweep 8's."""
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def truncate(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    # pairs persisted before the two-leg union: the pair-scoring subtree
    # (inter aggregate + two size joins above the scoped jaccard caches)
    # would otherwise execute once per union leg (round-6; the tiny pair
    # table is freed as soon as the initial labels materialize the
    # edges cache)
    pairs = jaccard_pairs(spark, sf_dir, threshold).persist()
    edges = (
        pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
        .unionByName(pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d")))
        .persist()
    )
    labels = inter = None
    try:
        labels = truncate(
            edges.select(F.col("s").alias("doc_id")).distinct()
            .withColumn("label", F.col("doc_id"))
        )
        pairs.unpersist()
        for sweep in range(max_iters):
            nbr = (
                edges.join(labels, edges.d == labels.doc_id)
                .groupBy("s").agg(F.min("label").alias("nbr_min"))
            )
            # `prev` (the incoming label) rides along so the sweep's
            # changed-row count is a flag scan over the checkpointed
            # frame instead of a new-vs-old join — one fewer shuffle
            # join per sweep, identical count (the left join preserves
            # the label-table row set; round-6 optimization)
            prop = labels.join(nbr, labels.doc_id == nbr.s, "left").select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias("label"),
                labels["label"].alias("prev"),
            )
            if sweep >= _AUTO_PJ_AFTER:
                # shortcut: label(v) ← label(label(v)); the propagated
                # table feeds both sides of the self-join, so persist it
                inter = prop.persist()
                a, b = inter.alias("a"), inter.alias("b")
                prop = a.join(
                    b, F.col("a.label") == F.col("b.doc_id"), "left"
                ).select(
                    F.col("a.doc_id").alias("doc_id"),
                    F.coalesce(F.col("b.label"), F.col("a.label")).alias("label"),
                    F.col("a.prev").alias("prev"),
                )
            old, labels = labels, truncate(prop.select(
                "doc_id", "label",
                (F.col("label") != F.col("prev")).alias("chg"),
            ))
            # the new labels are materialized and read nothing upstream:
            # the old table and the shortcut's cache are dead
            if inter is not None:
                inter.unpersist()
                inter = None
            _release(spark, old)
            if labels.where("chg").count() == 0:
                groups = labels.select("doc_id", F.col("label").alias("group_id"))
                labels = None  # the caller's now
                return groups
        raise RuntimeError(
            f"dedup_groups: min-label propagation did not reach a fixpoint "
            f"in {max_iters} sweeps (a component's diameter exceeds the "
            f"iteration budget); raise max_iters"
        )
    finally:
        pairs.unpersist()  # no-op when already freed
        edges.unpersist()
        if inter is not None:  # a sweep aborted between persist and release
            inter.unpersist()
        if labels is not None:
            _release(spark, labels)


def dedup_groups_sql(threshold: float = JACCARD_FLOOR) -> str:
    """Recursive-CTE transitive closure, min per reachable set — the
    exact fixpoint the propagation loop converges to."""
    return f"""
        WITH RECURSIVE {_ids_sql()},
        {_jaccard_sql_ctes(threshold)},
        edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT s AS node, s AS r FROM (SELECT DISTINCT s FROM edges) n
          UNION
          SELECT reach.node, edges.d FROM reach JOIN edges ON edges.s = reach.r
        )
        SELECT node AS doc_id, MIN(r) AS group_id FROM reach GROUP BY node
    """


# ---------------------------------------------------------------------------
# DuckDB oracle texts (constants inlined so both engines share arithmetic)
# ---------------------------------------------------------------------------

def exact_dedup_summary_sql() -> str:
    return """
        WITH g AS (SELECT md5(text) AS digest, COUNT(*) AS n FROM documents GROUP BY 1)
        SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
               COUNT(*) AS n_distinct_texts,
               CAST(SUM(n - 1) AS BIGINT) AS n_dup_docs,
               CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
        FROM g
    """


def _sids_sql_ctes(k: int) -> str:
    """``_sids`` as a WITH-list fragment over an existing
    ``toks(doc_id, t)`` CTE, ending in ``ids(doc_id, sid)``.  A text of
    fewer than k tokens yields no shingle: the window series is empty."""
    return f"""
        ex AS (SELECT doc_id, unnest({_kgram_duck(k)}) AS shingle FROM toks),
        ids AS (SELECT doc_id, {_SID_SQL} AS sid FROM ex)"""


def _ids_sql() -> str:
    """WITH-list fragment: ``toks`` over every row of ``documents``, then
    ``_sids_sql_ctes`` (the ``_with_shingle_ids`` twin)."""
    return f"""
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        {_sids_sql_ctes(SHINGLE_K)}"""


def _jaccard_sql_ctes(threshold: float) -> str:
    """``_jaccard_from`` as a WITH-list fragment over an existing
    ``ids(doc_id, sid)`` CTE: ``hot`` (stop shingles), ``capped``,
    ``sizes``, ``inter`` and ``pairs(doc_a, doc_b, jaccard)``."""
    jac = round_half_up_expr("CAST(inter AS DOUBLE) / (sa.n + sb.n - inter)", 6)
    return f"""
        hot AS (SELECT sid FROM ids GROUP BY sid HAVING COUNT(*) > {MAX_SHINGLE_DF}),
        capped AS (SELECT * FROM ids WHERE sid NOT IN (SELECT sid FROM hot)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
          FROM capped a JOIN capped b ON a.sid = b.sid AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT doc_a, doc_b, {jac} AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE {jac} >= {threshold})"""


def jaccard_pairs_sql(threshold: float = JACCARD_FLOOR) -> str:
    return f"""
        WITH {_ids_sql()},
        {_jaccard_sql_ctes(threshold)}
        SELECT doc_a, doc_b, jaccard FROM pairs
    """


def minhash_lsh_pairs_sql() -> str:
    mins = ",\n".join(
        f"MIN(({HASH_A[i]} * (sid % {P31}) + {HASH_B[i]}) % {P31}) AS m{i}"
        for i in range(N_HASHES)
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {j} AS band, md5({cols}) AS key FROM sig".format(
            j=j,
            cols=" || '-' || ".join(
                f"CAST(m{j * ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(ROWS_PER_BAND)
            ),
        )
        for j in range(N_BANDS)
    )
    return f"""
        WITH {_ids_sql()},
        sig AS (SELECT doc_id, {mins} FROM ids GROUP BY doc_id),
        bands AS ({band_selects})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_bands
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    """


def simhash_sql() -> str:
    sums = ",\n".join(
        f"SUM(((h >> {k}) & 1) * 2 - 1) AS s{k}" for k in range(16)
    )
    sig = " + ".join(f"CASE WHEN s{k} >= 0 THEN {2**k} ELSE 0 END" for k in range(16))
    return f"""
        WITH {_ids_sql()},
        hs AS (SELECT doc_id, ({HASH_A[0]} * (sid % {P31}) + {HASH_B[0]}) % {P31} AS h FROM ids),
        bits AS (SELECT doc_id, {sums} FROM hs GROUP BY doc_id)
        SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bits
    """


# ---------------------------------------------------------------------------
# composed training-corpus filter: gate → exact → near → ppx band → SemDeDup
# ---------------------------------------------------------------------------

def training_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical pretraining data pipeline as one plan (the full
    CCNet-family composition):

      1. quality gate: drop short/thin documents;
      2. exact dedup: keep the lowest doc_id per content digest;
      3. near-dedup: among surviving docs, drop the higher doc_id of any
         pair with shingle-Jaccard ≥ JACCARD_FLOOR (calls ``_sids`` and
         ``_jaccard_from``, the scorer of ``jaccard_pairs``: stop
         shingles with df > MAX_SHINGLE_DF removed first, so no single
         shuffle key fans out O(df²));
      4. perplexity band: score every document against the bigram LM
         trained on the deterministic held-out slice
         (``textstats._ppx_scores``), split the corpus into CCNet-style
         head/middle/tail bands by EXACT relative quartiles of the
         rounded score (``textstats._ppx_banded`` — a metadata-sized
         value histogram + integer-arithmetic cumulative, scale-robust
         where fixed cutoffs measurably are not), and DROP the ``tail``
         band (worst quartile = lowest model-fit quality);
      5. SEMANTIC dedup: drop any surviving document whose embedding
         was pruned by the SemDeDup pass (``similarity._semdedup_from``
         — within-k-means-cell cosine ≥ τ collapses to the lowest id).
         Documents without an embedding row pass through (you can only
         semantically dedup what you embedded); ``sd_cell`` records the
         quantizer cell, −1 for unembedded docs (sentinel, not NULL —
         driver projections must not mix None into an int column).

    That is the published modern recipe end-to-end: heuristic gate →
    exact → near (MinHash-family) → model-quality band (CCNet) →
    semantic (SemDeDup), each stage a scale-audited plan.

    Output: the kept doc_ids with dedup provenance, their rounded
    ``log_ppx``, ``ppx_band`` and ``sd_cell``. Every stage is a hash
    aggregate, broadcast-model join, or inverted-index join — the same
    plan shapes run at 10^12 documents.  The one persisted frame is the
    full (doc_id, text, toks) base (same precedent as ``doc_profile``):
    it feeds the quality filter, the digest aggregate, the shingle
    stream, and the perplexity pairs from a SINGLE FileScan; on a
    cluster the persist is MEMORY_AND_DISK and spills rather than
    re-scanning.
    """
    from concurrent.futures import ThreadPoolExecutor

    from .similarity import _emb, _semdedup_parts_from
    from .textstats import _ppx_banded, _ppx_scores

    _scoped_clear()
    base = _scoped_persist(
        _docs(spark, sf_dir).select(
            "doc_id",
            F.expr("coalesce(text, '')").alias("text"),
            F.expr("split(coalesce(text, ''), ' ')").alias("toks"),
        )
    )
    # the quality-filtered view feeds BOTH the exact-dedup aggregate and
    # the survivors join — cheap filters over the one persisted base
    # (the groupBy(min) shape is kept over a window-rank because it is
    # partial-aggregable: 10^8 copies of one viral page arrive at the
    # digest's reducer as map-side partials, not as a sorted partition)
    docs = base.where(
        (F.length("text") >= 200) & (F.expr("size(toks)") >= 40)
    )

    # scoped-persisted (round 6): exact_kept feeds BOTH the survivors
    # semi-join and the final kept projection — without the cache the
    # full-corpus digest aggregate runs once per reference
    exact_kept = _scoped_persist(
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("digest"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_exact_dups"))
        .select("doc_id", "n_exact_dups")
    )

    survivors = _spread(spark, docs.join(exact_kept, "doc_id", "left_semi"))
    near_dropped = (
        _jaccard_from(_sids(survivors, SHINGLE_K), JACCARD_FLOOR)
        .select(F.col("doc_b").alias("doc_id")).distinct()
    )

    # the near-dedup survivor set is one of the overlapped legs below
    # AND feeds the band join — persist it so the band join reads the
    # cache instead of replaying the shingle pipeline
    kept0 = _scoped_persist(
        exact_kept.join(near_dropped, "doc_id", "left_anti").select(
            "doc_id", "n_exact_dups"
        )
    )
    # stage 4: perplexity band off the SAME persisted base (train slice
    # = full corpus doc_id % MOD; quartiles over the FULL corpus's
    # scores, then joined to the kept set).  scores is persisted: it
    # feeds the band histogram (twice, via the self-join) plus the final
    # banded projection — without the cache each would re-run the
    # scoring aggregate
    scores = _scoped_persist(
        _ppx_scores(base.select("doc_id", "toks")).select("doc_id", "log_ppx")
    )
    kept = kept0.join(_ppx_banded(scores), "doc_id").where(
        F.col("ppx_band") != "tail"
    )
    # stage 5: SURVIVOR-AWARE semantic dedup: a doc is pruned only when
    # some LOWER-id SURVIVOR of stages 1-4 sits in its duplicate pair —
    # full-corpus verdicts would let a representative that stages 1-4
    # already dropped take its whole duplicate group down with it
    # (silent total content loss).  kept is persisted AND
    # pre-materialized: the drop set is built in a parallel broadcast
    # thread, and a cold kept cache there would re-run stages 1-4 twice.
    emb = _scoped_persist(_emb(spark, sf_dir))
    cells, prune_pairs = _semdedup_parts_from(emb)
    kept = _scoped_persist(kept)
    # round 6 (guide §2.6 "overlap independent jobs"): the three
    # expensive legs — the shingle near-dedup pipeline (kept0), the
    # bigram-LM perplexity scores, and the SemDeDup quantizer +
    # within-cell prune pairs — share only the persisted base scan, so
    # after materializing base once they run as CONCURRENT jobs: each
    # leg's sequential shuffle/broadcast chain leaves most cores idle
    # and the other legs back-fill them.  Every leg is persisted first,
    # so the final plan reads caches only; the eager materialization
    # keeps the guarantee that the drop-set broadcast thread can never
    # trigger a cold stages-1-4 recompute.
    prune_pairs = _scoped_persist(prune_pairs)
    base.count()  # the shared scan/tokenize: materialize BEFORE the
    #               legs race it (a cold cache computed by two
    #               concurrent jobs is built twice, block by block)
    legs = [kept0.count, prune_pairs.count, scores.count]
    with ThreadPoolExecutor(max_workers=len(legs)) as pool:
        for f in [pool.submit(leg) for leg in legs]:
            f.result()
    kept.count()  # band join over the now-warm caches (cheap); the
    #               two downstream references then both read cache
    drop = (
        prune_pairs.join(
            kept.select(F.col("doc_id").alias("vec_a")), "vec_a",
            "left_semi",
        )
        .select(F.col("vec_b").alias("doc_id"))
        .distinct()
    )
    return (
        kept.join(drop, "doc_id", "left_anti")
        .join(
            cells.select(F.col("vec_id").alias("doc_id"), "cell"),
            "doc_id", "left",
        )
        .withColumn("sd_cell", F.coalesce(F.col("cell"), F.lit(-1)))
        .select("doc_id", "n_exact_dups", "log_ppx", "ppx_band", "sd_cell")
    )


def _tcf_kept_sql_ctes() -> str:
    """Stages 1-4 of ``training_corpus_filter`` as a WITH-list fragment
    over ``documents``: ``exact_kept`` (stage 2), ``near_dropped`` (stage 3,
    the ``doc_b`` side of ``_jaccard_sql_ctes``' pairs) and
    ``ppx_banded`` (stage 4's scores), ending with
    ``tcf_kept(doc_id, n_exact_dups, log_ppx, ppx_band)``."""
    from .textstats import (
        _BASE_SQL, _PPX_MEAN, _ppx_band_sql_ctes, _ppx_sql_ctes,
    )

    return f"""
        base AS ({_BASE_SQL}),
        quality AS (
          SELECT doc_id, text, t FROM base
          WHERE length(text) >= 200 AND len(t) >= 40),
        exact_kept AS (
          SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_exact_dups
          FROM quality GROUP BY md5(text)),
        toks AS (SELECT doc_id, t FROM quality
                 WHERE doc_id IN (SELECT doc_id FROM exact_kept)),
        {_sids_sql_ctes(SHINGLE_K)},
        {_jaccard_sql_ctes(JACCARD_FLOOR)},
        near_dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
        {_ppx_sql_ctes("base")},
        ppx AS (SELECT doc_id, {round_half_up_expr(_PPX_MEAN, 4)} AS log_ppx
                FROM ppx_doc),
        {_ppx_band_sql_ctes("ppx")},
        tcf_kept AS (
          SELECT k.doc_id, k.n_exact_dups, p.log_ppx, p.ppx_band
          FROM exact_kept k JOIN ppx_banded p ON k.doc_id = p.doc_id
          WHERE k.doc_id NOT IN (SELECT doc_id FROM near_dropped)
            AND p.ppx_band <> 'tail')"""


def training_corpus_filter_sql() -> str:
    from .similarity import _semdedup_parts_sql_ctes

    # stage 5 (survivor-aware, mirrors the Spark plan): a kept doc is
    # dropped only when some LOWER-id KEPT doc shares a prune pair
    return f"""
        WITH {_tcf_kept_sql_ctes()},
        {_semdedup_parts_sql_ctes()},
        sd_drop AS (
          SELECT DISTINCT p.vec_b AS doc_id FROM sd_pairs p
          WHERE p.vec_a IN (SELECT doc_id FROM tcf_kept))
        SELECT k.*, COALESCE(c.cell, -1) AS sd_cell
        FROM tcf_kept k
        LEFT JOIN a2 c ON c.vec_id = k.doc_id
        WHERE k.doc_id NOT IN (SELECT doc_id FROM sd_drop)
    """


# ---------------------------------------------------------------------------
# round 3: span-level duplication (the substring-dedup family signal)
# ---------------------------------------------------------------------------

def duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span fraction: the share of a document's
    distinct k-token windows (k = SPAN_K — long enough that a shared
    window is verbatim copied text, the signal suffix-array substring
    dedup à la Lee et al. extracts) that occur in at least one OTHER
    document.  Training pipelines drop or trim documents whose
    duplicated-span fraction is high even when whole-document near-dup
    misses them.

    Every document appears in the output — a doc shorter than k tokens
    has zero windows and reports (n_spans=0, dup_span_frac=0) rather
    than silently vanishing (downstream "drop high-dup docs" joins must
    see an explicit zero, not a missing row).

    The row also carries the substring-dedup REMOVAL (Lee et al.'s
    "Deduplicating Training Data Makes Language Models Better", the
    suffix-array substring dedup): every token covered by ANY k-token
    window whose text occurs in at least one other document is deleted,
    and the exact cleaned text is proved cross-engine via its digest —
    ``n_tokens``, ``n_kept_tokens``, ``trimmed_len`` (chars) and
    ``trimmed_digest`` (md5 of the cleaned text: the full trimmed
    corpus, verifiable without shipping text through the driver
    compare).  BOTH families derive from ONE positional window stream
    off one persisted base; the stats columns are distinct-sid
    aggregates over that stream (n_spans = # distinct window texts per
    doc, dup gate = window text in ≥ 2 docs).

    The window key is ``md5(window text)`` — NOT the 56-bit rolling sid
    the report-only operators use: removal mutates the deliverable
    corpus, and at 10^12 windows a 2^56 space makes birthday collisions
    — silently deleting UNIQUE text — statistically certain, where
    2^128 keeps them at ~1e-14.

    Plan: ONE persisted base scan feeds the doc_id universe, the token
    stream, and the (doc_id, pos, window-key) stream; the stream feeds
    every consumer (per-window doc count — partial-aggregable,
    skew-safe; the per-doc distinct totals; the coverage join back).
    The joins stream hot windows through hash joins — no posting-list
    arrays materialize anywhere, so there is nothing for a boilerplate
    window to OOM.  Removal plan, at 100-TB scale: positional windows
    are ONE guarded transform+explode (no Spark descending-``sequence``
    trap — the ``n < k`` guard returns an empty array); covered
    positions explode ×k off the streamed join; the cleaned text is
    rebuilt per document from a sorted (pos, token) collect — bounded by
    single-document length, the same row-size envelope every other
    per-doc operator already assumes."""
    base, wins, dup_sids = _span_streams(spark, sf_dir)
    docsid = wins.select("doc_id", "sid").distinct()
    per_doc = docsid.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    dup_per_doc = (
        docsid.join(dup_sids, "sid")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_spans"))
    )
    frac = round_half_up_expr("CAST(n_dup_spans AS DOUBLE) / n_spans", 6)
    stats = (
        base.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(dup_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        )
        .withColumn(
            "dup_span_frac",
            F.expr(f"case when n_spans = 0 then CAST(0 AS DOUBLE) else {frac} end"),
        )
    )
    return stats.join(_trim_from(base, wins, dup_sids), "doc_id")


def _span_streams(spark: SparkSession, sf_dir: str):
    """The shared span plumbing: persisted NULL-coalesced (doc_id,
    toks) base; persisted positional window stream (doc_id, pos,
    sid=md5(window text)); and the collision-safe duplicated-key set
    (window text occurring in ≥ 2 distinct docs — a two-level
    (sid, doc) → sid aggregate, partial-aggregable, hot-gram-safe)."""
    _scoped_clear()
    base = _scoped_persist(
        _spread(spark, _docs(spark, sf_dir).select("doc_id", "text"))
        .select("doc_id", F.expr(_TOKS_NN_EXPR).alias("toks"))
    )
    elems = ", ".join(f"element_at(toks, i + {j})" for j in range(SPAN_K))
    pos_wins = (
        f"case when size(toks) < {SPAN_K} then array()"
        f" else transform(sequence(1, size(toks) - {SPAN_K - 1}),"
        f" i -> struct(i AS pos, concat_ws(' ', {elems}) AS g)) end"
    )
    wins = _scoped_persist(
        base.select("doc_id", F.explode(F.expr(pos_wins)).alias("w"))
        .select(
            "doc_id", "w.pos",
            F.expr("md5(cast(w.g as binary))").alias("sid"),
        )
    )
    dup_sids = (
        wins.select("doc_id", "sid").distinct()
        .groupBy("sid").agg(F.count("*").alias("ndocs"))
        .where(F.col("ndocs") >= 2)
        .select("sid")
    )
    return base, wins, dup_sids


def _trim_from(base: DataFrame, wins: DataFrame, dup_sids: DataFrame) -> DataFrame:
    covered = (
        wins.join(dup_sids, "sid")
        .select("doc_id",
                F.explode(F.expr(f"sequence(pos, pos + {SPAN_K - 1})")).alias("cov"))
        .distinct()
    )
    tokens = base.select(
        "doc_id", F.posexplode("toks").alias("p0", "tok")
    ).select("doc_id", F.expr("p0 + 1").alias("pos"), "tok")
    # rename the covered side before the anti-join: both frames descend
    # from the same persisted base, so attribute references would be
    # ambiguous
    cov = covered.withColumnRenamed("doc_id", "c_doc")
    kept = (
        tokens.join(
            cov,
            (F.col("doc_id") == F.col("c_doc")) & (F.col("pos") == F.col("cov")),
            "left_anti",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_kept_tokens"),
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(pos, tok))),"
                " x -> x.tok), ' ')"
            ).alias("trimmed"),
        )
    )
    return (
        base.select("doc_id", F.expr("cast(size(toks) as long)").alias("n_tokens"))
        .join(kept, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce("n_kept_tokens", F.lit(0)).cast("long").alias("n_kept_tokens"),
            F.expr(
                "cast(length(coalesce(trimmed, '')) as long)"
            ).alias("trimmed_len"),
            F.expr(
                "md5(cast(coalesce(trimmed, '') as binary))"
            ).alias("trimmed_digest"),
        )
    )


def _trim_sql_ctes() -> str:
    """The trim pipeline as a WITH-list fragment over an existing CTE
    ``toks(doc_id, t)``; names tw_-prefixed so it composes with the
    span-stats CTEs; ends with ``trim_doc(doc_id, n_tokens,
    n_kept_tokens, trimmed_len, trimmed_digest)``, embedded by
    ``duplicate_span_stats_sql`` (whose stats columns also derive from
    ``tw_ds``/``tw_dup``, mirroring the shared Spark stream).  Window
    key = md5(window text) — collision-safe for the removal path (see
    ``duplicate_span_stats``)."""
    elems = " || ' ' || ".join(f"t[i+{j}]" for j in range(SPAN_K))
    return f"""
        tw_wins AS (SELECT doc_id,
                           unnest([{{'p': i, 'g': {elems}}}
                                   for i in generate_series(1, len(t) - {SPAN_K - 1})]) AS w
                    FROM toks),
        tw_ids AS (SELECT doc_id, struct_extract(w, 'p') AS pos,
                          md5(struct_extract(w, 'g')) AS sid
                   FROM tw_wins),
        tw_ds AS (SELECT DISTINCT doc_id, sid FROM tw_ids),
        tw_dup AS (SELECT sid FROM tw_ds GROUP BY sid HAVING COUNT(*) >= 2),
        tw_cov AS (SELECT DISTINCT doc_id, pos + j AS cov
                   FROM tw_ids JOIN tw_dup USING (sid)
                   CROSS JOIN generate_series(0, {SPAN_K - 1}) g(j)),
        tw_tokpos AS (SELECT doc_id,
                             unnest([{{'p': i, 'tok': t[i]}}
                                     for i in generate_series(1, len(t))]) AS w
                      FROM toks),
        tw_tokens AS (SELECT doc_id, struct_extract(w, 'p') AS pos,
                             struct_extract(w, 'tok') AS tok FROM tw_tokpos),
        tw_kept AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept_tokens,
                           string_agg(t.tok, ' ' ORDER BY t.pos) AS trimmed
                    FROM tw_tokens t LEFT JOIN tw_cov c
                      ON t.doc_id = c.doc_id AND t.pos = c.cov
                    WHERE c.cov IS NULL GROUP BY t.doc_id),
        trim_doc AS (SELECT b.doc_id, CAST(len(b.t) AS BIGINT) AS n_tokens,
                            COALESCE(w.n_kept_tokens, 0) AS n_kept_tokens,
                            CAST(length(COALESCE(w.trimmed, '')) AS BIGINT)
                              AS trimmed_len,
                            md5(COALESCE(w.trimmed, '')) AS trimmed_digest
                     FROM toks b LEFT JOIN tw_kept w USING (doc_id))"""


def duplicate_span_stats_sql() -> str:
    frac = round_half_up_expr("CAST(n_dup_spans AS DOUBLE) / n_spans", 6)
    # the stats columns derive from the SAME window stream as the trim
    # (tw_ds / tw_dup), mirroring the shared Spark plan
    return f"""
        WITH toks AS ({_TOKS_NN_SQL}),
        {_trim_sql_ctes()},
        sp_per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans
                   FROM tw_ds GROUP BY 1),
        sp_dup AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans
                   FROM tw_ds JOIN tw_dup USING (sid) GROUP BY 1),
        span_doc AS (
          SELECT doc_id, n_spans, n_dup_spans,
                 CASE WHEN n_spans = 0 THEN CAST(0 AS DOUBLE)
                      ELSE {frac} END AS dup_span_frac
          FROM (SELECT b.doc_id,
                       COALESCE(p.n_spans, 0) AS n_spans,
                       COALESCE(d.n_dup_spans, 0) AS n_dup_spans
                FROM (SELECT doc_id FROM toks) b
                LEFT JOIN sp_per p USING (doc_id)
                LEFT JOIN sp_dup d USING (doc_id)))
        SELECT s.doc_id, s.n_spans, s.n_dup_spans, s.dup_span_frac,
               w.n_tokens, w.n_kept_tokens, w.trimmed_len, w.trimmed_digest
        FROM span_doc s JOIN trim_doc w USING (doc_id)
    """
