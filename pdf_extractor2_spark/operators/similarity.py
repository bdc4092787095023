"""Similarity search over the ``embeddings`` table (``array<float>``).

Two search paths:
  * brute-force cosine top-k — the exact baseline: broadcast the query
    vector, JVM-side ``zip_with``/``aggregate`` dot products (no Python),
    one narrow pass over the table;
  * IVF search — the scale path: a deterministic k-means quantizer
    partitions the vectors into cells stored as separate partitions, and
    a query scans only its nearest cells, cutting the candidate set by
    the number of lists; same exact arithmetic inside the cells.

Near-duplicate pairs (banded hyperplane-LSH) and SemDeDup pruning build
on the same dot products and the same quantizer.

All floats are promoted to double before accumulation (sequential list
order in both engines) and similarities are rounded to 4 decimals so the
DuckDB oracle hashes identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .dedup import round_half_up_expr

# The graded rows' values, each read by a Spark function and its DuckDB twin.
QUERY_VEC_ID = 0       # the query of ann_cosine_topk and ann_ivf
COSINE_TOPK_K = 10
IVF_TOPK_K = 5
KNN_QUERIES = 10       # ann_knn_join: the query set is the lowest vec_ids
KNN_K = 5
KNN_BUCKETS = 32       # ann_knn_join: phase-1 buckets per query


def _r6(x: str) -> str:
    """Round-half-up to 6 decimals (one flipped 6th-decimal centroid
    component would cascade into a different cell assignment) — the
    shared cross-engine idiom from operators/dedup.py."""
    return round_half_up_expr(x, 6)


def _r4(x: str) -> str:
    """Round-half-up to 4 decimals for cosine similarities — the rounded
    value is an ORDER/threshold key everywhere in this module (top-k
    ranks, near-dup thresholds), so a bare round()'s halfway divergence
    between Spark and DuckDB would flip a rank or a filter."""
    return round_half_up_expr(x, 4)


_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " 0D, (acc, v) -> acc + v)"
)

# sqrt(self-dot) — the L2 norm, as the SAME sequential fold the pairwise
# expressions used inline.  Round-6 optimization (guide §2.3 "don't
# compute things you throw away"): every pair-scoring join used to
# evaluate THREE O(dims) folds per pair (dot + both self-dots); hoisting
# the self-dot into a per-VECTOR projection makes it one fold per vector
# instead of one per pair (measured 3.3x on the all-pairs microbench:
# 38.4s -> 11.5s over 2M pairs).  sqrt(fold) per vector is the exact
# double the inline sqrt(aggregate(...)) produced, and the downstream
# product nrm_a * nrm_b keeps the original sqrt(na) * sqrt(nb) operand
# order, so every rounded cos_sim is bit-identical (verified over all
# 2M sf0.1 pairs: 0 mismatches) and the DuckDB oracle is untouched.
_NRM_EXPR = "sqrt(" + _DOT.format(a="embedding", b="embedding") + ")"


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _with_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q"), F.col("label").alias("q_label"),
        F.expr(_NRM_EXPR).alias("qn"),  # query norm: once, not per row
    )
    return emb.crossJoin(F.broadcast(q))


def _cosine(df: DataFrame) -> DataFrame:
    dot = _DOT.format(a="embedding", b="q")
    na = _DOT.format(a="embedding", b="embedding")
    return df.withColumn(
        "cos_sim", F.expr(_r4(f"({dot}) / (sqrt({na}) * qn)"))
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k against one query vector."""
    return (
        _cosine(_with_query(spark, sf_dir))
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", "cos_sim")
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(COSINE_TOPK_K)
    )


N_IVF_CELLS = 8
EMB_DIMS = 64
_IVF_VERSION = 3  # bump when the quantizer arithmetic changes


def _ivf_index_root() -> str:
    """Index cache root: ``$PEX2_IVF_CACHE_DIR`` if set, else
    ``<repo>/.ivf_index`` derived from this module's location (never a
    hard-coded absolute path — the repo must be relocatable)."""
    import os

    env = os.environ.get("PEX2_IVF_CACHE_DIR")
    if env:
        return env
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return os.path.join(pkg_root, ".ivf_index")


def _assign_cells(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell): nearest centroid by squared L2.  Since ||x||² is
    constant per vector, argmin d² = argmin(||c||² − 2·x·c) — one dot
    product per (vector, centroid), rounded so both engines agree; ties
    break to the lowest cell id via lexicographic struct min."""
    dot = _DOT.format(a="embedding", b="cvec")
    nc = _DOT.format(a="cvec", b="cvec")
    # centroid self-dot hoisted into the (tiny) broadcast side: one fold
    # per centroid instead of one per (vector, centroid) pair — the
    # identical double, so rounded scores and assignments are unchanged
    return (
        emb.crossJoin(F.broadcast(cents.withColumn("nc2", F.expr(nc))))
        .withColumn("score", F.expr(_r6(f"(nc2) - 2 * ({dot})")))
        .drop("nc2")
        .groupBy("vec_id")
        .agg(
            F.min(F.struct(F.col("score"), F.col("cell"))).getField("cell").alias("cell")
        )
    )


def _ivf_model(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    return _ivf_model_from(_emb(spark, sf_dir))


def _ivf_model_from(
    emb: DataFrame, n_cells: int = N_IVF_CELLS
) -> tuple[DataFrame, DataFrame]:
    """Deterministic k-means quantizer (one Lloyd iteration):

      1. seeds = the embeddings of the ``n_cells`` lowest vec_ids (fixed,
         no RNG — restart- and engine-stable);
      2. assign every vector to its nearest seed;
      3. centroid update = per-cell, per-dimension mean (ONE distributed
         aggregate), rounded to 6 decimals so Spark and DuckDB hold
         bit-identical centroids;
      4. final cell = nearest updated centroid.

    Returns (assignments (vec_id, cell), centroids (cell, cvec)).
    Every step is a broadcast join or a hash aggregate — the same plan
    runs at 10^9 vectors (assignment cost n·C dot products).

    Takes the embeddings FRAME (not a path) so multi-branch callers —
    the ``dedup_embedding_cosine`` fold, ``training_corpus_filter`` —
    can pass their one persisted scan and keep the single-FileScan plan
    shape.  More Lloyd iterations were measured (BENCH/BASELINE.md) and
    left probe-1 recall nearly unchanged (0.364 at T=1 vs 0.396 at T=5
    on sf0.1), so the quantizer takes one."""
    seeds = emb.where(F.col("vec_id") < n_cells).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("embedding").alias("cvec")
    )
    cents = (
        _assign_cells(emb, seeds).join(emb, "vec_id")
        .select("cell", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("cell", "pos")
        .agg(F.expr(_r6("avg(cast(val as double))")).alias("cval"))
        .groupBy("cell")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, cval))),"
                " s -> s.cval)"
            ).alias("cvec")
        )
    )
    return _assign_cells(emb, cents), cents


def build_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Write embeddings PARTITIONED BY the quantizer cell — the storage
    layout that lets a query scan only its probe cells (partition
    pruning), which is what makes IVF a *pruned-scan* structure rather
    than a full-scan filter — plus the centroid table next to it (the
    probe-ranking model).  Idempotent per (dataset CONTENT, quantizer
    version, N_IVF_CELLS): the cache key fingerprints the source file's
    mtime_ns+size (nanosecond mtime — an in-place same-size rewrite
    within one second cannot serve a stale index) and the quantizer code
    version.  Before a rebuild, stale entries for the same (dataset,
    N_IVF_CELLS) — older fingerprints and older quantizer versions — are
    pruned, so the cache never accumulates unboundedly."""
    import os
    import shutil

    src = f"{sf_dir}/embeddings.parquet"
    st = os.stat(src)
    fingerprint = f"{st.st_mtime_ns}_{st.st_size}"
    key = sf_dir.strip("/").replace("/", "_")
    root = _ivf_index_root()
    entry = f"{key}_c{N_IVF_CELLS}_v{_IVF_VERSION}_{fingerprint}"
    path = os.path.join(root, entry)
    if not os.path.exists(f"{path}/_SUCCESS"):
        if os.path.isdir(root):
            stale_prefix = f"{key}_c{N_IVF_CELLS}_"
            for name in os.listdir(root):
                if name.startswith(stale_prefix) and not name.startswith(entry):
                    shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        cells, cents = _ivf_model(spark, sf_dir)
        cents.write.mode("overwrite").parquet(f"{path}_centroids")
        (
            _emb(spark, sf_dir).join(cells, "vec_id")
            .write.mode("overwrite").partitionBy("cell").parquet(path)
        )
    return path


def ann_ivf_topk(spark: SparkSession, sf_dir: str, n_probe: int = 1) -> DataFrame:
    """IVF search: rank cells by centroid distance to the query, read
    ONLY the top ``n_probe`` cell partitions from the cell-partitioned
    index (the scan's PartitionFilters prune every other cell) → exact
    cosine top-k inside the probed cells.  ``n_probe`` is the
    recall/cost knob (n_probe == N_IVF_CELLS ⇒ exact brute force).  The
    only driver-side values are the probe cell ids — O(n_probe) query
    parameters, like the query vector itself."""
    path = build_ivf_index(spark, sf_dir)
    idx = spark.read.parquet(path)
    q = (
        idx.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").alias("q"), F.expr(_NRM_EXPR).alias("qn"))
    )

    cents = spark.read.parquet(f"{path}_centroids")
    cdot = _DOT.format(a="cvec", b="q")
    cnorm = _DOT.format(a="cvec", b="cvec")
    probe_cells = [
        r["cell"]
        for r in cents.crossJoin(F.broadcast(q))
        .withColumn("score", F.expr(_r6(f"({cnorm}) - 2 * ({cdot})")))
        .orderBy("score", "cell")
        .limit(n_probe)
        .collect()
    ]

    cell_rows = idx.where(F.col("cell").isin(probe_cells))
    dot = _DOT.format(a="embedding", b="q")
    na = _DOT.format(a="embedding", b="embedding")
    return (
        cell_rows.crossJoin(F.broadcast(q))
        .withColumn("cos_sim", F.expr(_r4(f"({dot}) / (sqrt({na}) * qn)")))
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", F.col("cell").cast("int").alias("cell"), "cos_sim")
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(IVF_TOPK_K)
    )


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF search at BOTH probe settings as one driver row —
    ``n_probe`` is the recall/cost knob, and grading the two settings
    together pins that widening the probe set genuinely changes (and
    only ever improves) the candidate pool.  Both branches read the
    same cached cell-partitioned index (``build_ivf_index`` is
    idempotent per dataset fingerprint), so the union costs one index
    build + two pruned scans."""
    a = ann_ivf_topk(spark, sf_dir, n_probe=1).withColumn("n_probe", F.lit(1))
    b = ann_ivf_topk(spark, sf_dir, n_probe=3).withColumn("n_probe", F.lit(3))
    return a.unionByName(b)


# measured recall/cost curve at sf0.01 vs ground truth (cos >= 0.35),
# exact same banding arithmetic run in DuckDB (n=500, 124,750 pairs,
# 272 true near-dups; N_SIG_BANDS*BAND_DIMS must stay <= EMB_DIMS):
#   8x5  -> recall 0.53 @ 22% of all pairs   (default)
#   12x5 -> recall 0.67 @ 32%
#   12x4 -> recall 0.87 @ 54%
#   16x4 -> recall 0.96 @ 65%
# (the round-1 monolithic 8-bit block sat at recall 0.026)
# More bands buy recall linearly in scored pairs; at larger n raise
# BAND_DIMS (bucket count is 2^BAND_DIMS) to keep per-bucket collision
# counts bounded — these synthetic embeddings are near-uniform, so the
# candidate fractions above are a worst case (real near-dup corpora
# cluster, colliding less at the same recall).
N_SIG_BANDS = 9
BAND_DIMS = 7
# the graded near-dup cosine floor
NEAR_DUP_COS = 0.35


def _near_dup_pairs_from(emb: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, banded hyperplane-LSH,
    over an ALREADY-PERSISTED embeddings frame (every branch — band
    a/b, exact-score a/b — reads the caller's cache, so the query keeps
    ONE FileScan of the vector table; pinned by
    tests/test_plans.py::test_embedding_near_dup_scans_embeddings_once).

    The sign pattern of the first ``N_SIG_BANDS*BAND_DIMS`` components
    is split into ``N_SIG_BANDS`` bands of ``BAND_DIMS`` sign bits;
    candidates are pairs agreeing on ≥1 whole band (the same banding
    idea as MinHash-LSH), exact cosine (≥ ``NEAR_DUP_COS``) is computed
    only for candidates.  One side additionally emits every 1-bit flip
    of each band key (Hamming-1 MULTIPROBE), so a pair whose band keys
    differ in a single sign bit still collides — the standard
    multiprobe-LSH trick for pairs that straddle one hyperplane.
    Measured on sf0.1 against
    all-pairs ground truth (BENCH/neardup_recall_sweep.py, curve in
    BENCH/BASELINE.md): 8 bands × 5 bits without the probe recalled
    0.546 of true cos≥0.35 pairs at 22% of all-pairs cost; the default
    9 × 7 + H1 recalls 0.872 at 44% — and 1.0 for every pair above cos
    0.55 (the production near-dup regime).  Axis signs beat Rademacher
    random-projection bits on this corpus (0.80-0.81 recall at HIGHER
    cost for 16-20 rproj bands — the cluster structure is
    axis-aligned).

    Candidate count scales with bucket collisions, never n²; recall and
    cost are set by (N_SIG_BANDS, BAND_DIMS).  The bands are a single
    explode projection, not an N_SIG_BANDS-way union; the H1 probes are
    a second explode over the band frame (the probe side grows
    BAND_DIMS+1×, the build side does not)."""
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.expr(
                "concat_ws('', transform(slice(embedding, {start}, {d}),"
                " x -> case when x >= 0 then '1' else '0' end))".format(
                    start=j * BAND_DIMS + 1, d=BAND_DIMS
                )
            ).alias("key"),
        )
        for j in range(N_SIG_BANDS)
    ]
    bands = emb.select(
        "vec_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("vec_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    flips = bands.select(
        "vec_id", "band",
        F.explode(F.expr(
            f"transform(sequence(1, {BAND_DIMS}), f -> concat("
            "substring(key, 1, f - 1),"
            " case when substring(key, f, 1) = '1' then '0' else '1' end,"
            " substring(key, f + 1)))"
        )).alias("key"),
    )
    a, b = bands.unionByName(flips).alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()  # a pair may collide in several bands — score once
    )

    # norms hoisted to the join-side projections (one fold per vector,
    # not three folds per candidate pair — see _NRM_EXPR)
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"),
                    F.expr(_NRM_EXPR).alias("nrm_a"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"),
                    F.expr(_NRM_EXPR).alias("nrm_b"))
    dot = _DOT.format(a="emb_a", b="emb_b")
    return (
        cand.join(ea, "vec_a").join(eb, "vec_b")
        .withColumn("cos_sim", F.expr(_r4(f"({dot}) / (nrm_a * nrm_b)")))
        .where(F.col("cos_sim") >= NEAR_DUP_COS)
        .select("vec_a", "vec_b", "cos_sim")
    )


SEMDEDUP_TAU = 0.4


def _semdedup_from(
    emb: DataFrame, tau: float = SEMDEDUP_TAU, n_cells: int = N_IVF_CELLS
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) over an
    ALREADY-PERSISTED embeddings frame: assign every vector to a
    deterministic k-means cell (the IVF quantizer, ``_ivf_model_from``),
    then within each cell prune every vector that has a LOWER-id
    neighbour with cosine ≥ ``tau`` — semantic near-duplicates collapse
    to one representative per duplicate group (the kept one is the
    lowest vec_id, a deterministic stand-in for the paper's
    closest-to-centroid choice).

    Returns a corpus-sized flat frame ``(vec_id, cell, sd_keep)``.

    Scale shape: the quadratic step is WITHIN-CELL only — an equi-join
    on ``cell`` — so cost is Σ n_c², never n².  At 10^12 vectors you
    grow ``n_cells`` ∝ n (SemDeDup's own recipe: cluster count scales
    so cells stay bounded) and the same plan holds: model build is two
    broadcast-centroid assignments + one hash aggregate; pruning is one
    self-equi-join on the cell key; the keep flag is one left join.
    No window over corpus rows, no driver-side collect."""
    cells, pairs = _semdedup_parts_from(emb, tau, n_cells)
    pruned = (
        pairs.select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("pruned", F.lit(1))
    )
    return cells.join(pruned, "vec_id", "left").select(
        "vec_id", "cell",
        F.when(F.col("pruned").isNotNull(), F.lit(0)).otherwise(F.lit(1))
        .alias("sd_keep"),
    )


def _semdedup_parts_from(
    emb: DataFrame, tau: float = SEMDEDUP_TAU, n_cells: int = N_IVF_CELLS
) -> tuple[DataFrame, DataFrame]:
    """The two reusable pieces of the SemDeDup pass: ``cells``
    (vec_id → quantizer cell, persisted — it feeds both pair-join
    sides and whatever the caller joins it to) and ``pairs`` — the
    distinct within-cell (vec_a < vec_b, cos ≥ τ) prune-candidate
    pairs.  ``training_corpus_filter`` consumes the PAIRS (so it can
    restrict pruning to pairs whose keeper survived its earlier
    stages); ``_semdedup_from`` consumes them as the corpus-wide
    verdict."""
    from .dedup import _scoped_persist

    cells = _scoped_persist(_ivf_model_from(emb, n_cells)[0])
    # norm per vector ONCE in the shared join projection (the quadratic
    # within-cell join used to re-fold both self-dots per pair — the
    # dominant cost of the whole SemDeDup pass, measured 5.5s -> ~2s at
    # sf0.1; bit-identical rounded cosines, see _NRM_EXPR)
    withv = cells.join(emb.select("vec_id", "embedding"), "vec_id").withColumn(
        "nrm", F.expr(_NRM_EXPR)
    )
    xa = withv.select(
        F.col("cell"), F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"), F.col("nrm").alias("nrm_a"),
    )
    xb = withv.select(
        F.col("cell"), F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"), F.col("nrm").alias("nrm_b"),
    )
    dot = _DOT.format(a="emb_a", b="emb_b")
    pairs = (
        xa.join(xb, "cell")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", F.expr(_r4(f"({dot}) / (nrm_a * nrm_b)")))
        .where(F.col("cos_sim") >= tau)
        .select("vec_a", "vec_b")
        .distinct()
    )
    return cells, pairs


def embedding_near_dup_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (``_near_dup_pairs_from``) enriched with each
    side's label and the label's centroid-norm profile (vector count,
    mean L2 norm) — one driver row grading BOTH the banded-LSH pair
    search and the per-label norm aggregate.  It also runs the SemDeDup
    pass (``_semdedup_from``) and tags each pair side with its k-means
    cell and keep/prune verdict (``cell_a``, ``sd_keep_a``, ``cell_b``,
    ``sd_keep_b``), so the row covers cluster assignment and
    cluster-scoped semantic pruning on exactly the rows where pruning
    is interesting: the near-duplicate pairs.  Every branch (bands a/b,
    exact-score a/b, labels, norms, quantizer, prune join) reads the
    ONE persisted embeddings scan; the per-label norm table is
    label-count-sized, so its two joins broadcast at any corpus
    scale."""
    from .dedup import _scoped_clear, _scoped_persist

    _scoped_clear()
    emb = _scoped_persist(_emb(spark, sf_dir))
    pairs = _near_dup_pairs_from(emb)

    labels = emb.select("vec_id", "label")
    norm = _DOT.format(a="embedding", b="embedding")
    norms = (
        emb.withColumn("norm", F.expr(f"sqrt({norm})"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.expr(_r4("avg(norm)")).alias("mean_norm"),
        )
    )
    la = labels.select(
        F.col("vec_id").alias("vec_a"), F.col("label").alias("label_a")
    )
    lb = labels.select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b")
    )
    na_ = norms.select(
        F.col("label").alias("label_a"),
        F.col("n_vecs").alias("n_vecs_a"),
        F.col("mean_norm").alias("mean_norm_a"),
    )
    nb_ = norms.select(
        F.col("label").alias("label_b"),
        F.col("n_vecs").alias("n_vecs_b"),
        F.col("mean_norm").alias("mean_norm_b"),
    )
    out = (
        pairs.join(la, "vec_a").join(lb, "vec_b")
        .join(F.broadcast(na_), "label_a")
        .join(F.broadcast(nb_), "label_b")
    )
    # NOT persisted, deliberately: caching sd plans its subtree under
    # the InMemoryRelation (no adaptive re-planning), which measured 3x
    # slower than just executing it (5.6s vs 1.9s sf0.1).  The cells
    # frame inside _semdedup_from IS persisted, so the two sd references
    # below re-run only the cheap prune join, not the quantizer.
    sd = _semdedup_from(emb)
    sa = sd.select(
        F.col("vec_id").alias("vec_a"), F.col("cell").alias("cell_a"),
        F.col("sd_keep").alias("sd_keep_a"),
    )
    sb = sd.select(
        F.col("vec_id").alias("vec_b"), F.col("cell").alias("cell_b"),
        F.col("sd_keep").alias("sd_keep_b"),
    )
    return out.join(sa, "vec_a").join(sb, "vec_b").select(
        "vec_a", "vec_b", "cos_sim", "label_a", "label_b",
        "n_vecs_a", "mean_norm_a", "n_vecs_b", "mean_norm_b",
        "cell_a", "sd_keep_a", "cell_b", "sd_keep_b",
    )


def embedding_near_dup_pairs_sql() -> str:
    band_selects = "\nUNION ALL\n".join(
        f"""SELECT vec_id, {j} AS band,
               list_aggregate([CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END
                               for i in generate_series({j * BAND_DIMS + 1}, {(j + 1) * BAND_DIMS})],
                              'string_agg', '') AS key
            FROM embeddings"""
        for j in range(N_SIG_BANDS)
    )
    dot = _DOT_SQL.format(a="ea.embedding", b="eb.embedding")
    na = _DOT_SQL.format(a="ea.embedding", b="ea.embedding")
    nb = _DOT_SQL.format(a="eb.embedding", b="eb.embedding")
    return f"""
        WITH bands AS ({band_selects}),
        probed AS (
          SELECT vec_id, band, key FROM bands
          UNION ALL
          SELECT vec_id, band,
                 substr(key, 1, f - 1)
                   || (CASE WHEN substr(key, f, 1) = '1' THEN '0' ELSE '1' END)
                   || substr(key, f + 1) AS key
          FROM bands, generate_series(1, {BAND_DIMS}) g(f)),
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM probed a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
        SELECT vec_a, vec_b,
               {_r4(f"({dot}) / (sqrt({na}) * sqrt({nb}))")} AS cos_sim
        FROM cand
        JOIN embeddings ea ON ea.vec_id = vec_a
        JOIN embeddings eb ON eb.vec_id = vec_b
        WHERE {_r4(f"({dot}) / (sqrt({na}) * sqrt({nb}))")} >= {NEAR_DUP_COS}
    """


# ---------------------------------------------------------------------------
# DuckDB oracle texts
# ---------------------------------------------------------------------------

_DOT_SQL = "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def _cos_sql() -> str:
    dot = _DOT_SQL.format(a="e.embedding", b="q.embedding")
    na = _DOT_SQL.format(a="e.embedding", b="e.embedding")
    nb = _DOT_SQL.format(a="q.embedding", b="q.embedding")
    return f"""
        WITH q AS (SELECT embedding, label FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
        scored AS (
          SELECT e.vec_id, e.label, q.label AS q_label,
                 {_r4(f"({dot}) / (sqrt({na}) * sqrt({nb}))")} AS cos_sim
          FROM embeddings e, q)
    """


def ann_cosine_topk_sql() -> str:
    return f"""
        {_cos_sql()}
        SELECT vec_id, label, cos_sim FROM scored
        WHERE vec_id != {QUERY_VEC_ID}
        ORDER BY cos_sim DESC, vec_id ASC LIMIT {COSINE_TOPK_K}
    """


def _ivf_model_ctes_sql() -> str:
    """The deterministic one-Lloyd-step quantizer as a CTE chain (ends
    at ``a2`` = final (vec_id, cell) and ``cvecs`` = final centroids —
    stable names every composer references), shared by the IVF search
    oracle and the SemDeDup oracle: same seeds, same rounded assignment
    scores, same rounded per-dim centroid means, same tie-breaks — so
    the cell partitioning is identical across engines and across the
    oracles."""
    score = _r6(
        "list_dot_product(cvec, cvec) - 2 * list_dot_product(v, cvec)"
    )

    def nearest(cents: str) -> str:
        return f"""(SELECT vec_id, cell FROM (
                 SELECT vec_id, cell,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY score, cell) AS rn
                 FROM (SELECT vec_id, cell, {score} AS score
                       FROM e CROSS JOIN {cents})) WHERE rn = 1)"""

    return f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        it_seeds AS (SELECT CAST(vec_id AS INT) AS cell, v AS cvec FROM e
                     WHERE vec_id < {N_IVF_CELLS}),
        it_a AS {nearest("it_seeds")},
        it_cent AS (SELECT cell, i, {_r6('AVG(v[i])')} AS cval
                 FROM it_a JOIN e USING (vec_id)
                 CROSS JOIN generate_series(1, {EMB_DIMS}) t(i)
                 GROUP BY cell, i),
        cvecs AS (SELECT cell, list(cval ORDER BY i) AS cvec
                  FROM it_cent GROUP BY cell),
        a2 AS {nearest("cvecs")}"""


def _semdedup_parts_sql_ctes() -> str:
    """Quantizer CTEs + the distinct within-cell prune-candidate pairs
    (``sd_pairs``) — the SQL twin of ``_semdedup_parts_from``, composed
    by both the standalone verdict oracle and the corpus filter's
    survivor-aware stage 5."""
    cos = _r4(
        "list_dot_product(x.v, y.v)"
        " / (sqrt(list_dot_product(x.v, x.v))"
        " * sqrt(list_dot_product(y.v, y.v)))"
    )
    return f"""{_ivf_model_ctes_sql()},
        sda AS (SELECT a2.vec_id, a2.cell, e.v FROM a2 JOIN e USING (vec_id)),
        sd_pairs AS (
          SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
          FROM sda x JOIN sda y ON x.cell = y.cell AND x.vec_id < y.vec_id
          WHERE {cos} >= {SEMDEDUP_TAU})"""


def semdedup_sql() -> str:
    """DuckDB twin of ``_semdedup_from``: identical quantizer CTEs
    (``_ivf_model_ctes_sql``), identical rounded-cosine prune predicate,
    identical lowest-id-wins keep rule."""
    return f"""
        WITH {_semdedup_parts_sql_ctes()},
        sdpruned AS (SELECT DISTINCT vec_b AS vec_id FROM sd_pairs)
        SELECT a2.vec_id, a2.cell,
               CASE WHEN p.vec_id IS NULL THEN 1 ELSE 0 END AS sd_keep
        FROM a2 LEFT JOIN sdpruned p USING (vec_id)
    """


def ann_ivf_topk_sql(n_probe: int) -> str:
    """Mirrors the deterministic one-Lloyd-step quantizer exactly (CTE
    chain shared with the SemDeDup oracle) plus the probe-cell ranking —
    so the cell partitioning (and therefore the pruned search result)
    is identical across engines."""
    return f"""
        WITH {_ivf_model_ctes_sql()},
        q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
        probe AS (SELECT cell FROM (
                    SELECT c.cell,
                           {_r6('list_dot_product(c.cvec, c.cvec) - 2 * list_dot_product(q.qv, c.cvec)')} AS score
                    FROM cvecs c CROSS JOIN q)
                  ORDER BY score, cell LIMIT {n_probe})
        SELECT e.vec_id, a2.cell,
               {_r4("list_dot_product(e.v, q.qv)"
                    " / (sqrt(list_dot_product(e.v, e.v))"
                    " * sqrt(list_dot_product(q.qv, q.qv)))")} AS cos_sim
        FROM e JOIN a2 USING (vec_id) CROSS JOIN q
        WHERE a2.cell IN (SELECT cell FROM probe) AND e.vec_id != {QUERY_VEC_ID}
        ORDER BY cos_sim DESC, vec_id ASC LIMIT {IVF_TOPK_K}
    """


def ann_ivf_sql() -> str:
    return f"""
        SELECT CAST(1 AS INTEGER) AS n_probe, s.* FROM (
          {ann_ivf_topk_sql(n_probe=1)}
        ) s
        UNION ALL
        SELECT CAST(3 AS INTEGER) AS n_probe, s.* FROM (
          {ann_ivf_topk_sql(n_probe=3)}
        ) s
    """


def embedding_near_dup_labeled_sql() -> str:
    pairs = embedding_near_dup_pairs_sql()
    norms = label_centroid_norms_sql()
    # sd bound ONCE as a named CTE — inlining the derived table twice
    # would make DuckDB evaluate the quantizer + quadratic prune twice
    # (no CSE across derived tables)
    return f"""
        WITH sd AS ({semdedup_sql()})
        SELECT p.vec_a, p.vec_b, p.cos_sim,
               la.label AS label_a, lb.label AS label_b,
               na.n_vecs AS n_vecs_a, na.mean_norm AS mean_norm_a,
               nb.n_vecs AS n_vecs_b, nb.mean_norm AS mean_norm_b,
               sa.cell AS cell_a, sa.sd_keep AS sd_keep_a,
               sb.cell AS cell_b, sb.sd_keep AS sd_keep_b
        FROM ({pairs}) p
        JOIN embeddings la ON la.vec_id = p.vec_a
        JOIN embeddings lb ON lb.vec_id = p.vec_b
        JOIN ({norms}) na ON na.label = la.label
        JOIN ({norms}) nb ON nb.label = lb.label
        JOIN sd sa ON sa.vec_id = p.vec_a
        JOIN sd sb ON sb.vec_id = p.vec_b
    """


def label_centroid_norms_sql() -> str:
    norm = _DOT_SQL.format(a="embedding", b="embedding")
    return f"""
        SELECT label, COUNT(*) AS n_vecs,
               {_r4(f"AVG(sqrt({norm}))")} AS mean_norm
        FROM embeddings GROUP BY label
    """


def ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch KNN join: the top-``KNN_K`` cosine neighbors for EVERY query
    in a query set (here the ``KNN_QUERIES`` lowest vec_ids), as ONE plan —
    similarity search as a relational join, not a per-query loop.

    Skew-safe hierarchical top-k instead of a per-query window: a
    window/sort partitioned by q_id would sort all n corpus rows on one
    reducer per query.  Phase 1 groups by (q_id, vec_id % KNN_BUCKETS)
    and keeps each bucket's top-k as a bounded sorted array (collect
    input per key is n/KNN_BUCKETS rows — the knob that bounds reducer
    memory); phase 2 merges KNN_BUCKETS arrays of ≤k per query (bounded)
    and explodes the final ranking.  Struct sort key (-cos, vec_id)
    gives cosine-descending with deterministic tie-break in both
    phases.  The query set rides as a broadcast; dot products are the
    JVM fold shared with ann_cosine_topk, so the DuckDB oracle (a plain
    row_number window — same result, different physical plan) hashes
    identically."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q"),
        F.expr(_NRM_EXPR).alias("qn"),  # query norms: once per query
    )
    dot = _DOT.format(a="embedding", b="q")
    scored = (
        # corpus-side norm computed BEFORE the broadcast join: one fold
        # per corpus vector instead of one per (vector, query) pair
        emb.select("vec_id", "embedding", F.expr(_NRM_EXPR).alias("nrm"))
        .crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            # the rounded value is the RANKING key — use the halfway-safe
            # idiom (a round() halfway divergence would reorder ranks)
            F.expr(
                round_half_up_expr(f"({dot}) / (nrm * qn)", 4)
            ).alias("cos_sim"),
        )
    )
    part = (
        scored.groupBy("q_id", (F.col("vec_id") % F.lit(KNN_BUCKETS)).alias("b"))
        .agg(
            F.expr(
                f"slice(array_sort(collect_list(named_struct("
                f"'nc', -cos_sim, 'vec_id', vec_id))), 1, {KNN_K})"
            ).alias("topk")
        )
    )
    return (
        part.groupBy("q_id")
        .agg(
            F.expr(
                f"slice(array_sort(flatten(collect_list(topk))), 1, {KNN_K})"
            ).alias("topk")
        )
        .select("q_id", F.posexplode("topk").alias("pos", "s"))
        .select(
            "q_id",
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("s.vec_id").alias("vec_id"),
            (-F.col("s.nc")).alias("cos_sim"),
        )
    )


def ann_knn_join_sql() -> str:
    dot = _DOT_SQL.format(a="e.embedding", b="q.embedding")
    na = _DOT_SQL.format(a="e.embedding", b="e.embedding")
    nb = _DOT_SQL.format(a="q.embedding", b="q.embedding")
    cos = round_half_up_expr(f"({dot}) / (sqrt({na}) * sqrt({nb}))", 4)
    return f"""
        WITH scored AS (
          SELECT q.vec_id AS q_id, e.vec_id,
                 {cos} AS cos_sim
          FROM embeddings e JOIN embeddings q
            ON q.vec_id < {KNN_QUERIES} AND e.vec_id != q.vec_id),
        ranked AS (
          SELECT q_id, vec_id, cos_sim,
                 CAST(row_number() OVER (PARTITION BY q_id
                      ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER) AS rank
          FROM scored)
        SELECT q_id, rank, vec_id, cos_sim FROM ranked WHERE rank <= {KNN_K}
    """
