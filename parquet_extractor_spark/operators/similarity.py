"""Similarity search over the embeddings table (array<float>, dim 64).

Four tiers, exactness traded for bounded candidate volume (recall@5
measured on the fixture and pinned as regression floors in tests):

- **Brute-force cosine top-k** (recall 1.0) — the exactness baseline.
  Query set is broadcast; every partition scores its local shard
  against all queries (classic map-side cross product), then
  per-query top-k via window. At 100 TB the scan is embarrassingly
  parallel and the only shuffle is the tiny (n_queries × k) candidate
  set — the win is that `zip_with`/`aggregate` keep the dot product
  inside codegen, no Python, no UDF.

- **Sign-LSH bucketed ANN** (0.16) — axis-aligned sign quantization
  of the leading SIGN_BITS dimensions forms a deterministic bucket id
  (a special case of random-hyperplane LSH, reproducible in the
  DuckDB oracle). Candidates are only same-bucket vectors → the cross
  product shrinks by ~2^SIGN_BITS.

- **Multi-probe sign-LSH** (0.52) — each query also probes every
  Hamming-1 neighbor bucket; linear candidate growth, steep recall
  gain.

- **IVF** (0.96) — inverted file over coarse centroid cells with
  map-side assignment and nprobe probing; see ann_ivf.

- **IVF-PQ** (0.2 bootstrap / 0.36 Lloyd-refined-16, vs exact L2) —
  the memory tier: candidates ranked by asymmetric distance over
  8-byte PQ codes without reading full vectors (ann_ivf_pq,
  ann_ivf_pq_refined, pq_codes, refined_pq_books). Recall here is
  codebook-limited by the deterministic PQ_K=8 / PQ_K_REFINED=16
  books the oracle can replicate; production trains PQ_K=256
  per-subspace k-means through the same expressions.

All arithmetic is cast to double BEFORE summation in both engines so
the oracle compares bit-identical left-to-right folds (or exact
integer micro-units where a sum's order is engine-dependent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parquet_extractor_spark.functions.text import portable_hash64, portable_hash64_sql
from parquet_extractor_spark.functions.windows import bounded_global_window

from parquet_extractor_spark.session import materialize
from parquet_extractor_spark.sources.tables import load_table, local_frame, spread

TOP_K = 5
N_QUERIES = 5  # the first 5 vectors by vec_id are the query set
SIGN_BITS = 4
EMB_DIM = 64  # fixture embedding dimensionality (PQ_M·PQ_SUBDIM and
# KMEANS_REFINE_SQL's range(1,65) already assume it)
RP_DIM = 16  # Johnson-Lindenstrauss target dimensionality
# max same-bucket cosine in the fixture is ~0.51; 0.35 yields a
# meaningful (non-empty) near-dup set for the oracle comparison
NEAR_DUP_THRESHOLD = 0.35


def _dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i as a left-to-right fold over doubles — a single
    vectorized JVM expression (higher-order functions evaluate inside
    the codegen'd stage, no Python round-trip)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`cosine` over two list expressions."""
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))) "
        f"/ (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
        f"* sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    )


# ── SQL-text twins of _dot/_norm/cosine for PLAN-TIME LITERAL vectors ─
# Building a literal centroid/codebook expression out of Column ops
# costs hundreds of py4j round-trips (one per F.lit) — ~1ms each, so a
# 32-centroid × 64-dim assignment spent seconds in Python before Spark
# ever saw the plan. These emit the SAME expression trees as one SQL
# string parsed in a single F.expr call. repr() round-trips IEEE
# doubles and string→double cast is correctly rounded, so the literal
# values are bit-identical to F.lit's.


def _dlit_sql(v: float) -> str:
    return f"CAST('{v!r}' AS DOUBLE)"


def _vec_lit_sql(vec: list[float]) -> str:
    return "array(" + ",".join(_dlit_sql(v) for v in vec) + ")"


def _cross_const(df: DataFrame, name: str, value, sql_type: str) -> DataFrame:
    """Attach a driver-computed constant as a COLUMN via a broadcast
    1-row cross join instead of inlining it as plan-time literals.

    A PQ_M × PQ_K × PQ_SUBDIM codebook inlined per distance expression
    costs thousands of literal expression nodes that every
    parse/analyze/optimize pass (and every one of the bench's 3 timed
    constructions) re-walks — r12/r13 measured the PQ family
    driver-bound (8-core runs ≈ 0.7× the 32-core time). Shipped as
    DATA the plan carries one ~KB broadcast relation and the scoring
    expressions reference a column; per-element arithmetic is the
    same HOF fold, so values are unchanged.

    The 1-row relation is a JVM ``LocalRelation`` built by
    ``local_frame``: the Python floats travel as Arrow float64, bit
    for bit (-0.0, subnormals and infinities included). Built from a
    Python list it was a Python-RDD scan that started a Python worker
    on every execution of the query (≈0.3 s of ``ann_ivf``'s 0.9 s on
    a 4-core host)."""
    spark = df.sparkSession
    const = local_frame(spark, [(value,)], f"{name} {sql_type}")
    return df.crossJoin(F.broadcast(const))


def _dot_sql_expr(a: str, b: str) -> str:
    """Same fold as _dot: zip_with product, left-to-right sum."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _py_norm(vec: list[float]) -> float:
    """Left-to-right L2 norm in Python floats — bit-identical to the
    JVM/DuckDB fold (IEEE doubles, same order, sqrt correctly
    rounded), so a literal centroid's norm can be baked into the plan
    as a constant instead of re-folded per row."""
    acc = 0.0
    for v in vec:
        acc += float(v) * float(v)
    return acc ** 0.5


def _assigned_cells(spark: SparkSession, emb: DataFrame, cents) -> DataFrame:
    """emb + nrm + _sims + cluster columns: centroid argmax cell
    assignment, shared by ann_ivf / build_ivf_index / _ivf_pq_search.
    Repartitions first (a small parquet read arrives in 1-2 partitions
    and would serialize the fan-out — the r04 lesson) and computes the
    row norm ONCE, reused by every centroid cosine.

    r13: the centroids (with their driver-precomputed norms) arrive as
    DATA via ``_cross_const`` rather than NUM_CENTROIDS × EMB_DIM
    inlined literals, and the per-centroid cosines are staged as ONE
    ``_sims`` array column, so the fold runs once per row (the inline
    form embedded the sims array twice, in array_position and
    array_max). The per-element tree is unchanged — dot/(nrm * cn)
    with cn = _py_norm(c) — so every sim, and hence every cluster id,
    is bit-identical to the literal-centroid form."""
    base = emb.repartition(spark.sparkContext.defaultParallelism).withColumn(
        "nrm", _norm(F.col("embedding"))
    )
    base = _cross_const(
        base,
        "_cents",
        [([float(x) for x in c], _py_norm(c)) for c in cents],
        "array<struct<c:array<double>,cn:double>>",
    )
    sims = F.expr(
        "transform(_cents, p -> round("
        "aggregate(zip_with(embedding, p.c, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / (nrm * p.cn), 9))"
    )
    staged = base.withColumn("_sims", sims).drop("_cents")
    cluster = (
        F.array_position(F.col("_sims"), F.array_max(F.col("_sims"))) - 1
    ).cast("int")
    return staged.withColumn("cluster", cluster)


def _query_rows(emb: DataFrame) -> DataFrame:
    """The query set: first N_QUERIES rows by vec_id. ORDER BY/LIMIT
    rather than a `vec_id < N` filter so a sparse or non-zero-based id
    space still yields a non-empty query set (oracles mirror with
    `vec_id IN (SELECT vec_id ... ORDER BY vec_id LIMIT N)`).
    Assumes vec_id is unique (the table's key) — under duplicated ids
    the LIMIT here and the IN-subquery there pick different row sets."""
    return emb.orderBy("vec_id").limit(N_QUERIES)


# DuckDB twin of _query_rows, usable as `vec_id IN {_QUERY_IDS_SQL}`.
_QUERY_IDS_SQL = (
    f"(SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {N_QUERIES})"
)


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for the first N_QUERIES vectors.

    Norms precomputed once per side and the corpus repartitioned
    before the broadcast fan-out (a small parquet read arrives in 1-2
    partitions and would serialize the scoring stage — the
    semdedup/near-dup lesson); dot/(q_nrm*nrm) keeps cosine()'s exact
    association so the oracle still matches at round(6)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _query_rows(emb).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    ).withColumn("q_nrm", _norm(F.col("q_emb")))
    pairs = (
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("nrm", _norm(F.col("embedding")))
        .alias("e")
        .join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# DuckDB fold: list_zip→struct arithmetic is awkward; an equivalent
# exact form is sum over unnested parallel lists (DuckDB zips parallel
# unnests positionally). Summation order over unnest is list order, and
# all terms are doubles → matches Spark's fold bit-for-bit at round(6).
KNN_BRUTEFORCE_SQL = rf"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS q_emb
    FROM embeddings WHERE vec_id IN {_QUERY_IDS_SQL}
),
pairs AS (
    SELECT q.query_id,
           e.vec_id AS neighbor_id,
           round({cosine_sql('q.q_emb', 'e.embedding')}, 6) AS cosine_sim
    FROM embeddings e JOIN q ON e.vec_id != q.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
    FROM pairs
)
SELECT query_id, neighbor_id, cosine_sim, rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def _rp_sign_rows() -> list[list[float]]:
    """Deterministic ±1 projection matrix (RP_DIM × EMB_DIM), the
    Achlioptas 2003 database-friendly Johnson-Lindenstrauss variant:
    Rademacher signs drawn from md5 so BOTH engines embed the same
    literal matrix — no cross-engine RNG to reconcile."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[:8], 16) & 1
            else -1.0
            for i in range(EMB_DIM)
        ]
        for j in range(RP_DIM)
    ]


def _rp_proj_spark_sql(col: str) -> str:
    """array<double> of RP_DIM signed-sum projections (SQL text)."""
    return (
        "array("
        + ",".join(
            _dot_sql_expr(col, _vec_lit_sql(row)) for row in _rp_sign_rows()
        )
        + ")"
    )


def _rp_proj_duck_sql(col: str) -> str:
    """DuckDB twin: unrolled signed sums (a list-literal-indexing form
    re-materializes the literal per element — 20× slower). `0.0 +`
    then left-associated terms reproduces the Spark fold's exact
    accumulation order; sign·x and ±x are identical IEEE doubles."""
    rows = _rp_sign_rows()

    def one(row: list[float]) -> str:
        terms = " ".join(
            ("+" if v > 0 else "-") + f" CAST({col}[{i + 1}] AS DOUBLE)"
            for i, v in enumerate(row)
        )
        return f"(0.0 {terms})"

    return "[" + ",".join(one(r) for r in rows) + "]"


def ann_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k neighbors in Johnson-Lindenstrauss projected space — the
    dimensionality-reduction tier of the similarity suite (beyond the
    reference scope; see module header).

    Each 64-dim vector is projected to RP_DIM=16 dims through a
    deterministic ±1 Rademacher matrix (map-side, one scan, zero
    shuffle), then the knn_bruteforce shape runs on the short vectors:
    pair scoring costs EMB_DIM/RP_DIM = 4× less, and at 100 TB the
    projected table is what the LSH/IVF tiers would index instead of
    raw vectors. JL distortion is measured, not assumed — the test
    pins recall@5 against exact knn_bruteforce.

    Output: (query_id, neighbor_id, proj_cosine, rank) for the same
    N_QUERIES query set every ANN tier uses."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_rp_proj_spark_sql("embedding")).alias("proj")
    )
    queries = (
        emb.orderBy("vec_id")
        .limit(N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("proj").alias("q_proj"))
    )
    pairs = emb.join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("q_proj"), F.col("proj")), 6).alias("proj_cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("proj_cosine"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


ANN_RANDOM_PROJECTION_SQL = rf"""
WITH pe AS (
    SELECT vec_id, {_rp_proj_duck_sql('embedding')} AS proj FROM embeddings
),
q AS (
    SELECT vec_id AS query_id, proj AS q_proj
    FROM pe WHERE vec_id IN {_QUERY_IDS_SQL}
),
pairs AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round({cosine_sql('q.q_proj', 'e.proj')}, 6) AS proj_cosine
    FROM pe e JOIN q ON e.vec_id != q.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, proj_cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY proj_cosine DESC, neighbor_id ASC) AS rank
    FROM pairs
)
SELECT query_id, neighbor_id, proj_cosine, rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def _sign_bucket(emb: Column) -> Column:
    """Bucket id from the signs of the first SIGN_BITS dims."""
    terms = []
    for i in range(SIGN_BITS):
        terms.append(
            F.when(F.element_at(emb, i + 1) >= 0, F.lit(2 ** i)).otherwise(F.lit(0))
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("int")


def ann_sign_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket. Join key = bucket id → hash-partitioned candidate join
    instead of a full cross product."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", _sign_bucket(F.col("embedding"))
    )
    queries = _query_rows(emb).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    pairs = (
        emb.join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("q_emb"), F.col("embedding")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def _bucket_sql(col: str) -> str:
    terms = " + ".join(
        f"CASE WHEN {col}[{i + 1}] >= 0 THEN {2 ** i} ELSE 0 END"
        for i in range(SIGN_BITS)
    )
    return f"CAST({terms} AS INTEGER)"


ANN_SIGN_LSH_SQL = rf"""
WITH emb AS (
    SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
    FROM embeddings
),
q AS (
    SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket
    FROM emb WHERE vec_id IN {_QUERY_IDS_SQL}
),
pairs AS (
    SELECT q.query_id,
           e.vec_id AS neighbor_id,
           round({cosine_sql('q.q_emb', 'e.embedding')}, 6) AS cosine_sim
    FROM emb e JOIN q ON e.bucket = q.q_bucket AND e.vec_id != q.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
    FROM pairs
)
SELECT query_id, neighbor_id, cosine_sim, rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# IVF geometry: NUM_CENTROIDS coarse cells, queries probe the NPROBE
# nearest cells. Centroid "training" here is deterministic (the first
# NUM_CENTROIDS vectors in id order) so the DuckDB oracle can replicate
# the exact partitioning; production would swap in pyspark.ml KMeans
# centroids — everything downstream is unchanged.
NUM_CENTROIDS = 8
NPROBE = 2


def _centroid_vectors(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The NUM_CENTROIDS centroid vectors as driver-side floats — they
    become plan-time literals, broadcast for free inside the serialized
    expressions. Seeds are the FIRST rows by vec_id (robust to
    non-contiguous / non-zero-based id spaces; the oracles mirror with
    ORDER BY vec_id LIMIT k), a prefix of the shared head-vector
    artifact, so every IVF-family query shares one coarse quantizer."""
    return [
        [float(x) for x in r.embedding]
        for r in _head_vectors(spark, sf_dir)[:NUM_CENTROIDS]
    ]


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: the scale path for similarity search.

    Plan shape (and why it scales):

    1. **Assignment is map-side only.** Each vector's nearest centroid
       is an argmax over NUM_CENTROIDS codegen'd cosine expressions
       against literal centroid arrays — zero shuffle, zero Python, so
       the inverted index costs one scan no matter the table size.
    2. **Probing bounds the join.** Each query fans out to its NPROBE
       closest cells; candidates are only vectors in those cells, so
       the scored pair count drops by ~NUM_CENTROIDS/NPROBE vs brute
       force. The probe list is broadcast (n_queries × NPROBE rows).
    3. The only shuffle is the final per-query top-k window over the
       candidate set.

    Ties everywhere break toward the lower centroid/neighbor id, which
    the oracle mirrors with explicit ORDER BY ... rn predicates.
    """
    cents = _centroid_vectors(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    # round(9) argmax compares identically to the oracle's rounded
    # window ordering; first max index = lowest centroid id on ties
    assigned = _assigned_cells(spark, emb, cents)

    # per-query probe cells: sort (−sim, cid) structs ascending → top
    # NPROBE by sim, ties toward lower cid (transform's index arg is
    # the same 0-based cid the literal F.lit(i) used to carry)
    probe_structs = F.expr(
        "transform(_sims, (s, i) -> struct(-s AS neg_sim, i AS cid))"
    )
    probes = (
        _query_rows(assigned)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(F.slice(F.array_sort(probe_structs), 1, NPROBE)).alias("p"),
        )
        .select("query_id", "q_emb", F.col("p.cid").alias("probe_cluster"))
    )

    pairs = (
        assigned.drop("_sims").join(
            F.broadcast(probes),
            (F.col("cluster") == F.col("probe_cluster"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("q_emb"), F.col("embedding")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


ANN_IVF_SQL = rf"""
WITH cent AS (
    SELECT vec_id AS cid, embedding AS c_emb
    FROM (SELECT vec_id, embedding FROM embeddings
          ORDER BY vec_id LIMIT {NUM_CENTROIDS})
),
scored AS (
    SELECT e.vec_id, e.embedding, c.cid,
           round({cosine_sql('e.embedding', 'c.c_emb')}, 9) AS sim
    FROM embeddings e CROSS JOIN cent c
),
ranked_assign AS (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cid ASC) AS rn
    FROM scored
),
clusters AS (
    SELECT vec_id, embedding, cid AS cluster FROM ranked_assign WHERE rn = 1
),
probes AS (
    SELECT vec_id AS query_id, embedding AS q_emb, cid AS probe_cluster
    FROM ranked_assign WHERE vec_id IN {_QUERY_IDS_SQL} AND rn <= {NPROBE}
),
pairs AS (
    SELECT p.query_id, c.vec_id AS neighbor_id,
           round({cosine_sql('p.q_emb', 'c.embedding')}, 6) AS cosine_sim
    FROM clusters c JOIN probes p
      ON c.cluster = p.probe_cluster AND c.vec_id != p.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
    FROM pairs
)
SELECT query_id, neighbor_id, cosine_sim, rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# SemDeDup cosine threshold (Abbas et al. 2023, arXiv:2303.09540 —
# public formulation: cluster embeddings, drop all but one member of
# each within-cluster near-duplicate group). 0.35 matches the fixture
# geometry documented at NEAR_DUP_THRESHOLD.
SEMDEDUP_THRESHOLD = 0.35
# SemDeDup sizes k so cells stay small (paper: k ~ n/100): the
# within-cell pair term is quadratic in CELL size, so k must GROW
# with n to keep cells — and the wall-time ratio — constant (the r03
# 10x measurement showed 3.7x with k pinned at 32; see SCALE.md).
# k = clamp(n // SEMDEDUP_CELL_TARGET, MIN, MAX), derived from a
# cheap count() at plan time and mirrored exactly by the oracle SQL.
# MAX bounds the literal-centroid plan size; past it (n > ~400k per
# partition-group) the production path swaps the literal argmax for a
# broadcast numpy centroid matrix inside a pandas UDF — same math,
# documented boundary.
SEMDEDUP_MIN_CENTROIDS = 32
SEMDEDUP_MAX_CENTROIDS = 4096
SEMDEDUP_CELL_TARGET = 100


def _semdedup_k(n: int) -> int:
    return max(
        SEMDEDUP_MIN_CENTROIDS,
        min(SEMDEDUP_MAX_CENTROIDS, n // SEMDEDUP_CELL_TARGET),
    )


def semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: semantic dedup via embedding clustering — the
    embedding-space sibling of the MinHash/Jaccard lexical tiers.

    Shape: (1) cluster assignment via a broadcast cross join against
    the k-row centroid frame + max_by groupBy (one codegen'd cosine
    regardless of k — literal argmax expressions stop scaling once k
    self-scales; see semdedup_verdicts); (2) within-cluster pair
    scoring via a self-join keyed on cluster (pairs only ever form
    inside a cell, never across the corpus); (3) a vector is dropped
    when a LOWER-id member of its cluster sits within
    SEMDEDUP_THRESHOLD cosine — the deterministic keep-the-exemplar
    rule (the paper keeps one random member; lowest-id is the
    reproducible choice an oracle can mirror).

    Scale: the cluster self-join is quadratic in CELL size, not corpus
    size — exactly SemDeDup's published cost model. k self-scales with
    the input (``_semdedup_k``: n // SEMDEDUP_CELL_TARGET, clamped) so
    cells stay ~constant-sized as data grows; a static k would make
    the pair term quadratic in n (the r03 weak item). Skewed cells
    would use the same MAX_SHINGLE_DF-style cap the lexical tier
    applies.
    Output: (vec_id, cluster, keep) for every vector.
    """
    return semdedup_verdicts(
        spark, load_table(spark, sf_dir, "embeddings")
    )


def semdedup_verdicts(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """SemDeDup over an ARBITRARY (vec_id, embedding) frame — the
    DataFrame-in form pipelines compose over subsets (e.g. the lexical
    survivors in pipelines.curate), with centroids seeded from the
    INPUT frame's first k rows (k = ``_semdedup_k(count)``) so the
    rule is self-contained — and self-SCALING — on whatever population
    it is given. semdedup_keep is this applied to the whole embeddings
    table."""
    n_vecs = emb.count()
    if n_vecs == 0:
        raise ValueError("semdedup: input frame is empty, no centroids")
    k = _semdedup_k(n_vecs)

    # Assignment = broadcast cross join against the k-row centroid
    # frame + max_by groupBy, NOT k literal argmax expressions: with a
    # self-scaling k the literal formulation's plan grows linearly in
    # k and falls out of whole-stage codegen past ~100 expressions
    # (measured 4× slower than static k at k=200). The join keeps ONE
    # codegen'd cosine expression regardless of k; the broadcast side
    # is bounded by SEMDEDUP_MAX_CENTROIDS rows by construction. The
    # row_number window runs on a k-row frame AFTER limit(k) —
    # bounded, the documented benign single-partition pattern.
    cent = (
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(bounded_global_window("vec_id")) - 1).alias("cid"),
            F.col("embedding").alias("c_emb"),
        )
        # centroid norm computed ONCE per centroid row before the
        # broadcast: each of the n×k join rows then pays a single
        # array fold (the dot) instead of three — higher-order
        # functions are CodegenFallback (interpreted), so fold count
        # is the hot-path constant here.
        .withColumn("c_nrm", _norm(F.col("c_emb")))
    )

    # repartition before fanning out n×k rows: a freshly-read small
    # parquet table arrives in 1-2 partitions, which would serialize
    # the whole assignment stage on 2 cores (measured 57s vs ~4s at
    # 20k×200 on local[32]). One cheap n-row shuffle buys full
    # parallelism for the dominant compute.
    base = (
        emb.select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("nrm", _norm(F.col("embedding")))
    )
    # round-then-argmax matches the oracle's rank over round(cos, 9);
    # ties break to the LOWEST cid (max of (sim, -cid) struct ==
    # ORDER BY sim DESC, cid ASC limit 1). any_value is exact here:
    # every row in a vec_id group carries the same embedding/nrm.
    # dot/(nrm*c_nrm) is bit-identical to cosine(): same fold, same
    # left-to-right double ops, same divisor association.
    sim = F.round(
        _dot(F.col("embedding"), F.col("c_emb"))
        / (F.col("nrm") * F.col("c_nrm")),
        9,
    )
    # materialize: the assignment feeds BOTH self-join sides and the
    # final keep projection — caching evaluates it once instead of
    # three times, the same shared-subplan persist ngram_jaccard_pairs
    # uses.
    assigned = materialize(
        base.crossJoin(F.broadcast(cent))
        .select("vec_id", "embedding", "nrm", "cid", sim.alias("sim"))
        .groupBy("vec_id")
        .agg(
            F.any_value("embedding").alias("embedding"),
            F.any_value("nrm").alias("nrm"),
            F.max(F.struct(F.col("sim"), (-F.col("cid")).alias("ncid"))).alias(
                "m"
            ),
        )
        .select(
            "vec_id",
            "embedding",
            "nrm",
            (-F.col("m.ncid")).cast("int").alias("cluster"),
        )
    )

    a = assigned.select(
        F.col("vec_id").alias("a_id"),
        F.col("cluster").alias("a_cl"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = assigned.select(
        F.col("vec_id").alias("b_id"),
        F.col("cluster").alias("b_cl"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    pair_sim = F.round(
        _dot(F.col("a_emb"), F.col("b_emb"))
        / (F.col("a_nrm") * F.col("b_nrm")),
        6,
    )
    dropped = (
        a.join(b, (F.col("a_cl") == F.col("b_cl")) & (F.col("a_id") < F.col("b_id")))
        .filter(pair_sim >= F.lit(SEMDEDUP_THRESHOLD))
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assigned.select("vec_id", "cluster")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.col("is_dup").isNull().alias("keep"),
        )
        .orderBy("vec_id")
    )


SEMDEDUP_KEEP_SQL = rf"""
WITH kv AS (
    -- mirrors _semdedup_k(): k = clamp(n // cell_target, min, max)
    SELECT GREATEST({SEMDEDUP_MIN_CENTROIDS},
                    LEAST({SEMDEDUP_MAX_CENTROIDS},
                          COUNT(*) // {SEMDEDUP_CELL_TARGET})) AS k
    FROM embeddings
),
cent AS (
    -- cid = seed RANK (not vec_id): matches the Spark side's
    -- array-index cluster labels even if vec_ids are sparse
    SELECT rn - 1 AS cid, embedding AS c_emb
    FROM (SELECT vec_id, embedding,
                 row_number() OVER (ORDER BY vec_id) AS rn
          FROM embeddings) s, kv
    WHERE s.rn <= kv.k
),
scored AS (
    SELECT e.vec_id, e.embedding, c.cid,
           round({cosine_sql('e.embedding', 'c.c_emb')}, 9) AS sim
    FROM embeddings e CROSS JOIN cent c
),
ranked_assign AS (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cid ASC) AS rn
    FROM scored
),
clusters AS (
    SELECT vec_id, embedding, cid AS cluster FROM ranked_assign WHERE rn = 1
),
dropped AS (
    SELECT DISTINCT b.vec_id
    FROM clusters a JOIN clusters b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE round({cosine_sql('a.embedding', 'b.embedding')}, 6)
          >= {SEMDEDUP_THRESHOLD}
)
SELECT c.vec_id,
       CAST(c.cluster AS INTEGER) AS cluster,
       d.vec_id IS NULL AS keep
FROM clusters c LEFT JOIN dropped d USING (vec_id)
ORDER BY c.vec_id
"""


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection (dedup tier 5):
    same-bucket pairs with cosine above threshold. Bucketed join keeps
    the pair space tractable; exact variant = drop the bucket equality.

    Norms are computed ONCE per row before the self-join and reused by
    every pair — one interpreted array fold per pair instead of three
    (higher-order functions are CodegenFallback; fold count is the
    hot-path constant, same lesson as semdedup_verdicts — this cut the
    sf0.1 bench 8.8s → ~3s). dot/(na*nb) keeps cosine()'s exact
    association, so the oracle still hash-matches at round(6)."""
    # repartition BY BUCKET, pinned to defaultParallelism (r13, the
    # customer_entity_resolution lesson, guide §2.5): the self-join
    # shuffles ~1 MB of vectors at sf0.1, so AQE's byte-based
    # coalescing folds the post-shuffle pair stage — which carries
    # every interpreted cosine fold — onto 1-2 cores. The hash
    # exchange doubles as the join's exchange (no extra shuffle); with
    # 2^SIGN_BITS buckets the effective parallelism is
    # min(cores, 16) here and full at production SIGN_BITS.
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("bucket", _sign_bucket(F.col("embedding")))
        .withColumn("nrm", _norm(F.col("embedding")))
        .repartition(
            spark.sparkContext.defaultParallelism, "bucket"
        )
    )
    a = emb.alias("a")
    b = emb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                _dot(F.col("a.embedding"), F.col("b.embedding"))
                / (F.col("a.nrm") * F.col("b.nrm")),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= NEAR_DUP_THRESHOLD)
        .orderBy(F.desc("cosine_sim"), F.asc("vec_a"), F.asc("vec_b"))
    )


EMBEDDING_NEAR_DUP_SQL = rf"""
WITH emb AS (
    SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
    FROM embeddings
),
pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cosine_sim
    FROM emb a JOIN emb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine_sim
FROM pairs WHERE cosine_sim >= {NEAR_DUP_THRESHOLD}
ORDER BY cosine_sim DESC, vec_a ASC, vec_b ASC
"""


def ann_sign_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH: each query searches its own bucket PLUS
    every bucket at Hamming distance 1 (one sign bit flipped) —
    SIGN_BITS+1 probes. This is the standard recall knob for LSH:
    candidate volume grows linearly with probes while recall climbs
    steeply, because near neighbors that straddle one quantization
    boundary land exactly one bit away. Plan shape is unchanged from
    the single-probe tier — the probe list is still a broadcast-sized
    (queries × probes) table and the join still keys on bucket.
    """
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", _sign_bucket(F.col("embedding"))
    )
    queries = _query_rows(emb).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    probe_arr = F.array(
        F.col("q_bucket"),
        *[F.col("q_bucket").bitwiseXOR(F.lit(2 ** i)) for i in range(SIGN_BITS)],
    )
    probes = queries.select(
        "query_id", "q_emb", F.explode(probe_arr).alias("probe_bucket")
    )
    pairs = (
        emb.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("probe_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("q_emb"), F.col("embedding")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def _multiprobe_oracle() -> str:
    probe_selects = ["SELECT query_id, q_emb, q_bucket AS probe_bucket FROM q"]
    for i in range(SIGN_BITS):
        probe_selects.append(
            f"SELECT query_id, q_emb, xor(q_bucket, {2 ** i}) FROM q"
        )
    probes = "\nUNION ALL\n".join(probe_selects)
    return rf"""
WITH emb AS (
    SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
    FROM embeddings
),
q AS (
    SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket
    FROM emb WHERE vec_id IN {_QUERY_IDS_SQL}
),
probes AS (
{probes}
),
pairs AS (
    SELECT p.query_id,
           e.vec_id AS neighbor_id,
           round({cosine_sql('p.q_emb', 'e.embedding')}, 6) AS cosine_sim
    FROM emb e JOIN probes p
      ON e.bucket = p.probe_bucket AND e.vec_id != p.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
    FROM pairs
)
SELECT query_id, neighbor_id, cosine_sim, rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


ANN_SIGN_LSH_MULTIPROBE_SQL = _multiprobe_oracle()


def build_ivf_index(
    spark: SparkSession, sf_dir: str, table_name: str = "ivf_index"
) -> list[list[float]]:
    """Persist the IVF inverted file as a catalog table bucketed on
    the cluster id.

    Build once, search many: the one-scan centroid assignment runs at
    index-build time and the table is bucketed by cluster, so every
    subsequent search's candidate lookup is a bucket-pruned read with
    no shuffle and no re-assignment. This is the deployment shape of
    ANN on Spark — index maintenance is a batch job, searches are
    cheap. Returns the centroid vectors (the search-time "model").
    """
    from parquet_extractor_spark.sinks.dataset import write_bucketed

    cents = _centroid_vectors(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _assigned_cells(spark, emb, cents)
    write_bucketed(
        # nrm/_sims are assignment-time intermediates, not index schema
        assigned.drop("nrm", "_sims"), table_name, ["cluster"],
        n_buckets=NUM_CENTROIDS,
    )
    return cents


def search_ivf_index(
    spark: SparkSession,
    query_vectors: list[tuple[int, list[float]]],
    centroids: list[list[float]],
    table_name: str = "ivf_index",
    top_k: int = TOP_K,
    nprobe: int = NPROBE,
) -> DataFrame:
    """Search a persisted IVF index for arbitrary query vectors.

    Queries are plan-time literals (the online-serving shape: a small
    batch of vectors against a big static index); the probed clusters
    prune to their buckets on read.
    """
    import math

    rows = []
    for qid, vec in query_vectors:
        scored = []
        for cid, c in enumerate(centroids):
            dot = sum(float(a) * float(b) for a, b in zip(vec, c))
            na = math.sqrt(sum(float(a) ** 2 for a in vec))
            nb = math.sqrt(sum(float(b) ** 2 for b in c))
            scored.append((round(dot / (na * nb), 9), -cid))
        scored.sort(reverse=True)
        for sim, neg_cid in scored[:nprobe]:
            rows.append((qid, vec, -neg_cid))
    probes = local_frame(
        spark,
        rows, "query_id long, q_emb array<float>, probe_cluster int"
    )
    index = spark.table(table_name)
    pairs = index.join(
        F.broadcast(probes),
        (F.col("cluster") == F.col("probe_cluster"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("q_emb"), F.col("embedding")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= top_k)
        .orderBy("query_id", "rank")
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors — the building
    block of IVF training, k-means steps, and class prototypes.

    Distributed shape: posexplode to (label, dim, value) rows so the
    mean is a partial+final hash-agg per (label, dim) — dimension-wise
    parallel, no per-group vector materialization until the final
    re-assembly (sort_array over 64 (dim, avg) structs per label).
    The shuffle carries one row per (label, dim): bounded by
    n_labels × dim, independent of vector count."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    per_dim = exploded.groupBy("label", "dim").agg(
        F.avg(F.col("v").cast("double")).alias("m"),
        F.count("*").alias("n"),
    )
    # The centroid is serialized as a comma-joined string of micro-int
    # components (floor(m*1e6 + 0.5): the same deterministic half-up
    # rule embedding_norm_stats uses) — scalar output keeps the result
    # sortable/hashable by any downstream consumer, and the value is
    # engine-independent (no float-to-string formatting divergence).
    return (
        per_dim.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "m"))),
                    lambda s: F.floor(s["m"] * F.lit(1e6) + F.lit(0.5))
                    .cast("bigint")
                    .cast("string"),
                ),
            ).alias("centroid_micro"),
        )
        .orderBy("label")
    )


LABEL_CENTROIDS_SQL = r"""
WITH exploded AS (
    SELECT label,
           unnest(generate_series(0, len(embedding) - 1)) AS dim,
           unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
    FROM embeddings
),
per_dim AS (
    SELECT label, dim, avg(v) AS m, count(*) AS n
    FROM exploded GROUP BY 1, 2
)
SELECT label,
       max(n) AS n_vecs,
       string_agg(CAST(CAST(floor(m * 1000000 + 0.5) AS BIGINT) AS VARCHAR),
                  ',' ORDER BY dim) AS centroid_micro
FROM per_dim
GROUP BY label
ORDER BY label
"""


OUTLIER_TOP_K = 5


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label distance outliers: the embedding-space anomaly filter
    (mislabeled / poisoned / off-distribution vectors surface as the
    members farthest from their label's centroid — the screening step
    a curation pipeline runs before trusting labels or clusters).

    Shape: the label centroids are a k×d aggregate collected as
    plan-time literals (the kmeans_refine precedent — constant-size
    driver traffic), each vector's squared distance to ITS label's
    centroid is a map-side CASE dispatch in exact integer micro-units
    (per-dim terms rounded then floored BEFORE the sum, so the total
    is order-independent), and the only shuffle is the per-label
    top-k window. Centroid components round to 1e-6 before the
    distance — the same measure-zero avg-boundary caveat
    kmeans_refine documents.
    Output: (label, vec_id, dist_micro, rank), OUTLIER_TOP_K per label.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("cv"))
        .collect()
    )
    by_label: dict[int, dict[int, float]] = {}
    for r in cent_rows:
        by_label.setdefault(int(r.label), {})[int(r.dim)] = float(r.cv)
    cents = [
        (lab, [dims[d] for d in sorted(dims)])
        for lab, dims in sorted(by_label.items())
    ]
    sub = "transform(embedding, x -> CAST(x AS DOUBLE))"
    whens = " ".join(
        f"WHEN label = {lab} THEN {_sqdist_micro_sql(sub, vec)}"
        for lab, vec in cents
    )
    w = Window.partitionBy("label").orderBy(
        F.desc("dist_micro"), F.asc("vec_id")
    )
    return (
        emb.select(
            "label", "vec_id", F.expr(f"CASE {whens} END").alias("dist_micro")
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= OUTLIER_TOP_K)
        .orderBy("label", "rank")
    )


EMBEDDING_OUTLIERS_SQL = rf"""
WITH cent AS (
    SELECT label, dim,
           round(avg(CAST(embedding[dim] AS DOUBLE)), 6) AS cv
    FROM embeddings CROSS JOIN range(1, 65) t(dim)
    GROUP BY label, dim
),
cvec AS (
    SELECT label, list(cv ORDER BY dim) AS c FROM cent GROUP BY label
),
d AS (
    SELECT e.label, e.vec_id,
           CAST(list_sum(list_transform(range(1, 65), i ->
               CAST(floor(round(
                   (CAST(e.embedding[i] AS DOUBLE) - c.c[i])
                   * (CAST(e.embedding[i] AS DOUBLE) - c.c[i]), 9)
                   * 1000000.0 + 0.5) AS BIGINT))) AS BIGINT) AS dist_micro
    FROM embeddings e JOIN cvec c USING (label)
),
ranked AS (
    SELECT label, vec_id, dist_micro,
           row_number() OVER (PARTITION BY label
                              ORDER BY dist_micro DESC, vec_id ASC) AS rank
    FROM d
)
SELECT label, vec_id, dist_micro, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {OUTLIER_TOP_K}
ORDER BY label, rank
"""


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector hygiene + int8 quantization plumbing: per-vector L2
    norm, max-abs scale, and a checksum of the symmetric-int8
    quantized vector (floor(v·127/maxabs + 0.5) — floor is used
    instead of round() so both engines share one deterministic
    half-up rule). Pure codegen'd array expressions, zero shuffle —
    the quantized form is what a 100 TB ANN index would persist (4×
    smaller than float32, SIMD-friendly)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Stage the cast vector and its max-abs as their own projections
    # (r13, guide §1.2): inlined, the maxabs expression sat INSIDE the
    # quantization lambda and was re-evaluated for every ELEMENT —
    # O(dim²) interpreted fold work per row (the HOFs are
    # CodegenFallback) — and the cast vector itself was re-derived by
    # each of the three output expressions. Same arithmetic per
    # element, so every output value is unchanged.
    vec = F.transform("embedding", lambda x: x.cast("double"))
    staged = emb.select("vec_id", vec.alias("v")).select(
        "vec_id",
        "v",
        F.array_max(F.transform("v", F.abs)).alias("ma"),
    )
    quant = F.transform(
        "v", lambda x: F.floor(x * F.lit(127.0) / F.col("ma") + F.lit(0.5))
    )
    return staged.select(
        "vec_id",
        F.round(_norm(F.col("v")), 6).alias("l2_norm"),
        F.round(F.col("ma"), 6).alias("max_abs"),
        F.aggregate(quant, F.lit(0).cast("bigint"), lambda a, v: a + v)
        .alias("quant_checksum"),
    ).orderBy("vec_id")


EMBEDDING_NORM_STATS_SQL = r"""
WITH v AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
    FROM embeddings
),
m AS (
    SELECT vec_id, vec,
           list_max(list_transform(vec, x -> abs(x))) AS maxabs
    FROM v
)
SELECT vec_id,
       round(sqrt(list_aggregate(list_transform(vec, x -> x * x), 'sum')), 6)
           AS l2_norm,
       round(maxabs, 6) AS max_abs,
       CAST(list_aggregate(list_transform(
            vec, x -> floor(x * 127.0 / maxabs + 0.5)), 'sum') AS BIGINT)
           AS quant_checksum
FROM m
ORDER BY vec_id
"""


def embedding_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-embedding consistency gate: split the vectors of each label
    into two deterministic halves (portable vec_id hash — the stand-in
    for "the previous embedding run" vs "this run"), compare the
    halves' centroids and mean norms. A healthy, stationary embedding
    space shows near-1 centroid cosine per label; a model swap,
    tokenizer change, or normalization bug shows up as a cosine drop
    or a norm shift — BEFORE any downstream ANN index is rebuilt
    against mixed-vintage vectors.

    Determinism across engines: per-dim means are rounded to integer
    micro-units FIRST (the label_centroids half-up rule), so the
    dot/norm arithmetic runs on identical bigint inputs in Spark and
    DuckDB (64 products of ≤~1e6-scale ints stay exact in 53-bit
    doubles); mean L2 norms use the embedding_norm_stats recipe.

    Scale shape: one posexplode → ONE partial+final agg keyed
    (label, run, dim) — shuffle bounded by labels × 2 × dim, never by
    vector count; the halves join 1-row-per-(label,run) frames. The
    norm pass is a zero-join map + tiny agg.

    Output: (label, n_a, n_b, centroid_cos_micro, mean_norm_a_micro,
    mean_norm_b_micro).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    run = F.when(
        portable_hash64(F.col("vec_id").cast("string")) % 2 == 0, "a"
    ).otherwise("b")
    base = emb.select("label", "embedding", run.alias("run"))
    per_dim = (
        base.select("label", "run", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "run", "dim")
        .agg(
            F.avg(F.col("v").cast("double")).alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    cent = per_dim.groupBy("label", "run").agg(
        F.max("n").cast("bigint").alias("n_vecs"),
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "dim",
                        F.floor(F.col("m") * F.lit(1e6) + F.lit(0.5))
                        .cast("bigint")
                        .alias("mi"),
                    )
                )
            ),
            lambda s: s["mi"],
        ).alias("c"),
    )
    dot = lambda x, y: F.aggregate(  # noqa: E731 — exact bigint fold
        F.zip_with(x, y, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    # materialize: `cent` is referenced by BOTH run halves, so
    # unmaterialized the posexplode + two-agg pipeline executes twice
    # (r13; the r12 multi-reference persist pattern, guide §5). The
    # frame is labels × 2 rows.
    cent = materialize(cent)
    a, b = cent.where(F.col("run") == "a"), cent.where(F.col("run") == "b")
    pair = a.alias("a").join(b.alias("b"), "label")
    cos = dot(F.col("a.c"), F.col("b.c")).cast("double") / (
        F.sqrt(dot(F.col("a.c"), F.col("a.c")).cast("double"))
        * F.sqrt(dot(F.col("b.c"), F.col("b.c")).cast("double"))
    )
    cents = pair.select(
        "label",
        F.col("a.n_vecs").alias("n_a"),
        F.col("b.n_vecs").alias("n_b"),
        F.floor(cos * F.lit(1e6) + F.lit(0.5))
        .cast("bigint")
        .alias("centroid_cos_micro"),
    )
    vec = F.transform("embedding", lambda x: x.cast("double"))
    norms = (
        base.select("label", "run", _norm(vec).alias("l2"))
        .groupBy("label", "run")
        .agg(
            F.floor(F.avg("l2") * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
            .alias("mn")
        )
    )
    # same double-reference shape as `cent`: labels × 2 rows
    norms = materialize(norms)
    na = norms.where(F.col("run") == "a").select(
        "label", F.col("mn").alias("mean_norm_a_micro")
    )
    nb = norms.where(F.col("run") == "b").select(
        "label", F.col("mn").alias("mean_norm_b_micro")
    )
    return (
        cents.join(na, "label").join(nb, "label").orderBy("label")
    )


EMBEDDING_DRIFT_AUDIT_SQL = rf"""
WITH base AS (
    SELECT label, embedding,
           CASE WHEN {portable_hash64_sql('CAST(vec_id AS VARCHAR)')} % 2 = 0
                THEN 'a' ELSE 'b' END AS run
    FROM embeddings
),
exploded AS (
    SELECT label, run,
           unnest(generate_series(0, len(embedding) - 1)) AS dim,
           unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
    FROM base
),
per_dim AS (
    SELECT label, run, dim, avg(v) AS m, count(*) AS n
    FROM exploded GROUP BY 1, 2, 3
),
cent AS (
    SELECT label, run, CAST(max(n) AS BIGINT) AS n_vecs,
           list(CAST(floor(m * 1000000 + 0.5) AS BIGINT) ORDER BY dim) AS c
    FROM per_dim GROUP BY 1, 2
),
pair AS (
    SELECT a.label, a.n_vecs AS n_a, b.n_vecs AS n_b,
           list_aggregate(list_transform(
               range(1, len(a.c) + 1), i -> a.c[i] * b.c[i]), 'sum')
               AS dab,
           list_aggregate(list_transform(a.c, x -> x * x), 'sum') AS daa,
           list_aggregate(list_transform(b.c, x -> x * x), 'sum') AS dbb
    FROM cent a JOIN cent b ON a.label = b.label
    WHERE a.run = 'a' AND b.run = 'b'
),
cents AS (
    SELECT label, n_a, n_b,
           CAST(floor(CAST(dab AS DOUBLE)
                / (sqrt(CAST(daa AS DOUBLE)) * sqrt(CAST(dbb AS DOUBLE)))
                * 1000000 + 0.5) AS BIGINT) AS centroid_cos_micro
    FROM pair
),
norms AS (
    SELECT label, run,
           CAST(floor(avg(sqrt(list_aggregate(list_transform(
                list_transform(embedding, x -> CAST(x AS DOUBLE)),
                x -> x * x), 'sum'))) * 1000000 + 0.5) AS BIGINT) AS mn
    FROM base GROUP BY 1, 2
)
SELECT c.label, c.n_a, c.n_b, c.centroid_cos_micro,
       na.mn AS mean_norm_a_micro, nb.mn AS mean_norm_b_micro
FROM cents c
JOIN norms na ON na.label = c.label AND na.run = 'a'
JOIN norms nb ON nb.label = c.label AND nb.run = 'b'
ORDER BY c.label
"""


def embedding_similarity_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Threshold-calibration histogram: the distribution of cosine
    similarity between UNRELATED vector pairs — the number an ANN
    operator reads before picking a near-dup cutoff (a threshold must
    sit far right of this background distribution's mass; the planted
    near-dup pairs live near 1.0).

    Pairing is deterministic and shuffle-cheap: each vector pairs
    with vec_id+1 (one equi-join on the id — adjacent ids carry no
    semantic relation in the fixture, so the pairs sample the
    background). Cosines bin at 0.05 width via half-up micro rounding
    BEFORE the bin floor, so both engines bin identically even when a
    cosine lands near a bin edge. Output: (bin_low_micro, n_pairs,
    avg_cos_micro), one partial+final agg over ≤20 bins.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    a, b = emb.alias("a"), emb.alias("b")
    pairs = a.join(
        b, F.col("b.vec_id") == F.col("a.vec_id") + 1
    ).select(
        cosine(
            F.col("a.embedding").cast("array<double>"),
            F.col("b.embedding").cast("array<double>"),
        ).alias("cos")
    )
    cos_micro = F.floor(F.col("cos") * F.lit(1e6) + F.lit(0.5)).cast(
        "bigint"
    )
    binned = pairs.select(cos_micro.alias("cm")).select(
        F.expr("(cm div 50000) * 50000").cast("bigint").alias(
            "bin_micro"
        ),
        "cm",
    )
    return (
        binned.groupBy("bin_micro")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.expr("sum(cm) div count(1)").cast("bigint").alias(
                "avg_cos_micro"
            ),
        )
        .orderBy("bin_micro")
    )


EMBEDDING_SIMILARITY_HISTOGRAM_SQL = """
WITH pairs AS (
    SELECT CAST(floor(
        list_aggregate(list_transform(
            list_zip(a.embedding, b.embedding),
            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
        / (sqrt(list_aggregate(list_transform(a.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
         * sqrt(list_aggregate(list_transform(b.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
        * 1000000 + 0.5) AS BIGINT) AS cm
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
)
SELECT CAST((cm // 50000) * 50000 AS BIGINT) AS bin_micro,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(cm) // count(*) AS BIGINT) AS avg_cos_micro
FROM pairs
GROUP BY 1
ORDER BY bin_micro
"""


def _sqdist_lit_sql_expr(a: str, vec: list[float]) -> str:
    """Σ (a_i-b_i)² against a literal vector — SQL-text twin of the
    zip_with/aggregate double fold (same tree, one F.expr call)."""
    b = _vec_lit_sql(vec)
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
        f"* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations of k-means over the embeddings
    (k = NUM_CENTROIDS, seeded with the same first-k vectors ann_ivf
    uses): assign → recompute means → reassign → per-cluster size and
    mean squared distance. This is the quality path for the IVF
    coarse quantizer — refined cells give tighter candidate lists at
    the same NPROBE.

    Distributed shape per iteration: assignment is a MAP-SIDE argmin
    over k codegen'd squared-distance expressions against plan-time
    literal centroids (zero shuffle — the same trick as ann_ivf);
    the mean recompute is one posexplode + partial+final avg keyed by
    (cluster, dim) — shuffle rows = k × dim, independent of corpus
    size; the refined centroids (k × dim doubles, a few KB) come back
    to the driver to become the next iteration's literals. That
    per-iteration driver hop is the standard k-means sync point — at
    100 TB it is k·dim·8 bytes, not data.

    Cross-engine determinism: distances round(9) before argmin (ties
    break toward the lower cluster id), recomputed centroid
    coordinates round(6), output mean-squared-distance round(4) —
    each rounding absorbs partial-sum reorder jitter at that stage.
    """
    # repartition once: both Lloyd assignment passes fan k distance
    # expressions over every row, and a 1-2 partition parquet read
    # would serialize them (the r04 lesson)
    emb = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )

    def argmin_cluster(cents: list[tuple[int, list[float]]]) -> tuple[Column, Column]:
        dists = [
            F.expr(f"round({_sqdist_lit_sql_expr('embedding', c)}, 9)")
            for _cid, c in cents
        ]
        arr = F.array(*dists)
        pos = F.array_position(arr, F.array_min(arr)).cast("int")
        cid_arr = F.array(*[F.lit(cid) for cid, _c in cents])
        return (
            F.element_at(cid_arr, pos).cast("bigint"),
            F.element_at(arr, pos),
        )

    cents0 = list(enumerate(_centroid_vectors(spark, sf_dir)))

    def train_cents1() -> list[tuple[int, list[float]]]:
        c1, _d1 = argmin_cluster(cents0)
        a1 = emb.withColumn("cluster", c1)
        refined_rows = (
            a1.select(
                "cluster", F.posexplode("embedding").alias("dim", "v")
            )
            .groupBy("cluster", "dim")
            .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("cv"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in refined_rows:
            by_cluster.setdefault(int(r.cluster), {})[int(r.dim)] = float(
                r.cv
            )
        return [
            (cid, [dims[d] for d in sorted(dims)])
            for cid, dims in sorted(by_cluster.items())
        ]

    # the iteration-1 centroids are a deterministic training product
    # (seeded assignment, rounded means) — memoized so the refined
    # quantizer is trained once per dataset + code version (disk-
    # persisted), not once per query or JVM
    from parquet_extractor_spark.store import memo_artifact

    cents1 = memo_artifact(
        spark, sf_dir, "kmeans_cents1", train_cents1
    )

    c2, d2 = argmin_cluster(cents1)
    return (
        emb.select(c2.alias("cluster"), d2.alias("d"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("d"), 4).alias("avg_sqdist"),
        )
        .orderBy("cluster")
    )


def _sqdist_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
    )


KMEANS_REFINE_SQL = rf"""
WITH cent0 AS (
    -- cid = seed RANK (not vec_id): matches the Spark side's
    -- enumerate() cluster labels even if vec_ids are sparse
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
           embedding AS c
    FROM (SELECT vec_id, embedding FROM embeddings
          ORDER BY vec_id LIMIT {NUM_CENTROIDS})
),
d1 AS (
    SELECT e.vec_id, e.embedding, c.cid,
           round({_sqdist_sql('e.embedding', 'c.c')}, 9) AS d
    FROM embeddings e CROSS JOIN cent0 c
),
a1 AS (
    SELECT vec_id, embedding, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d, cid) AS rn
        FROM d1
    ) WHERE rn = 1
),
cent1 AS (
    SELECT cid, dim, round(avg(CAST(embedding[dim] AS DOUBLE)), 6) AS cv
    FROM a1 CROSS JOIN range(1, 65) t(dim)
    GROUP BY cid, dim
),
cent1v AS (
    SELECT cid, list(cv ORDER BY dim) AS c FROM cent1 GROUP BY cid
),
d2 AS (
    SELECT e.vec_id, c.cid,
           round({_sqdist_sql('e.embedding', 'c.c')}, 9) AS d
    FROM embeddings e CROSS JOIN cent1v c
),
a2 AS (
    SELECT vec_id, cid, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d, cid) AS rn
        FROM d2
    ) WHERE rn = 1
)
SELECT cid AS cluster, count(*) AS n_vectors, round(avg(d), 4) AS avg_sqdist
FROM a2
GROUP BY cid
ORDER BY cluster
"""


PQ_M = 8  # subspaces
PQ_SUBDIM = 8  # dims per subspace (PQ_M * PQ_SUBDIM = embedding dim)
PQ_K = 8  # codewords per subspace (seeded from vec_id < PQ_K)
# The TRAINED variant quantizes finer: 16 codewords per subspace
# (production PQ uses 256; the fixture's 500 vectors support 16
# without starving cells). Bootstrap queries stay at PQ_K=8 so the
# recall_eval comparison isolates training+capacity vs the seeds.
PQ_K_REFINED = 16


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: the compression half of an IVF-PQ index.

    Each 64-dim vector is split into PQ_M subvectors; each subvector
    is assigned the nearest of PQ_K codewords (squared L2), giving an
    8-byte code per vector — the memory trick that lets a 100 TB
    embedding corpus live in RAM-scale ANN indexes (Jégou et al.,
    IEEE TPAMI 2011 — public PQ formulation).

    Codebooks here are seeded from the first PQ_K vectors' (by vec_id)
    subvectors — the same deterministic bootstrap ann_ivf uses for its
    centroids; a production build replaces them with per-subspace
    k-means, i.e. kmeans_refine run per slice. Assignment is map-side
    only: PQ_M × PQ_K codegen'd distance expressions against plan-time
    literal codewords — no shuffle, no Python, the whole operator is
    one scan. Output: (vec_id, pq_code "c0,...,c7" where each c is the
    SEED ROW's vec_id, recon_err_micro = sum of per-subspace min
    distances in integer micro-units — each distance is snapped to
    micro-ints BEFORE the 8-way sum, because a double sum's rounding
    depends on addition order and DuckDB's GROUP BY aggregation order
    differs from Spark's left-to-right chain; the sf0.001 sweep caught
    exactly that one-ulp round(6) boundary flip). Ties break toward
    the lower codeword vec_id, mirrored in the oracle.
    """
    seeds = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(PQ_K)
        .collect()
    )
    if not seeds:
        raise ValueError("pq_codes: embeddings table is empty, no codebook")
    seed_ids = [str(int(r.vec_id)) for r in seeds]
    books = [
        [
            [float(x) for x in r.embedding[s * PQ_SUBDIM:(s + 1) * PQ_SUBDIM]]
            for r in seeds
        ]
        for s in range(PQ_M)
    ]

    emb = load_table(spark, sf_dir, "embeddings")
    # Stage the per-subspace distance arrays as named columns so each
    # (PQ_K fold expressions) is evaluated ONCE per row — the min,
    # argmin, and error projections below reference the column instead
    # of re-deriving the folds (Catalyst doesn't CSE across them).
    # r13: the codebook arrives as DATA via _cross_const (one ~KB
    # broadcast) instead of PQ_M × PQ_K inlined literal arrays; the
    # fold inside the lambda is byte-identical, so distances (and
    # hence codes and recon_err_micro) are unchanged.
    emb = _cross_const(
        emb, "_books", books, "array<array<array<double>>>"
    )
    dist_cols = []
    for s in range(PQ_M):
        sub = (
            f"transform(slice(embedding, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM}), "
            f"x -> CAST(x AS DOUBLE))"
        )
        dist_cols.append(
            F.expr(
                f"transform(element_at(_books, {s + 1}), cw -> "
                f"round(aggregate(zip_with({sub}, cw, "
                f"(x, y) -> (x - y) * (x - y)), "
                f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 9))"
            ).alias(f"d{s}")
        )
    staged = emb.select("vec_id", *dist_cols)

    seed_arr = F.array(*[F.lit(sid) for sid in seed_ids])
    codes, errs = [], []
    for s in range(PQ_M):
        dists = F.col(f"d{s}")
        best = F.array_min(dists)
        # array_position is 1-based and returns the FIRST match, i.e.
        # the lowest seed index = lowest seed vec_id (seeds are sorted)
        codes.append(
            F.element_at(seed_arr, F.array_position(dists, best).cast("int"))
        )
        errs.append(
            F.floor(best * F.lit(1e6) + F.lit(0.5)).cast("bigint")
        )
    recon = errs[0]
    for e in errs[1:]:
        recon = recon + e
    return (
        staged.select(
            "vec_id",
            F.concat_ws(",", *codes).alias("pq_code"),
            recon.cast("bigint").alias("recon_err_micro"),
        )
        .orderBy("vec_id")
    )


PQ_CODES_SQL = rf"""
WITH cw AS (
    SELECT vec_id AS k, embedding AS c
    FROM (SELECT vec_id, embedding FROM embeddings
          ORDER BY vec_id LIMIT {PQ_K})
),
sub AS (
    SELECT e.vec_id, s.s, c.k,
           round(list_sum(list_transform(range(1, {PQ_SUBDIM} + 1), i ->
               pow(CAST(e.embedding[s.s * {PQ_SUBDIM} + i] AS DOUBLE)
                   - CAST(c.c[s.s * {PQ_SUBDIM} + i] AS DOUBLE), 2))), 9)
               AS dist
    FROM embeddings e
    CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS s) s
    CROSS JOIN cw c
),
best AS (
    SELECT vec_id, s, min(dist) AS mind FROM sub GROUP BY 1, 2
),
codes AS (
    SELECT b.vec_id, b.s, b.mind, min(d.k) AS code
    FROM best b JOIN sub d
      ON d.vec_id = b.vec_id AND d.s = b.s AND d.dist = b.mind
    GROUP BY 1, 2, 3
)
SELECT vec_id,
       string_agg(CAST(code AS VARCHAR), ',' ORDER BY s) AS pq_code,
       CAST(sum(CAST(floor(mind * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS recon_err_micro
FROM codes
GROUP BY vec_id
ORDER BY vec_id
"""


# Centroids, PQ seeds (both book sizes) and the query set are all
# prefixes of the same vec_id ordering: one artifact of HEAD_K rows
# serves them, and each caller slices it.
HEAD_K = max(NUM_CENTROIDS, PQ_K, PQ_K_REFINED, N_QUERIES)


def _head_vectors(spark: SparkSession, sf_dir: str) -> list:
    """The first HEAD_K embedding rows by vec_id, collected in one
    driver job and persisted per (data dir, code version) — shared
    across the whole PQ/IVF query family."""
    from parquet_extractor_spark.store import memo_artifact

    def build() -> list:
        rows = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(HEAD_K)
            .collect()
        )
        if not rows:
            raise ValueError("embeddings table is empty")
        return rows

    return memo_artifact(spark, sf_dir, "head_vectors", build)


def _books_from_rows(rows: list, k: int = PQ_K) -> list[list[list[float]]]:
    """Subspace codebooks from seed rows: books[s][k] = seed k's
    subvector for subspace s."""
    return [
        [
            [float(x) for x in r.embedding[s * PQ_SUBDIM:(s + 1) * PQ_SUBDIM]]
            for r in rows[:k]
        ]
        for s in range(PQ_M)
    ]


def _sqdist_micro_sql(sub: str, codeword: list[float]) -> str:
    """Integer micro-unit squared distance: each term rounded to 9
    then floored to micro-ints BEFORE summation, so the total is exact
    and order-independent in Spark, Python, and DuckDB. SQL text so
    the PQ_K × PQ_SUBDIM codeword literals cost one F.expr, not
    hundreds of py4j round-trips."""
    b = _vec_lit_sql(codeword)
    return (
        f"aggregate(zip_with({sub}, {b}, "
        f"(x, y) -> CAST(floor(round((x - y) * (x - y), 9) "
        f"* {_dlit_sql(1e6)} + {_dlit_sql(0.5)}) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _sqdist_micro_lambda_sql(sub: str) -> str:
    """_sqdist_micro_sql with the codeword as the free lambda variable
    ``cw`` (a column of codebook DATA) instead of an inlined literal
    array — same zip_with/aggregate tree, same rounding, bit-identical
    BIGINT sums (r13: the literal codebooks moved into _cross_const
    broadcast columns)."""
    return (
        f"aggregate(zip_with({sub}, cw, "
        f"(x, y) -> CAST(floor(round((x - y) * (x - y), 9) "
        f"* {_dlit_sql(1e6)} + {_dlit_sql(0.5)}) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _pq_sub_sql(s: int) -> str:
    """Subspace s of an embedding as array<double> (SQL text)."""
    return (
        f"transform(slice(embedding, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM}), "
        f"x -> CAST(x AS DOUBLE))"
    )


def _py_sqdist_micro(a: list[float], b: list[float]) -> int:
    import math

    total = 0
    for x, y in zip(a, b):
        term = round((x - y) * (x - y), 9)
        total += int(math.floor(term * 1e6 + 0.5))
    return total


def refined_pq_books(
    spark: SparkSession,
    sf_dir: str,
) -> list[list[list[float]]]:
    """One distributed Lloyd step per subspace: assign every vector's
    subvectors to the nearest bootstrap codeword (map-side integer
    argmin), recompute each codeword as the mean of its assigned
    subvectors (partial+final agg; the collect is the constant-size
    PQ_M x PQ_K_REFINED x PQ_SUBDIM grid of micro-quantized means),
    falling back to the micro-quantized seed for any empty cell. The
    default seeds are the first PQ_K_REFINED vectors' subvectors —
    twice the bootstrap capacity; the r11 recall_eval showed the 8-
    codeword trained book plateaued at 0.28 and the capacity, not the
    single Lloyd step, was the binding constraint (0.36 with 16).

    Micro quantization (floor(mean*1e6+0.5)/1e6) pins the trained
    codebook to 1e-6 resolution in both engines; the residual caveat
    is the float mean itself — partial-agg combine order vs DuckDB's
    sum order can differ in the last ulp, so a mean landing within a
    ulp of a .5-micro boundary could floor differently. That is a
    measure-zero coincidence band (~1e-9 per component) accepted the
    same way label_centroids accepts rounded averages.

    The training is memoized per (data dir, code version):
    ann_ivf_pq_refined and its consumers share one trained codebook
    instead of re-running the Lloyd pass per query."""
    from parquet_extractor_spark.store import memo_artifact

    def build() -> list[list[list[float]]]:
        books = _books_from_rows(_head_vectors(spark, sf_dir), PQ_K_REFINED)
        emb = load_table(spark, sf_dir, "embeddings")

        # ONE scan: stage each subspace's (code, subvector) as columns
        # (the argmin is expensive and multi-referenced, so Catalyst keeps
        # the projection boundary), then fan out (s, code, dim, v) entries
        # from the columns and aggregate. The previous union-of-subspaces
        # form scanned the table PQ_M times. r13: the seed codebook
        # arrives as DATA via _cross_const (same fold per element — codes
        # identical), and the distance arrays get their own projection so
        # the K folds run once per row, not twice.
        emb = _cross_const(emb, "_books", books, "array<array<array<double>>>")
        dist_cols = [
            F.expr(
                f"transform(element_at(_books, {s + 1}), cw -> "
                + _sqdist_micro_lambda_sql(_pq_sub_sql(s))
                + ")"
            ).alias(f"pd{s}")
            for s in range(PQ_M)
        ]
        sub_cols = [
            F.expr(_pq_sub_sql(s)).alias(f"sub{s}") for s in range(PQ_M)
        ]
        pre = emb.select(*dist_cols, *sub_cols)
        staged = pre.select(
            *[
                (
                    F.array_position(
                        F.col(f"pd{s}"), F.array_min(F.col(f"pd{s}"))
                    )
                    - 1
                )
                .cast("int")
                .alias(f"code{s}")
                for s in range(PQ_M)
            ],
            *[F.col(f"sub{s}") for s in range(PQ_M)],
        )

        def _entries(s: int) -> Column:
            def one(i: Column) -> Column:
                return F.struct(
                    F.lit(s).alias("s"),
                    F.col(f"code{s}").alias("code"),
                    i.alias("dim"),
                    F.element_at(F.col(f"sub{s}"), i + 1).alias("v"),
                )

            return F.transform(F.sequence(F.lit(0), F.lit(PQ_SUBDIM - 1)), one)

        all_entries = F.flatten(F.array(*[_entries(s) for s in range(PQ_M)]))
        rows = (
            staged.select(F.explode(all_entries).alias("e"))
            .select("e.s", "e.code", "e.dim", "e.v")
            .groupBy("s", "code", "dim")
            .agg(
                F.floor(F.avg("v") * F.lit(1e6) + F.lit(0.5))
                .cast("bigint")
                .alias("m_micro")
            )
            .collect()
        )
        means = {(r.s, r.code, r.dim): int(r.m_micro) for r in rows}
        import math

        refined = []
        for s in range(PQ_M):
            sk = []
            for k in range(len(books[s])):
                cw = []
                for dim in range(PQ_SUBDIM):
                    if (s, k, dim) in means:
                        cw.append(means[(s, k, dim)] / 1e6)
                    else:  # empty cell: micro-quantized seed
                        cw.append(
                            math.floor(books[s][k][dim] * 1e6 + 0.5) / 1e6
                        )
                sk.append(cw)
            refined.append(sk)
        return refined

    return memo_artifact(spark, sf_dir, "refined_pq_books", build)


def _ivf_pq_search(
    spark: SparkSession,
    sf_dir: str,
    cents: list[list[float]],
    books: list[list[list[float]]],
    queries: list,
) -> DataFrame:
    """Shared IVF-PQ search body (used by ann_ivf_pq and
    ann_ivf_pq_refined — one implementation, two codebooks).

    1. Query-side work is driver-computed plan-time literals — probe
       cells (NPROBE nearest centroids per query) and ADC lookup
       tables (per query x subspace: integer micro squared distance
       from the query subvector to each codeword). All bounded:
       N_QUERIES x PQ_M x PQ_K longs.
    2. Candidate-side work is map-side: cell assignment and
       per-subspace code indices are codegen'd argmins over the same
       integer micro distances. A probed-cell join keyed on cluster
       bounds the pairs, and the ADC distance is PQ_M BIGINT table
       lookups summed — the candidate's full vector is never read in
       the scoring expression, which is why a production index stores
       ONLY the 8-byte codes.
    3. The only shuffle is the per-query top-k window.

    All distances are exact integer micro-units (round(term,9) then
    floor to 1e-6 before summation), so sums are order-independent
    and overflow-safe (BIGINT end-to-end) in Spark, Python, and
    DuckDB alike.
    """

    def py_fold_dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def py_norm(a: list[float]) -> float:
        acc = 0.0
        for x in a:
            acc += x * x
        return acc ** 0.5

    probe_rows = []
    adc_tables = {}
    for r in queries:
        q = [float(x) for x in r.embedding]
        sims = [
            round(py_fold_dot(q, c) / (py_norm(q) * py_norm(c)), 9)
            for c in cents
        ]
        order = sorted(range(len(cents)), key=lambda i: (-sims[i], i))
        for cid in order[:NPROBE]:
            probe_rows.append((int(r.vec_id), cid))
        adc_tables[int(r.vec_id)] = [
            [
                _py_sqdist_micro(
                    q[s * PQ_SUBDIM:(s + 1) * PQ_SUBDIM], books[s][k]
                )
                for k in range(len(books[s]))
            ]
            for s in range(PQ_M)
        ]

    emb = load_table(spark, sf_dir, "embeddings")
    base = _assigned_cells(spark, emb, cents).drop("_sims")

    # Codebooks as DATA (one ~KB broadcast via _cross_const), not
    # PQ_M × PQ_K inlined literal arrays (r13: the literal forest made
    # the whole family driver-bound — parse/analyze/codegen of
    # thousands of literal nodes per construction). The fold inside
    # the transform lambda is the exact _sqdist_micro_sql tree, and
    # staging each subspace's distance array as its OWN column makes
    # the K folds run once per row (the inline form embedded them
    # twice, in array_position and array_min).
    base = _cross_const(base, "_books", books, "array<array<array<double>>>")
    dist_cols = [
        F.expr(
            f"transform(element_at(_books, {s + 1}), cw -> "
            + _sqdist_micro_lambda_sql(_pq_sub_sql(s))
            + ")"
        ).alias(f"d{s}")
        for s in range(PQ_M)
    ]
    staged = base.select("vec_id", "cluster", *dist_cols)
    code_cols = [
        (F.array_position(F.col(f"d{s}"), F.array_min(F.col(f"d{s}"))) - 1)
        .cast("int")
        .alias(f"c{s}")
        for s in range(PQ_M)
    ]
    assigned = staged.select("vec_id", "cluster", *code_cols)

    # ADC tables as DATA on the broadcast probe rows (was: a CASE
    # query_id when-chain over N_QUERIES × PQ_M × PQ_K BIGINT
    # literals): each probe row carries its query's PQ_M × PQ_K
    # integer table, and the distance is PQ_M two-level array lookups
    # summed left-to-right — the same BIGINTs in the same order.
    probes = local_frame(
        spark,
        [(qid, cid, adc_tables[qid]) for qid, cid in probe_rows],
        "query_id long, probe_cluster int, adc array<array<bigint>>",
    )
    adc = F.expr(
        " + ".join(
            f"element_at(element_at(adc, {s + 1}), c{s} + 1)"
            for s in range(PQ_M)
        )
    )

    pairs = (
        assigned.join(
            F.broadcast(probes),
            (F.col("cluster") == F.col("probe_cluster"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc.cast("bigint").alias("adc_dist_micro"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist_micro"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search over the deterministic bootstrap codebook: the
    standard billion-scale ANN recipe (Jegou et al. 2011) assembled
    from this module's two halves — IVF cells restrict the candidate
    set, PQ codes + an asymmetric distance computation (ADC) rank
    candidates without touching their full vectors. See
    _ivf_pq_search for the execution shape.
    Output: (query_id, neighbor_id, adc_dist_micro, rank).

    Quality note (measured, pinned in tests): with the PQ_K=8
    bootstrap codebook, recall@5 vs exact L2 is 0.2 on the fixture —
    ~20x random but far below ann_ivf's 0.96, because 8 arbitrary
    seed codewords per subspace quantize coarsely. That gap is
    codebook TRAINING, not plan shape — see ann_ivf_pq_refined.
    """
    head = _head_vectors(spark, sf_dir)
    cents = _centroid_vectors(spark, sf_dir)
    books = _books_from_rows(head)
    return _ivf_pq_search(spark, sf_dir, cents, books, head[:N_QUERIES])


def ann_ivf_pq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search over a TRAINED codebook — the same search as
    ann_ivf_pq with a PQ_K_REFINED=16-codeword book (one distributed
    Lloyd refinement of the first-16-vector seeds, refined_pq_books),
    closing the documented codebook gap on both axes the r11 eval
    exposed: capacity (8 -> 16 codewords) and training. Recall@5 vs
    exact L2 improves 0.2 -> 0.36 on the fixture (pinned in tests)
    with zero change to the search plan — the refined books are still
    plan-time literals and the ADC is still PQ_M table lookups.
    Output: (query_id, neighbor_id, adc_dist_micro, rank).
    """
    cents = _centroid_vectors(spark, sf_dir)
    books = refined_pq_books(spark, sf_dir)
    queries = _head_vectors(spark, sf_dir)[:N_QUERIES]
    return _ivf_pq_search(spark, sf_dir, cents, books, queries)



ANN_IVF_PQ_SQL = rf"""
WITH cent AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
           embedding AS c_emb
    FROM (SELECT vec_id, embedding FROM embeddings
          ORDER BY vec_id LIMIT {NUM_CENTROIDS})
),
cw AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, embedding AS c
    FROM (SELECT vec_id, embedding FROM embeddings
          ORDER BY vec_id LIMIT {PQ_K})
),
scored AS (
    SELECT e.vec_id, e.embedding, c.cid,
           round({cosine_sql('e.embedding', 'c.c_emb')}, 9) AS sim
    FROM embeddings e CROSS JOIN cent c
),
ranked_assign AS (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cid ASC) AS rn
    FROM scored
),
clusters AS (
    SELECT vec_id, cid AS cluster FROM ranked_assign WHERE rn = 1
),
probes AS (
    SELECT vec_id AS query_id, embedding AS q_emb, cid AS probe_cluster
    FROM ranked_assign
    WHERE vec_id IN {_QUERY_IDS_SQL} AND rn <= {NPROBE}
),
subdist AS (
    SELECT e.vec_id, s.s, c.k,
           CAST(list_sum(list_transform(range(1, {PQ_SUBDIM} + 1), i ->
               CAST(floor(round(pow(
                   CAST(e.embedding[s.s * {PQ_SUBDIM} + i] AS DOUBLE)
                   - CAST(c.c[s.s * {PQ_SUBDIM} + i] AS DOUBLE), 2), 9)
                   * 1000000 + 0.5) AS BIGINT))) AS BIGINT) AS dist
    FROM embeddings e
    CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS s) s
    CROSS JOIN cw c
),
best AS (
    SELECT vec_id, s, min(dist) AS mind FROM subdist GROUP BY 1, 2
),
codes AS (
    SELECT b.vec_id, b.s, min(d.k) AS code
    FROM best b JOIN subdist d
      ON d.vec_id = b.vec_id AND d.s = b.s AND d.dist = b.mind
    GROUP BY 1, 2
),
adc AS (
    SELECT p.query_id, v.vec_id AS neighbor_id,
           CAST(sum(CAST(list_sum(list_transform(range(1, {PQ_SUBDIM} + 1), i ->
               CAST(floor(round(pow(
                   CAST(p.q_emb[co.s * {PQ_SUBDIM} + i] AS DOUBLE)
                   - CAST(cw.c[co.s * {PQ_SUBDIM} + i] AS DOUBLE), 2), 9)
                   * 1000000 + 0.5) AS BIGINT))) AS BIGINT)) AS BIGINT)
               AS adc_dist_micro
    FROM clusters v
    JOIN probes p ON v.cluster = p.probe_cluster AND v.vec_id != p.query_id
    JOIN codes co ON co.vec_id = v.vec_id
    JOIN cw ON cw.k = co.code
    GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, neighbor_id, adc_dist_micro,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist_micro ASC, neighbor_id ASC)
               AS rank
    FROM adc
)
SELECT query_id, neighbor_id, adc_dist_micro, rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


ANN_IVF_PQ_REFINED_SQL = rf"""
WITH cent AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
           embedding AS c_emb
    FROM (SELECT vec_id, embedding FROM embeddings
          ORDER BY vec_id LIMIT {NUM_CENTROIDS})
),
cw AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, embedding AS c
    FROM (SELECT vec_id, embedding FROM embeddings
          ORDER BY vec_id LIMIT {PQ_K_REFINED})
),
-- seed assignment (integer micro distances, ties -> lower k)
subdist0 AS (
    SELECT e.vec_id, s.s, c.k,
           CAST(list_sum(list_transform(range(1, {PQ_SUBDIM} + 1), i ->
               CAST(floor(round(pow(
                   CAST(e.embedding[s.s * {PQ_SUBDIM} + i] AS DOUBLE)
                   - CAST(c.c[s.s * {PQ_SUBDIM} + i] AS DOUBLE), 2), 9)
                   * 1000000 + 0.5) AS BIGINT))) AS BIGINT) AS dist
    FROM embeddings e
    CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS s) s
    CROSS JOIN cw c
),
best0 AS (
    SELECT vec_id, s, min(dist) AS mind FROM subdist0 GROUP BY 1, 2
),
codes0 AS (
    SELECT b.vec_id, b.s, min(d.k) AS code
    FROM best0 b JOIN subdist0 d
      ON d.vec_id = b.vec_id AND d.s = b.s AND d.dist = b.mind
    GROUP BY 1, 2
),
-- one Lloyd step: per-(s, code, dim) micro-quantized means
refined_means AS (
    SELECT co.s, co.code AS k, d.i AS dim,
           CAST(floor(avg(CAST(e.embedding[co.s * {PQ_SUBDIM} + d.i] AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS m_micro
    FROM codes0 co
    JOIN embeddings e ON e.vec_id = co.vec_id
    CROSS JOIN (SELECT unnest(range(1, {PQ_SUBDIM} + 1)) AS i) d
    GROUP BY 1, 2, 3
),
-- full (s, k, dim) grid with seed fallback for empty cells
refined AS (
    SELECT g.s, g.k, g.dim,
           coalesce(rm.m_micro,
               CAST(floor(CAST(cw.c[g.s * {PQ_SUBDIM} + g.dim] AS DOUBLE)
                   * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS m
    FROM (SELECT s.s, k.k, d.i AS dim
          FROM (SELECT unnest(range(0, {PQ_M})) AS s) s
          CROSS JOIN (SELECT unnest(range(0, {PQ_K_REFINED})) AS k) k
          CROSS JOIN (SELECT unnest(range(1, {PQ_SUBDIM} + 1)) AS i) d) g
    JOIN cw ON cw.k = g.k
    LEFT JOIN refined_means rm
      ON rm.s = g.s AND rm.k = g.k AND rm.dim = g.dim
),
-- refined assignment of every vector
subdist1 AS (
    SELECT e.vec_id, r.s, r.k,
           CAST(sum(CAST(floor(round(pow(
               CAST(e.embedding[r.s * {PQ_SUBDIM} + r.dim] AS DOUBLE)
               - r.m, 2), 9) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS dist
    FROM embeddings e CROSS JOIN refined r
    GROUP BY 1, 2, 3
),
best1 AS (
    SELECT vec_id, s, min(dist) AS mind FROM subdist1 GROUP BY 1, 2
),
codes1 AS (
    SELECT b.vec_id, b.s, min(d.k) AS code
    FROM best1 b JOIN subdist1 d
      ON d.vec_id = b.vec_id AND d.s = b.s AND d.dist = b.mind
    GROUP BY 1, 2
),
-- IVF side (identical to ann_ivf_pq)
scored AS (
    SELECT e.vec_id, e.embedding, c.cid,
           round({cosine_sql('e.embedding', 'c.c_emb')}, 9) AS sim
    FROM embeddings e CROSS JOIN cent c
),
ranked_assign AS (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cid ASC) AS rn
    FROM scored
),
clusters AS (
    SELECT vec_id, cid AS cluster FROM ranked_assign WHERE rn = 1
),
probes AS (
    SELECT vec_id AS query_id, embedding AS q_emb, cid AS probe_cluster
    FROM ranked_assign
    WHERE vec_id IN {_QUERY_IDS_SQL} AND rn <= {NPROBE}
),
-- ADC against the refined codewords
adc AS (
    SELECT p.query_id, v.vec_id AS neighbor_id,
           CAST(sum(CAST(floor(round(pow(
               CAST(p.q_emb[r.s * {PQ_SUBDIM} + r.dim] AS DOUBLE)
               - r.m, 2), 9) * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS adc_dist_micro
    FROM clusters v
    JOIN probes p ON v.cluster = p.probe_cluster AND v.vec_id != p.query_id
    JOIN codes1 co ON co.vec_id = v.vec_id
    JOIN refined r ON r.s = co.s AND r.k = co.code
    GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, neighbor_id, adc_dist_micro,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist_micro ASC, neighbor_id ASC)
               AS rank
    FROM adc
)
SELECT query_id, neighbor_id, adc_dist_micro, rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# ── semantic decontamination (embedding tier) ───────────────────────
# The embedding-space sibling of contamination.ngram_decontamination:
# benchmark/eval items leak into crawled training data in paraphrased
# form that n-gram overlap misses; cosine similarity against the
# benchmark's embeddings is the published countermeasure (e.g. the
# decontamination appendices of recent LLM reports). The probe set is
# a benchmark SUITE — constant-size by construction in production —
# so the fixture mirrors that: a deterministic subset, hard-capped.
DECON_BENCH_MOD = 41
DECON_MAX_BENCH = 64
DECON_THRESHOLD = 0.35  # same fixture geometry as NEAR_DUP_THRESHOLD


def _decon_bench(emb: DataFrame) -> DataFrame:
    """The pseudo-benchmark probe set: vec_id ≡ 0 (mod 41), capped at
    DECON_MAX_BENCH rows by vec_id order — bounded by construction
    (a real benchmark suite is a fixed artifact, not a slice that
    scales with the corpus), which is what licenses the forced
    broadcast in semantic_decontamination."""
    return (
        emb.filter(F.col("vec_id") % DECON_BENCH_MOD == 0)
        .orderBy("vec_id")
        .limit(DECON_MAX_BENCH)
        .select(
            F.col("vec_id").alias("bench_id"),
            F.col("embedding").alias("b_emb"),
        )
        .withColumn("b_nrm", _norm(F.col("b_emb")))
    )


def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max benchmark-cosine per corpus vector + contaminated flag.

    Plan shape: broadcast the (bounded) probe set, fan out n×|bench|
    rows map-side — one codegen'd dot fold per row, norms precomputed
    on both sides (the semdedup assignment shape) — then one groupBy
    max per vector. No shuffle touches the wide embedding column:
    only (vec_id, label, cosine) scalars reach the aggregation.
    Output: every NON-benchmark vector with its nearest-benchmark
    cosine, flagged at DECON_THRESHOLD. At 100 TB the probe set is
    still one broadcast and the scan is one pass — the same cost as a
    single extra map stage in the curation pipeline.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    bench = _decon_bench(emb)
    base = (
        emb.filter(F.col("vec_id") % DECON_BENCH_MOD != 0)
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("nrm", _norm(F.col("embedding")))
    )
    sim = F.round(
        _dot(F.col("embedding"), F.col("b_emb"))
        / (F.col("nrm") * F.col("b_nrm")),
        6,
    )
    return (
        base.crossJoin(F.broadcast(bench))
        .select("vec_id", "label", sim.alias("sim"))
        .groupBy("vec_id")
        .agg(
            F.any_value("label").alias("label"),
            F.max("sim").alias("max_bench_cosine"),
        )
        .select(
            "vec_id",
            "label",
            "max_bench_cosine",
            (F.col("max_bench_cosine") >= DECON_THRESHOLD).alias(
                "contaminated"
            ),
        )
        .orderBy("vec_id")
    )


SEMANTIC_DECONTAMINATION_SQL = rf"""
WITH bench AS (
    SELECT vec_id AS bench_id, embedding AS b_emb
    FROM embeddings WHERE vec_id % {DECON_BENCH_MOD} = 0
    ORDER BY vec_id LIMIT {DECON_MAX_BENCH}
),
scored AS (
    SELECT e.vec_id, e.label,
           round({cosine_sql('e.embedding', 'b.b_emb')}, 6) AS sim
    FROM embeddings e CROSS JOIN bench b
    WHERE e.vec_id % {DECON_BENCH_MOD} != 0
)
SELECT vec_id,
       CAST(label AS INTEGER) AS label,
       max(sim) AS max_bench_cosine,
       max(sim) >= {DECON_THRESHOLD} AS contaminated
FROM scored
GROUP BY vec_id, label
ORDER BY vec_id
"""


# ── hard-negative mining (contrastive training prep) ────────────────
HARD_NEG_K = 5


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most-similar DIFFERENT-label vectors for each query —
    the standard hard-negative selection step when building
    contrastive/embedding training pairs (high-cosine negatives carry
    the gradient signal; random negatives are trivial).

    Same bounded-query-side BNLJ shape as knn_bruteforce (the ANN
    tiers are the scale path for the full-corpus variant); the label
    inequality is part of the join condition so excluded positives
    never materialize. Output: (query_id, q_label, neighbor_id,
    n_label, cosine_sim, rank ≤ HARD_NEG_K).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _query_rows(emb).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    ).withColumn("q_nrm", _norm(F.col("q_emb")))
    # repartition + precomputed norms: the knn_bruteforce treatment
    # (one fold per pair, full parallelism) — measured 3.3x -> ~1x
    # on the 10x scaling check
    pairs = (
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("nrm", _norm(F.col("embedding")))
        .alias("e")
        .join(F.broadcast(queries), F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            "q_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("n_label"),
            F.round(
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= HARD_NEG_K)
        .orderBy("query_id", "rank")
    )


HARD_NEGATIVE_MINING_SQL = rf"""
WITH q AS (
    SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
    FROM embeddings WHERE vec_id IN {_QUERY_IDS_SQL}
),
pairs AS (
    SELECT q.query_id,
           CAST(q.q_label AS INTEGER) AS q_label,
           e.vec_id AS neighbor_id,
           CAST(e.label AS INTEGER) AS n_label,
           round({cosine_sql('e.embedding', 'q.q_emb')}, 6) AS cosine_sim
    FROM embeddings e JOIN q ON e.label != q.q_label
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine_sim DESC, neighbor_id ASC)
               AS rank
    FROM pairs
)
SELECT query_id, q_label, neighbor_id, n_label, cosine_sim,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {HARD_NEG_K}
ORDER BY query_id, rank
"""


# ── scalar quantization (SQ8) — the third compression family ────────

SQ8_LEVELS = 255  # 8-bit codes: 0..255


def _dim_ranges(
    spark: SparkSession, sf_dir: str
) -> tuple[list[float], list[float]]:
    """Per-dimension (mins, maxs) of the embeddings in one partial+final
    aggregate: the trained model of both SQ8 (the ranges) and BQ (their
    midpoints), persisted per (data dir, code version)."""
    from parquet_extractor_spark.store import memo_artifact

    def build() -> tuple[list[float], list[float]]:
        aggs = []
        for d in range(1, EMB_DIM + 1):
            e = F.element_at("embedding", d).cast("double")
            aggs.append(F.min(e).alias(f"mn{d}"))
            aggs.append(F.max(e).alias(f"mx{d}"))
        row = load_table(spark, sf_dir, "embeddings").agg(*aggs).collect()[0]
        return (
            [float(row[f"mn{d}"]) for d in range(1, EMB_DIM + 1)],
            [float(row[f"mx{d}"]) for d in range(1, EMB_DIM + 1)],
        )

    return memo_artifact(spark, sf_dir, "sq8_minmax", build)


def sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (per-dimension) 8-bit quantization of the embedding
    corpus — the third vector-compression family next to PQ
    (pq_codes) and binary sign sketches (ann_sign_lsh), and the form
    FAISS ships as SQ8: each dimension d gets a corpus [min_d, max_d]
    range and every component is snapped to the nearest of 256 evenly
    spaced levels, a 4x memory cut with near-lossless recall.

    Scale shape: pass 1 is ONE partial+final aggregate producing the
    128 per-dimension min/max scalars (constant-size driver hop, the
    kmeans_refine pattern); pass 2 re-enters them as plan-time
    literals, so quantization is a single map-side codegen projection
    — no shuffle, no UDF, no join; the whole operator is two scans at
    any corpus size. Output: (vec_id, sq8_code "c1,...,c64",
    recon_err_micro), with the squared reconstruction error snapped
    to integer micro-units PER DIMENSION before the 64-way sum
    (order-independent integer addition — the pq_codes lesson about
    double-sum rounding divergence between engines).

    Exactness: min/max of the same float32 column widen to identical
    doubles in both engines; the literals re-enter through exact-repr
    CAST('…' AS DOUBLE) strings; the scaled value is snapped with
    round(x, 6) before the +0.5 floor on both sides, mirroring
    SQ8_CODES_SQL term for term.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    mins, maxs = _dim_ranges(spark, sf_dir)

    # one SQL string per projection, not EMB_DIM Column objects — the
    # pq_codes py4j-round-trip lesson. The per-dimension math is a
    # higher-order fold over LITERAL min/span arrays, not EMB_DIM
    # unrolled terms (r12): the unrolled form generated a >64 KB
    # whole-stage method that Janino REFUSED to compile — and because
    # compile failures are not cached, every bench run re-attempted
    # the doomed multi-second compile before falling back to
    # interpreted execution. The fold bodies evaluate the identical
    # expressions per dimension (same exact-repr literals via
    # element_at, same round/floor/pow chain, same left-to-right
    # BIGINT summation), so values are bit-identical.
    mins_sql = "array(" + ",".join(_dlit_sql(m) for m in mins) + ")"
    spans_sql = "array(" + ",".join(
        _dlit_sql(mx - mn) for mn, mx in zip(mins, maxs)
    ) + ")"
    val = "CAST(element_at(embedding, d) AS DOUBLE)"
    mn_d = f"element_at({mins_sql}, d)"
    span_d = f"element_at({spans_sql}, d)"
    code_expr = (
        f"transform(sequence(1, {EMB_DIM}), d -> "
        f"CASE WHEN {span_d} = CAST(0 AS DOUBLE) THEN CAST(0 AS BIGINT) "
        f"ELSE CAST(floor(round(({val} - {mn_d}) * 255.0 / {span_d}, 6)"
        f" + 0.5) AS BIGINT) END)"
    )
    deq = (
        f"({mn_d} + CAST(element_at(codes, d) AS DOUBLE) * "
        f"{span_d} / 255.0)"
    )
    err_expr = (
        f"aggregate(sequence(1, {EMB_DIM}), CAST(0 AS BIGINT), (acc, d) ->"
        f" acc + CAST(floor(round(pow({val} - {deq}, 2), 9) * 1000000.0"
        f" + 0.5) AS BIGINT))"
    )
    staged = emb.selectExpr("vec_id", "embedding", f"{code_expr} AS codes")
    return (
        staged.selectExpr(
            "vec_id",
            "array_join(codes, ',') AS sq8_code",
            f"{err_expr} AS recon_err_micro",
        )
        .orderBy("vec_id")
    )


SQ8_CODES_SQL = f"""
WITH mm AS (
    SELECT u.i AS d,
           min(CAST(e.embedding[u.i] AS DOUBLE)) AS mn,
           max(CAST(e.embedding[u.i] AS DOUBLE)) AS mx
    FROM embeddings e
    CROSS JOIN (SELECT unnest(range(1, {EMB_DIM} + 1)) AS i) u(i)
    GROUP BY 1
),
q AS (
    SELECT e.vec_id, m.d,
           CAST(e.embedding[m.d] AS DOUBLE) AS val, m.mn, m.mx,
           CASE WHEN m.mx = m.mn THEN CAST(0 AS BIGINT) ELSE
               CAST(floor(round((CAST(e.embedding[m.d] AS DOUBLE) - m.mn)
                   * 255.0 / (m.mx - m.mn), 6) + 0.5) AS BIGINT)
           END AS code
    FROM embeddings e CROSS JOIN mm m
),
err AS (
    SELECT vec_id, d, code,
           CAST(floor(round(pow(val - (mn + CAST(code AS DOUBLE)
               * (CASE WHEN mx = mn THEN 0.0 ELSE mx - mn END) / 255.0),
               2), 9) * 1000000.0 + 0.5) AS BIGINT) AS e_micro
    FROM q
)
SELECT vec_id,
       string_agg(CAST(code AS VARCHAR), ',' ORDER BY d) AS sq8_code,
       CAST(sum(e_micro) AS BIGINT) AS recon_err_micro
FROM err
GROUP BY vec_id
ORDER BY vec_id
"""


# ── Matryoshka truncation-recall evaluation ──────────────────────────

# Prefix truncations evaluated against the full dimensionality.
# Kusupati et al. 2022 ("Matryoshka Representation Learning") train
# embeddings whose PREFIXES are themselves usable representations; the
# operational question for a 100 TB retrieval pipeline is "how many
# dims can the first-stage index drop before recall@k degrades" — a
# 4× prefix cut is a 4× shrink of every ANN index and shuffle.
MATRYOSHKA_DIMS = [8, 16, 32, EMB_DIM]


def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of prefix-truncated cosine search vs full-dim search.

    For each probe vector (the knn_bruteforce query set) and each
    prefix length d in MATRYOSHKA_DIMS, rank the corpus by cosine over
    the first d components and measure |top-k(d) ∩ top-k(full)| / k.
    The d = EMB_DIM row is the identity anchor (recall exactly 1.0).

    Plan shape: ONE corpus scan computes all four truncated
    similarities per (probe, candidate) pair inside a single codegen
    stage (slice + the zip_with fold), ``stack`` unpivots to
    (dims, sim) rows, one shuffle ranks per (dims, probe), and the
    k-bounded full-dim top-k broadcasts back for the hit count. Cost
    is the knn_bruteforce scan ×1 (not ×4 — slices share the pass);
    at scale the probe suite stays a broadcast literal and nothing is
    pairwise beyond the bounded-query fan-out.

    Cross-engine determinism: trunc-cosine rounds at 6dp with
    neighbor_id tiebreak (the knn acceptance), hit counts are
    integers, recall is an exact integer ratio rounded at 6dp.
    Output: (dims, n_hits, recall_at_k) one row per prefix length.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # Precompute each side's prefix norms ONCE per row (r13, guide
    # §1.2): inlined, _norm(q-prefix) re-ran per PAIR (it is constant
    # per query) and _norm(candidate-prefix) re-ran per (pair, d) —
    # 12 interpreted folds per pair instead of the 4 dots that
    # actually depend on the pair. Same fold trees, so every rounded
    # sim (and hence every rank and hit count) is unchanged.
    queries = _query_rows(emb).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        *[
            _norm(F.slice(F.col("embedding"), 1, d)).alias(f"qn{d}")
            for d in MATRYOSHKA_DIMS
        ],
    )
    sims = []
    for d in MATRYOSHKA_DIMS:
        qd = F.slice(F.col("q_emb"), 1, d)
        ed = F.slice(F.col("embedding"), 1, d)
        sims.append(
            F.round(
                _dot(qd, ed) / (F.col(f"qn{d}") * F.col(f"en{d}")), 6
            ).alias(f"s{d}")
        )
    pairs = (
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id",
            "embedding",
            *[
                _norm(F.slice(F.col("embedding"), 1, d)).alias(f"en{d}")
                for d in MATRYOSHKA_DIMS
            ],
        )
        .join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), *sims
        )
    )
    stack_args = ", ".join(f"{d}, s{d}" for d in MATRYOSHKA_DIMS)
    long = pairs.select(
        "query_id",
        "neighbor_id",
        F.expr(
            f"stack({len(MATRYOSHKA_DIMS)}, {stack_args}) AS (dims, sim)"
        ),
    )
    w = Window.partitionBy("dims", "query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    topk = long.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOP_K
    )
    full = (
        topk.filter(F.col("dims") == EMB_DIM)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    # left join + conditional sum, NOT leftsemi + count: a prefix
    # length with ZERO hits must still report its row (observed at
    # sf0.1 — dims=8 recall hit exactly 0.0 and the semi-join form
    # silently dropped the group)
    return (
        topk.join(F.broadcast(full), ["query_id", "neighbor_id"], "left")
        .groupBy(F.col("dims").cast("bigint").alias("dims"))
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits")
        )
        .select(
            "dims",
            "n_hits",
            F.round(
                F.col("n_hits") / F.lit(TOP_K * N_QUERIES), 6
            ).alias("recall_at_k"),
        )
        .orderBy("dims")
    )


def _trunc_cos_sql(d: int) -> str:
    """DuckDB trunc-cosine over the first d components — the same
    left-to-right double fold as the Spark slice + zip_with tree."""
    dot = (
        f"list_sum(list_transform(range(1, {d} + 1), "
        f"i -> CAST(q_emb[i] AS DOUBLE) * CAST(emb[i] AS DOUBLE)))"
    )
    qn = (
        f"sqrt(list_sum(list_transform(range(1, {d} + 1), "
        f"i -> CAST(q_emb[i] AS DOUBLE) * CAST(q_emb[i] AS DOUBLE))))"
    )
    en = (
        f"sqrt(list_sum(list_transform(range(1, {d} + 1), "
        f"i -> CAST(emb[i] AS DOUBLE) * CAST(emb[i] AS DOUBLE))))"
    )
    return f"round({dot} / ({qn} * {en}), 6)"


MATRYOSHKA_RECALL_SQL = rf"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS q_emb
    FROM embeddings WHERE vec_id IN {_QUERY_IDS_SQL}
),
pairs AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           e.embedding AS emb, q.q_emb
    FROM embeddings e JOIN q ON e.vec_id != q.query_id
),
long AS (
    {' UNION ALL '.join(
        f"SELECT query_id, neighbor_id, CAST({d} AS BIGINT) AS dims, "
        f"{_trunc_cos_sql(d)} AS sim FROM pairs"
        for d in MATRYOSHKA_DIMS
    )}
),
ranked AS (
    SELECT query_id, neighbor_id, dims,
           row_number() OVER (PARTITION BY dims, query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rank
    FROM long
),
topk AS (SELECT * FROM ranked WHERE rank <= {TOP_K}),
full_set AS (
    SELECT query_id, neighbor_id FROM topk WHERE dims = {EMB_DIM}
)
SELECT t.dims,
       CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM full_set f
                     WHERE f.query_id = t.query_id
                       AND f.neighbor_id = t.neighbor_id)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       round(sum(CASE WHEN EXISTS (SELECT 1 FROM full_set f
                      WHERE f.query_id = t.query_id
                        AND f.neighbor_id = t.neighbor_id)
                 THEN 1 ELSE 0 END)
             / CAST({TOP_K * N_QUERIES} AS DOUBLE), 6) AS recall_at_k
FROM topk t
GROUP BY t.dims
ORDER BY t.dims
"""


# ── Binary quantization (1 bit/dim) + hamming→rerank funnel ──────────

# Rerank pool size: the hamming scan keeps BQ_POOL candidates per
# query, the exact-cosine rerank reads only those full vectors. 4× the
# final k is the classic funnel ratio (FAISS refine / vector-DB BQ
# oversampling default).
BQ_POOL = 4 * TOP_K


def binary_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary quantization eval: 1-bit-per-dimension codes, hamming
    top-k, and the hamming→exact-rerank funnel, each scored against
    exact cosine top-k — the fourth vector-compression family member
    next to PQ (pq_codes), SQ8 (sq8_codes) and prefix truncation
    (matryoshka_recall).

    Training is the SQ8 pattern shrunk to 1 bit: one partial+final
    aggregate yields per-dimension [min, max] and the threshold is the
    range midpoint (min/max are order-independent across engines,
    unlike a mean of doubles — the sq8_codes exactness lesson). Codes
    re-enter as plan-time literals: bit d = (x_d > thr_d), packed
    little-endian into two 32-bit words held in BIGINTs, a 32× memory
    cut vs float32·64 (8 bytes vs 256 per vector).

    Plan shape: code generation is ONE map-side codegen projection (64
    CASE terms summed into two words — integer sums of distinct powers
    of two, order-independent); the broadcast probe suite pairs with
    every corpus vector in the same scan that computes the exact
    cosine ground truth, so the whole eval is one scan + two bounded
    windows. At 100 TB the production path keeps only the 16-byte
    words: the hamming scan is embarrassingly parallel (bit_count(xor)
    per word, whole-stage codegen), the per-query pool is
    BQ_POOL-bounded, and only pool members' full vectors are ever
    re-read for the rerank.

    Output: (stage, n_hits, recall_at_k) for stage ∈
    ('hamming_topk', 'reranked') — hamming-only recall vs the funnel's
    recall, the gap being what the rerank buys.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    thrs = [(mn + mx) / 2.0 for mn, mx in zip(*_dim_ranges(spark, sf_dir))]

    # one SQL string per packed word, not EMB_DIM Column objects — the
    # pq_codes py4j-round-trip lesson
    def word_sql(word: int, col: str = "embedding") -> str:
        terms = []
        for j in range(32):
            d = 32 * word + j + 1
            cond = (
                f"CAST(element_at({col}, {d}) AS DOUBLE) > "
                f"{_dlit_sql(thrs[d - 1])}"
            )
            terms.append(
                f"(CASE WHEN {cond} THEN CAST({1 << j} AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END)"
            )
        return " + ".join(terms)

    coded = emb.selectExpr(
        "vec_id",
        "embedding",
        f"({word_sql(0)}) AS w0",
        f"({word_sql(1)}) AS w1",
    )
    queries = _query_rows(coded).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    pairs = (
        coded.repartition(spark.sparkContext.defaultParallelism)
        .join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("q_emb"), F.col("embedding"))
                / (_norm(F.col("q_emb")) * _norm(F.col("embedding"))),
                6,
            ).alias("sim"),
            F.expr(
                "CAST(bit_count(w0 ^ qw0) + bit_count(w1 ^ qw1) AS BIGINT)"
            ).alias("hamming"),
        )
    )
    w_exact = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    w_ham = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    ranked = pairs.select(
        "query_id",
        "neighbor_id",
        "sim",
        F.row_number().over(w_exact).alias("exact_rank"),
        F.row_number().over(w_ham).alias("ham_rank"),
    )
    exact_topk = ranked.filter(F.col("exact_rank") <= TOP_K).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    pool = ranked.filter(F.col("ham_rank") <= BQ_POOL)
    ham_topk = pool.filter(F.col("ham_rank") <= TOP_K).select(
        F.lit("hamming_topk").alias("stage"), "query_id", "neighbor_id"
    )
    w_rerank = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    reranked = (
        pool.withColumn("rr", F.row_number().over(w_rerank))
        .filter(F.col("rr") <= TOP_K)
        .select(
            F.lit("reranked").alias("stage"), "query_id", "neighbor_id"
        )
    )
    staged = ham_topk.unionByName(reranked)
    # left join + conditional sum, NOT leftsemi + count — the
    # matryoshka_recall zero-hit-group lesson
    return (
        staged.join(
            F.broadcast(exact_topk), ["query_id", "neighbor_id"], "left"
        )
        .groupBy("stage")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits")
        )
        .select(
            "stage",
            "n_hits",
            F.round(
                F.col("n_hits") / F.lit(TOP_K * N_QUERIES), 6
            ).alias("recall_at_k"),
        )
        .orderBy("stage")
    )


def _bq_word_sql(word: int) -> str:
    """DuckDB twin of word_sql: integer sum of distinct powers of two
    over midpoint-threshold bits — order-independent, so GROUP BY
    summation order can't diverge from Spark's left-to-right chain."""
    terms = []
    for j in range(32):
        d = 32 * word + j + 1
        terms.append(
            f"(CASE WHEN CAST(e.embedding[{d}] AS DOUBLE) > m.thr[{d}] "
            f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    return " + ".join(terms)


BINARY_HAMMING_RECALL_SQL = rf"""
WITH mm AS (
    SELECT u.i AS d,
           (min(CAST(e.embedding[u.i] AS DOUBLE))
            + max(CAST(e.embedding[u.i] AS DOUBLE))) / 2.0 AS thr
    FROM embeddings e
    CROSS JOIN (SELECT unnest(range(1, {EMB_DIM} + 1)) AS i) u(i)
    GROUP BY 1
),
thr_vec AS (
    SELECT list(thr ORDER BY d) AS thr FROM mm
),
coded AS (
    SELECT e.vec_id, e.embedding,
           CAST({_bq_word_sql(0)} AS BIGINT) AS w0,
           CAST({_bq_word_sql(1)} AS BIGINT) AS w1
    FROM embeddings e CROSS JOIN thr_vec m
),
q AS (
    SELECT vec_id AS query_id, embedding AS q_emb, w0 AS qw0, w1 AS qw1
    FROM coded WHERE vec_id IN {_QUERY_IDS_SQL}
),
pairs AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           round({cosine_sql('q.q_emb', 'c.embedding')}, 6) AS sim,
           CAST(bit_count(xor(c.w0, q.qw0))
                + bit_count(xor(c.w1, q.qw1)) AS BIGINT) AS hamming
    FROM coded c JOIN q ON c.vec_id != q.query_id
),
ranked AS (
    SELECT query_id, neighbor_id, sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC)
               AS exact_rank,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY hamming ASC, neighbor_id ASC)
               AS ham_rank
    FROM pairs
),
exact_topk AS (
    SELECT query_id, neighbor_id FROM ranked WHERE exact_rank <= {TOP_K}
),
pool AS (SELECT * FROM ranked WHERE ham_rank <= {BQ_POOL}),
staged AS (
    SELECT 'hamming_topk' AS stage, query_id, neighbor_id
    FROM pool WHERE ham_rank <= {TOP_K}
    UNION ALL
    SELECT 'reranked' AS stage, query_id, neighbor_id
    FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id ASC) AS rr
        FROM pool
    ) WHERE rr <= {TOP_K}
)
SELECT s.stage,
       CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM exact_topk x
                     WHERE x.query_id = s.query_id
                       AND x.neighbor_id = s.neighbor_id)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       round(sum(CASE WHEN EXISTS (SELECT 1 FROM exact_topk x
                      WHERE x.query_id = s.query_id
                        AND x.neighbor_id = s.neighbor_id)
                 THEN 1 ELSE 0 END)
             / CAST({TOP_K * N_QUERIES} AS DOUBLE), 6) AS recall_at_k
FROM staged s
GROUP BY s.stage
ORDER BY s.stage
"""


COV_HEAD_DIMS = 16  # covariance over the matryoshka head prefix
# embedding components fold to integer micro units before any product
_COV_SCALE = 1_000_000


def embedding_covariance_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Covariance matrix of the first COV_HEAD_DIMS embedding
    coordinates — the PCA-input profile behind every head-dim
    decision in this family (matryoshka_recall measures recall of
    truncating to the head; this measures WHY it works: how much
    variance the head dims carry and how correlated they are; a
    whitening / OPQ rotation for the PQ coders starts from exactly
    this matrix).

    INTEGER-EXACT: components snap to integer micro units first, so
    the per-pair accumulation Σ e_i·e_j and the centering
    n·Σab − Σa·Σb are exact integer arithmetic (DECIMAL↔HUGEINT — the
    products reach n²·1e12); cov is reported in micro² units via one
    trailing integer div by n². No float ever enters an aggregation.

    Shape for scale: one posexplode to (vec_id, i, e_i) rows limited
    to the head dims, a vec_id-keyed self-join with i ≤ j (fan-out
    d(d+1)/2 = 136 per vector — a constant), and ONE partial+final
    agg to the 136-row triangle. At a billion vectors the shuffle
    carries map-side-combined (i, j) partials, never row pairs.
    """
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    comps = emb.select(
        "vec_id",
        F.posexplode(F.slice("embedding", 1, COV_HEAD_DIMS)).alias(
            "i", "x"
        ),
    ).select(
        "vec_id",
        F.col("i").cast("bigint").alias("i"),
        F.floor(F.col("x").cast("double") * _COV_SCALE)
        .cast("bigint")
        .alias("e"),
    )
    a, b = comps.alias("a"), comps.alias("b")
    pairs = a.join(
        b,
        (F.col("a.vec_id") == F.col("b.vec_id"))
        & (F.col("a.i") <= F.col("b.i")),
    ).select(
        F.col("a.i").alias("i"),
        F.col("b.i").alias("j"),
        F.col("a.e").alias("ea"),
        F.col("b.e").alias("eb"),
    )
    dec = "decimal(38,0)"
    return (
        pairs.groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("ea").cast(dec) * F.col("eb").cast(dec)).alias(
                "_sab"
            ),
            F.sum("ea").cast("bigint").alias("_sa"),
            F.sum("eb").cast("bigint").alias("_sb"),
        )
        .select(
            "i",
            "j",
            "n",
            F.expr(
                f"CAST((CAST(n AS {dec}) * _sab"
                f" - CAST(_sa AS {dec}) * _sb)"
                f" div (CAST(n AS {dec}) * n) AS BIGINT)"
            ).alias("cov_micro2"),
        )
        .orderBy("i", "j")
    )


EMBEDDING_COVARIANCE_PROFILE_SQL = rf"""
WITH comps AS (
    SELECT vec_id,
           CAST(d.i - 1 AS BIGINT) AS i,
           CAST(floor(CAST(embedding[d.i] AS DOUBLE) * {_COV_SCALE})
               AS BIGINT) AS e
    FROM embeddings,
         (SELECT unnest(generate_series(1, {COV_HEAD_DIMS})) AS i) d
)
SELECT a.i, b.i AS j,
       CAST(count(*) AS BIGINT) AS n,
       CAST((CAST(count(*) AS HUGEINT)
               * sum(CAST(a.e AS HUGEINT) * b.e)
             - CAST(sum(a.e) AS HUGEINT) * sum(b.e))
            // (CAST(count(*) AS HUGEINT) * count(*)) AS BIGINT)
           AS cov_micro2
FROM comps a JOIN comps b
  ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
ORDER BY a.i, b.i
"""


def source_centroid_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise cosine between SOURCE centroids in embedding space —
    are two sources semantically distinct populations or the same
    corpus wearing two names? The source-level companion to
    label_centroids (classes) and embedding_drift_audit (time): a
    pair at cos ≈ 1 is a candidate for merged mixing weights, a pair
    far apart justifies separate curation thresholds.

    Determinism: components snap to integer micro units, so the
    per-(source, dim) SUMS are exact integers (no float accumulation
    order anywhere); the cosine of the two integer-sum vectors (the n
    denominators cancel) divides two exact DECIMAL↔HUGEINT dot
    products inside ONE pointwise double expression, round(6).

    Shape for scale: the doc→embedding join is id-keyed; one
    partial+final agg to (source, dim) sums — |sources|×64 rows — and
    the pairwise stage is an EQUI-join on dim over that reduction
    (each dim bucket holds |sources| rows per side), the
    source_length_mannwhitney shape in embedding space.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    joined = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "source", "embedding"
    )
    comps = joined.select(
        "source", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "source",
        F.col("dim").cast("bigint").alias("dim"),
        F.floor(F.col("x").cast("double") * 1_000_000)
        .cast("bigint")
        .alias("e"),
    )
    sums = comps.groupBy("source", "dim").agg(
        F.sum("e").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    dec = "decimal(38,0)"
    a, b = sums.alias("a"), sums.alias("b")
    pairs = a.join(
        b,
        (F.col("a.dim") == F.col("b.dim"))
        & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.col("a.s").alias("sa"),
        F.col("b.s").alias("sb"),
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.max("n_a").cast("bigint").alias("n_a"),
            F.max("n_b").cast("bigint").alias("n_b"),
            F.sum(F.col("sa").cast(dec) * F.col("sb").cast(dec)).alias(
                "_dot"
            ),
            F.sum(F.col("sa").cast(dec) * F.col("sa").cast(dec)).alias(
                "_na2"
            ),
            F.sum(F.col("sb").cast(dec) * F.col("sb").cast(dec)).alias(
                "_nb2"
            ),
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            F.round(
                F.col("_dot").cast("double")
                / (
                    F.sqrt(F.col("_na2").cast("double"))
                    * F.sqrt(F.col("_nb2").cast("double"))
                ),
                6,
            ).alias("cos_centroid"),
        )
        .orderBy("source_a", "source_b")
    )


SOURCE_CENTROID_SEPARATION_SQL = r"""
WITH joined AS (
    SELECT d.source, e.embedding
    FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
comps AS (
    SELECT source,
           CAST(di.i - 1 AS BIGINT) AS dim,
           CAST(floor(CAST(embedding[di.i] AS DOUBLE) * 1000000)
               AS BIGINT) AS e
    FROM joined,
         (SELECT unnest(generate_series(1, len_e)) AS i
          FROM (SELECT max(len(embedding)) AS len_e FROM embeddings)) di
),
sums AS (
    SELECT source, dim,
           CAST(sum(e) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM comps GROUP BY 1, 2
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(max(a.n) AS BIGINT) AS n_a,
       CAST(max(b.n) AS BIGINT) AS n_b,
       round(CAST(sum(CAST(a.s AS HUGEINT) * b.s) AS DOUBLE)
             / (sqrt(CAST(sum(CAST(a.s AS HUGEINT) * a.s) AS DOUBLE))
                * sqrt(CAST(sum(CAST(b.s AS HUGEINT) * b.s) AS DOUBLE))),
             6) AS cos_centroid
FROM sums a JOIN sums b ON a.dim = b.dim AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY a.source, b.source
"""


# ── IVF-PQ recall eval: the quality gate for the compressed index ───
#
# lsh_quality_eval grades banded LSH against exact Jaccard;
# binary_hamming_recall grades the 1-bit quantizer; matryoshka_recall
# grades truncated dims. This closes the symmetry for the flagship
# scale path: recall@TOP_K of ann_ivf_pq (bootstrap codebook) AND
# ann_ivf_pq_refined (trained 16-codeword book) against EXACT L2
# top-k — the measured 0.2 -> 0.36 gap the ann_ivf_pq docstring
# documents, now a driver-checkable table instead of a pytest-only
# pin. (The r11 edition of this eval graded the 8-codeword trained
# book at 0.28 and thereby motivated the r12 capacity bump.)
#
# Determinism across engines: the exact side snaps per-dimension
# squared differences to integer micro-units with the SAME
# floor(round(pow(diff,2),9)*1e6+0.5) formula the ADC uses, and ranks
# by (distance, neighbor_id) — no float comparisons survive into the
# hashed output. recall_micro = n_hits*1e6 div TOP_K (truncating
# integer division in both engines).


def _l2_micro_spark_sql(a: str, b: str) -> str:
    """Column-vs-column exact L2 distance in integer micro-units as
    ONE Spark SQL string (the pq_codes py4j-round-trip lesson): each
    dimension's squared difference is rounded then floored to micro
    BEFORE summation, so the total is exact and order-independent."""
    terms = " + ".join(
        f"CAST(floor(round(pow(CAST(element_at({a}, {i}) AS DOUBLE) - "
        f"CAST(element_at({b}, {i}) AS DOUBLE), 2), 9) * 1000000 + 0.5) "
        "AS BIGINT)"
        for i in range(1, EMB_DIM + 1)
    )
    return f"CAST({terms} AS BIGINT)"


def _exact_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id): the exact integer-micro L2 top-TOP_K
    for each query vector. Broadcast the N_QUERIES query rows, one
    codegen'd scoring pass over the corpus, TakeOrdered per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _query_rows(emb).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    pairs = (
        emb.repartition(spark.sparkContext.defaultParallelism)
        .join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(_l2_micro_spark_sql("q_emb", "embedding")).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )


def ivf_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@TOP_K of both IVF-PQ variants vs exact L2:
    (codebook, query_id, k, n_hits, recall_micro), one row per
    (variant, query).

    Attribution note (hand-measured on the sf0.001 fixture): ranking
    candidates within the probed cells by EXACT distance recalls
    0.96 — the NPROBE=2 cell restriction costs almost nothing here —
    so the bootstrap 0.2 / refined 0.36 readings are essentially pure
    PQ-quantization loss, the axis that shrinks as PQ_K grows toward
    the production 256 (r11 graded the trained 8-codeword book at
    0.28; r12's 16-codeword book reads 0.36).

    Plan shape: the exact tier is one broadcast-join scoring pass +
    per-query top-k (N_QUERIES bounded); each variant's hit count is
    an equi-join of two ≤ N_QUERIES·TOP_K-row frames. At 100 TB the
    exact side is the only corpus-sized stage and it is the SAME
    brute-force pass knn_bruteforce already runs (eval-tier only —
    production grades on a sampled query set exactly like this
    fixture's N_QUERIES=5)."""
    # Materialize the three tiny tier frames (≤ N_QUERIES × TOP_K rows
    # each) truncated, NOT persisted, and not inline:
    # unmaterialized, the combined report plan embeds the corpus-sized
    # brute pass FOUR times (a hits join and a query-id spine per
    # variant) plus both PQ search plans, whose PQ_M × PQ_K codeword /
    # ADC literal arrays make every downstream DataFrame operation
    # re-analyze a gigantic tree — r12 measured the composed plan at
    # ~33 s isolated vs ~12 s for its three parts run separately
    # (persist() was worse still: the CacheManager canonicalizes the
    # giant plan on every subsequent lookup). Truncating cuts the
    # lineage to a LogicalRDD, so the report is three bounded
    # equi-joins over ~25-row frames.
    exact = materialize(_exact_l2_topk(spark, sf_dir), truncate=True)
    out: DataFrame | None = None
    for name, fn in (
        ("bootstrap", ann_ivf_pq),
        ("refined", ann_ivf_pq_refined),
    ):
        approx = materialize(
            fn(spark, sf_dir).select("query_id", "neighbor_id"), truncate=True
        )
        hits = (
            approx.join(exact, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        per_q = (
            exact.select("query_id")
            .distinct()
            .join(hits, "query_id", "left")
            .select(
                F.lit(name).alias("codebook"),
                F.col("query_id").cast("bigint").alias("query_id"),
                F.lit(TOP_K).cast("bigint").alias("k"),
                F.coalesce(F.col("n_hits"), F.lit(0))
                .cast("bigint")
                .alias("n_hits"),
            )
        )
        out = per_q if out is None else out.unionByName(per_q)
    return (
        out.withColumn(
            "recall_micro",
            F.expr(f"CAST(n_hits * 1000000 div {TOP_K} AS BIGINT)"),
        )
        .orderBy("codebook", "query_id")
    )


def _l2_micro_duck_sql(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, {EMB_DIM} + 1), i -> "
        f"CAST(floor(round(pow(CAST({a}[i] AS DOUBLE) - "
        f"CAST({b}[i] AS DOUBLE), 2), 9) * 1000000 + 0.5) AS BIGINT))) "
        "AS BIGINT)"
    )


IVF_PQ_RECALL_EVAL_SQL = rf"""
WITH pq_boot AS (
    SELECT query_id, neighbor_id FROM ({ANN_IVF_PQ_SQL}) t
),
pq_ref AS (
    SELECT query_id, neighbor_id FROM ({ANN_IVF_PQ_REFINED_SQL}) t
),
exact_d AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           {_l2_micro_duck_sql('q.embedding', 'e.embedding')} AS d
    FROM embeddings e
    CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                ORDER BY vec_id LIMIT {N_QUERIES}) q
    WHERE e.vec_id != q.vec_id
),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d ASC, neighbor_id ASC) AS rk
        FROM exact_d
    ) r WHERE rk <= {TOP_K}
),
variants AS (
    SELECT 'bootstrap' AS codebook, query_id, neighbor_id FROM pq_boot
    UNION ALL
    SELECT 'refined' AS codebook, query_id, neighbor_id FROM pq_ref
),
hits AS (
    SELECT v.codebook, v.query_id, count(*) AS n_hits
    FROM variants v
    JOIN exact x ON x.query_id = v.query_id
               AND x.neighbor_id = v.neighbor_id
    GROUP BY 1, 2
)
SELECT c.codebook AS codebook,
       CAST(q.query_id AS BIGINT) AS query_id,
       CAST({TOP_K} AS BIGINT) AS k,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 1000000 // {TOP_K} AS BIGINT)
           AS recall_micro
FROM (SELECT DISTINCT query_id FROM exact) q
CROSS JOIN (SELECT 'bootstrap' AS codebook
            UNION ALL SELECT 'refined') c
LEFT JOIN hits h ON h.codebook = c.codebook AND h.query_id = q.query_id
ORDER BY c.codebook, q.query_id
"""
