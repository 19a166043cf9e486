"""Similarity search over the ``embeddings`` table (BASELINE.json
north-star: ANN over an ``array<float>`` column).

Two operators:

- **Brute-force cosine top-k** - the exactness baseline. Queries are a
  small fixed subset; the plan is broadcast(queries) x candidates ->
  fused dot-product projection -> per-query rank-filter window. At
  100 TB the candidate scan stays embarrassingly parallel (no shuffle
  until the tiny (|Q| x k) rank stage); the quadratic blowup is
  bounded by |Q|.
- **Sign-LSH bucketed ANN** - the scale path. An LSH_BITS-wide random
  hyperplane signature buckets each vector; neighbor candidates are
  bucket-mates only (equi-join on bucket), then exact cosine + top-k
  within candidates. Hyperplanes are derived from md5 in PYTHON at
  plan-build time and inlined as literals, so the Spark plan and the
  DuckDB oracle use bit-identical constants.

Float determinism: every reduction is an explicit left-fold
(``F.aggregate`` / statically unrolled literal sums), mirrored exactly
in the oracle SQL - double addition order is pinned, so cosine values
compare bit-for-bit across engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import load_table

DIM = 64
TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors
LSH_BITS = 6


def _dot_fold(a: Column, b: Column) -> Column:
    """Left-fold dot product: deterministic addition order (matches
    the oracle's list_reduce left fold bit-for-bit).

    Kept as a higher-order fold ON PURPOSE: the statically-unrolled
    64-term element_at chain was measured SLOWER (2x on the top-k
    query) - a projection with several such chains overflows the
    whole-stage-codegen method budget and falls back to interpreting
    a much bigger tree, while zip_with+aggregate is one tight
    interpreted loop."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


_ORACLE_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, {n} + 1), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), "
    "(x, y) -> x + y)"
)


def _oracle_dot(a: str, b: str, n: int = DIM) -> str:
    return _ORACLE_DOT.format(a=a, b=b, n=n)


def cosine(a: Column, b: Column) -> Column:
    return _dot_fold(a, b) / (F.sqrt(_dot_fold(a, a)) * F.sqrt(_dot_fold(b, b)))


def similarity_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for each query vector
    (vec_id < 10), self excluded, ties broken by neighbor id.

    Norms are precomputed per SIDE before the join, so each |Q| x N
    pair evaluates one dot-product fold instead of three (the
    division  dot / (sqrt(qq) * sqrt(cc))  sees bit-identical doubles
    either way, so the oracle needs no restructuring)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.sqrt(_dot_fold(F.col("embedding"), F.col("embedding"))).alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.sqrt(_dot_fold(F.col("embedding"), F.col("embedding"))).alias("cn"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot_fold(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= TOP_K)


SIMILARITY_TOPK_ORACLE_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_oracle_dot('qv', 'e.embedding')}
           / (sqrt({_oracle_dot('qv', 'qv')})
              * sqrt({_oracle_dot('e.embedding', 'e.embedding')})) AS cosine
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM scored
) WHERE rn <= {TOP_K}
"""


def _md5_planes(tag: str, n: int) -> list[list[float]]:
    """Deterministic pseudo-random vectors in [-1, 1]^DIM: component
    (b, d) from md5(f"{tag}{b}_{d}") - reproducible anywhere, no RNG
    state. ``tag`` derives independent families (hyperplanes, IVF
    centroids, banded-LSH planes) from the same generator."""
    planes = []
    for b in range(n):
        row = []
        for d in range(DIM):
            h = int(hashlib.md5(f"{tag}{b}_{d}".encode()).hexdigest()[:15], 16)
            row.append(((h % 2001) - 1000) / 1000.0)
        planes.append(row)
    return planes


_PLANES = _md5_planes("", LSH_BITS)


def unrolled_proj(emb: Column, plane: list[float]) -> Column:
    """<emb, plane> for a CONSTANT plane: zip_with against a
    constant-folded literal array, left-fold sum. Measured ~7x faster
    than the statically-unrolled 64-term sum once several planes
    stack in one projection (the giant unrolled tree overflows the
    codegen method budget; the fold is one tight loop over a cached
    literal array). Addition order matches the unrolled form and the
    oracle SQL exactly: (((0 + t1) + t2) + ...)."""
    arr = F.array(*[F.lit(float(v)) for v in plane])
    return F.aggregate(
        F.zip_with(emb, arr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def lsh_bucket(emb: Column) -> Column:
    """Sign-LSH signature (LSH_BITS wide) as an integer bucket id."""
    bucket = F.lit(0)
    for b, plane in enumerate(_PLANES):
        proj = unrolled_proj(emb, plane)
        bucket = bucket + F.when(proj >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return bucket


def _oracle_bucket(emb: str) -> str:
    terms = []
    for b, plane in enumerate(_PLANES):
        proj = " + ".join(
            f"({r!r} * {emb}[{d + 1}]::DOUBLE)" for d, r in enumerate(plane)
        )
        terms.append(f"CASE WHEN (0.0 + {proj}) >= 0 THEN {1 << b} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def similarity_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: exact cosine top-5 restricted to same-LSH-bucket
    candidates. Recall < 1 by design; the bucket equi-join replaces
    the all-pairs product, which is the 100 TB path (2^bits buckets
    divide the join fan-out; widen LSH_BITS as the corpus grows)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", lsh_bucket(F.col("embedding"))
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.sqrt(_dot_fold(F.col("embedding"), F.col("embedding"))).alias("qn"),
        "bucket",
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.sqrt(_dot_fold(F.col("embedding"), F.col("embedding"))).alias("cn"),
        "bucket",
    )
    scored = (
        c.join(q, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot_fold(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= TOP_K)


def _lsh_oracle() -> str:
    return f"""
WITH be AS (SELECT vec_id, embedding, {_oracle_bucket('embedding')} AS bucket
            FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM be
      WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_oracle_dot('qv', 'e.embedding')}
           / (sqrt({_oracle_dot('qv', 'qv')})
              * sqrt({_oracle_dot('e.embedding', 'e.embedding')})) AS cosine
  FROM be e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM scored
) WHERE rn <= {TOP_K}
"""


SIMILARITY_LSH_ORACLE_SQL = _lsh_oracle()


# --- IVF (inverted-file) ANN ----------------------------------------------

N_CENTROIDS = 8  # coarse quantizer size; grows ~sqrt(N) at scale
_CENTROIDS = _md5_planes("ivf", N_CENTROIDS)


def ivf_cell(emb: Column) -> Column:
    """Nearest-centroid cell id (nprobe=1 coarse quantization).
    Ranking key is squared L2 minus the |v|^2 term (constant per row):
    dist_k = |c_k|^2 - 2<v, c_k>. The (dist, k) structs are compared
    lexicographically by ``least`` - float-deterministic, ties broken
    by centroid id - so the DuckDB oracle reproduces the assignment
    bit-for-bit from the same literals.

    A production IVF trains centroids with k-means and probes several
    cells; here the centroids are fixed md5-derived literals so the
    oracle can verify the full plan. Swapping in trained centroids
    changes only this constant table."""
    cells = []
    for k, c in enumerate(_CENTROIDS):
        dist = F.lit(float(sum(v * v for v in c))) - (F.lit(2.0) * unrolled_proj(emb, c))
        cells.append(F.struct(dist.alias("dist"), F.lit(k).alias("k")))
    return F.least(*cells)["k"]


def similarity_ivf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via inverted-file partitioning: exact cosine top-5
    restricted to the query's own IVF cell. The cell equi-join bounds
    the candidate scan to ~N/K vectors per query; at 100 TB the
    candidate side is a partition-pruned read of a cell-partitioned
    table (cell id is a write-time column), so a query touches 1/K of
    the corpus."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.sqrt(_dot_fold(F.col("embedding"), F.col("embedding"))).alias("nrm"),
        ivf_cell(F.col("embedding")).alias("cell"),
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
        "cell",
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cn"),
        "cell",
    )
    scored = (
        c.join(q, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot_fold(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= TOP_K)


def _oracle_cell(emb: str) -> str:
    structs = []
    for k, c in enumerate(_CENTROIDS):
        proj = " + ".join(f"({r!r} * {emb}[{d + 1}]::DOUBLE)" for d, r in enumerate(c))
        sumsq = float(sum(v * v for v in c))
        structs.append(
            f"{{'dist': {sumsq!r} - (2.0 * (0.0 + {proj})), 'k': {k}}}"
        )
    # DuckDB's least() doesn't take structs; a sorted struct list's
    # head is the same lexicographic (dist, k) min as Spark's least().
    return "(list_sort([" + ", ".join(structs) + "])[1]).k"


SIMILARITY_IVF_ORACLE_SQL = f"""
WITH e AS (SELECT vec_id, embedding,
                  sqrt({_oracle_dot('embedding', 'embedding')}) AS nrm,
                  {_oracle_cell('embedding')} AS cell
           FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn, cell FROM e
      WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_oracle_dot('qv', 'c.embedding')} / (qn * c.nrm) AS cosine
  FROM e c JOIN q ON c.cell = q.cell AND c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM scored
) WHERE rn <= {TOP_K}
"""


# --- Per-label centroids ----------------------------------------------------

def label_centroids_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per label (class prototypes - the
    aggregation an embedding-space analysis / IVF coarse-quantizer
    training step needs).

    ``posexplode`` + groupBy(label, pos) is the scale shape: one
    shuffle keyed by (label, dim) - cardinality labels x 64, so the
    partial aggregation does all the reduction map-side regardless of
    row count. The mean uses the exact decimal-sum trick
    (:func:`..functions.aggregates.exact_avg`): float addition is not
    associative, so a plain avg would flicker in the last ulp across
    shuffle orders and engines.
    """
    from ..functions.aggregates import exact_avg

    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    return ex.groupBy("label", "pos").agg(
        exact_avg("CAST(val AS DOUBLE)", scale=7).alias("centroid"),
        F.count("*").alias("n_vecs"),
    )


LABEL_CENTROIDS_ORACLE_SQL = """
SELECT label, pos,
       CAST(sum(CAST(val AS DECIMAL(38,7))) AS DOUBLE) / count(val)
           AS centroid,
       count(*) AS n_vecs
FROM (
  SELECT label,
         unnest(range(len(embedding))) AS pos,
         unnest(list_transform(embedding, x -> x::DOUBLE)) AS val
  FROM embeddings
)
GROUP BY label, pos
"""


# --- Int8-quantized search with full-precision rerank ----------------------

RERANK = 20  # candidates kept from the quantized pass, per query


def _int_dot(a: Column, b: Column) -> Column:
    """Integer dot product (exact - no float rounding anywhere)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda s, v: s + v
    )


def similarity_quantized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN: int8 vectors (per-vector max-abs scale)
    score ALL candidates with exact integer dot products; only the
    top RERANK per query are re-scored with full-precision cosine.

    This is the standard memory-compression recipe at 100 TB: the
    scan-side working set shrinks 4x (float32 -> int8; 8x vs the
    float64 compute type), the hot loop is integer multiply-add, and
    full-precision vectors are touched for |Q| x RERANK rows instead
    of |Q| x N. Per-vector scaling means quantized cosine ~= true
    cosine (scale cancels in the normalized ratio up to rounding), so
    rerank recall is high with RERANK = 4k.

    Determinism: quantization is floor(x * 127 / scale + 0.5) (exact
    IEEE ops, no round-half-even ambiguity), candidate scores are
    integer ratios, ties broken by neighbor id - the DuckDB oracle
    reproduces every bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    scale = F.greatest(
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))),
        F.lit(1e-30),
    )
    q8 = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(127.0) / F.col("scale") + F.lit(0.5)),
    )
    base = (
        emb.select("vec_id", "embedding", scale.alias("scale"))
        .select("vec_id", "embedding", q8.alias("v8"))
        .select(
            "vec_id",
            "embedding",
            "v8",
            F.sqrt(_int_dot(F.col("v8"), F.col("v8")).cast("double")).alias("n8"),
        )
    )
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("v8").alias("q8"),
        F.col("n8").alias("qn8"),
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("v8").alias("c8"),
        F.col("n8").alias("cn8"),
    )
    approx = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qv",
            "cv",
            (
                _int_dot(F.col("q8"), F.col("c8")).cast("double")
                / (F.col("qn8") * F.col("cn8"))
            ).alias("approx_cos"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx_cos").desc(), F.col("neighbor_id").asc()
    )
    cands = approx.withColumn("arn", F.row_number().over(wa)).filter(
        F.col("arn") <= RERANK
    )
    exact = cands.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv"), F.col("cv")).alias("cosine"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return exact.withColumn("rn", F.row_number().over(wf)).filter(
        F.col("rn") <= TOP_K
    )


_ORACLE_IDOT = (
    "list_reduce(list_prepend(0::BIGINT, "
    "list_transform(range(1, {n} + 1), i -> {a}[i] * {b}[i])), "
    "(x, y) -> x + y)"
)

SIMILARITY_QUANTIZED_ORACLE_SQL = f"""
WITH scaled AS (
  SELECT vec_id, embedding,
         greatest(list_reduce(list_transform(embedding,
                    x -> abs(x::DOUBLE)), (x, y) -> greatest(x, y)),
                  1e-30) AS scale
  FROM embeddings
),
q8t AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
           x -> floor(x::DOUBLE * 127.0 / scale + 0.5)::BIGINT) AS v8
  FROM scaled
),
base AS (
  SELECT vec_id, embedding, v8,
         sqrt(({_ORACLE_IDOT.format(a='v8', b='v8', n=DIM)})::DOUBLE) AS n8
  FROM q8t
),
q AS (SELECT vec_id AS query_id, embedding AS qv, v8 AS q8, n8 AS qn8
      FROM base WHERE vec_id < {N_QUERIES}),
approx AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, qv, c.embedding AS cv,
         ({_ORACLE_IDOT.format(a='q8', b='c.v8', n=DIM)})::DOUBLE
           / (qn8 * c.n8) AS approx_cos
  FROM base c JOIN q ON c.vec_id <> q.query_id
),
cands AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY approx_cos DESC, neighbor_id ASC) AS arn
    FROM approx
  ) WHERE arn <= {RERANK}
),
exact AS (
  SELECT query_id, neighbor_id,
         {_oracle_dot('qv', 'cv')}
           / (sqrt({_oracle_dot('qv', 'qv')}) * sqrt({_oracle_dot('cv', 'cv')}))
           AS cosine
  FROM cands
)
SELECT query_id, neighbor_id, cosine, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM exact
) WHERE rn <= {TOP_K}
"""


RP_DIMS = 8
RP_SCALE = 0.3535533905932738  # 1/sqrt(RP_DIMS), fixed literal
_RP_PLANES = _md5_planes("rp", RP_DIMS)


def random_projection_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection: DIM -> RP_DIMS via the
    same md5-derived constant planes as the LSH family (tag 'rp' makes
    them independent). Pairwise geometry is approximately preserved at
    an 8x storage/compute reduction - the standard pre-shrink before
    clustering or ANN over billions of embeddings.

    Plan shape: pure map-side projection (zero shuffles) - each output
    component is one fold over the embedding against a constant
    literal array, whole plan scan-bound. The fold order and the
    1/sqrt(k) scale literal are mirrored in the oracle, so projected
    coordinates match bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = [
        (unrolled_proj(F.col("embedding"), plane) * F.lit(RP_SCALE)).alias(f"p{j}")
        for j, plane in enumerate(_RP_PLANES)
    ]
    return emb.select("vec_id", "label", *comps)


def _oracle_rp() -> str:
    cols = []
    for j, plane in enumerate(_RP_PLANES):
        proj = " + ".join(
            f"({r!r} * embedding[{d + 1}]::DOUBLE)" for d, r in enumerate(plane)
        )
        cols.append(f"(0.0 + {proj}) * {RP_SCALE!r} AS p{j}")
    return ",\n       ".join(cols)


RANDOM_PROJECTION_ORACLE_SQL = f"""
SELECT vec_id, label,
       {_oracle_rp()}
FROM embeddings
"""


# --- ANN quality evaluation ------------------------------------------------


def ann_recall_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@TOP_K of the sign-LSH ANN path against the exact
    brute-force top-k, per query vector - the evaluation loop an ANN
    deployment runs before trading exactness for scale. Pure
    composition of the two existing plans: a semi-join counts how many
    of each query's true top-k survive in the LSH result; the recall
    division is two exact integers, so the oracle hash-compares
    doubles safely."""
    exact = similarity_topk_query(spark, sf_dir).select("query_id", "neighbor_id")
    approx = similarity_lsh_query(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    totals = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return totals.join(hits, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
        (F.coalesce("n_matched", F.lit(0)) / F.col("n_exact")).alias("recall"),
    )


ANN_RECALL_ORACLE_SQL = f"""
WITH exact AS ({SIMILARITY_TOPK_ORACLE_SQL}),
approx AS ({{LSH_SQL}}),
hits AS (
  SELECT e.query_id, count(*) AS n_matched
  FROM exact e
  WHERE EXISTS (SELECT 1 FROM approx a
                WHERE a.query_id = e.query_id
                  AND a.neighbor_id = e.neighbor_id)
  GROUP BY e.query_id
),
totals AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id)
SELECT t.query_id, t.n_exact, coalesce(h.n_matched, 0) AS n_matched,
       coalesce(h.n_matched, 0) / t.n_exact AS recall
FROM totals t LEFT JOIN hits h ON t.query_id = h.query_id
"""


def _ann_recall_oracle() -> str:
    return ANN_RECALL_ORACLE_SQL.replace("{LSH_SQL}", _lsh_oracle())


# --- embedding hygiene QC ---------------------------------------------------

UNIT_NORM_TOL = 0.01
NONFINITE_ABS = 3.4e38  # float32 saturation threshold (inf proxy)


def embedding_quality_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level embedding hygiene: the QC gate an embedding pipeline
    runs before ANN indexing or semantic dedup - dimension check, zero
    and non-finite component counts, exact squared L2 norm, unit-norm
    flag. Bad vectors (truncated writes, NaN-poisoned backprop,
    all-zero placeholder rows) silently wreck cosine math downstream;
    this surfaces them per vector.

    Deliberately ROW-LEVEL ONLY: every number derives from one
    vector's own left-fold (deterministic addition order, the same
    proven idiom as the cosine operators), so the oracle hash is exact
    - no cross-row float aggregation whose shuffle order could flicker
    the last ulp. Plan shape: one scan, zero shuffles, zero joins; at
    100 TB this runs at scan speed and the flags prune before any
    expensive similarity stage."""
    vecs = load_table(spark, sf_dir, "embeddings")
    norm_sq = _dot_fold(F.col("embedding"), F.col("embedding"))
    return vecs.select(
        "vec_id",
        "label",
        F.size("embedding").alias("n_dims"),
        (F.size("embedding") == DIM).alias("dim_ok"),
        F.size(F.filter("embedding", lambda x: x == F.lit(0.0))).alias("n_zero"),
        F.size(
            F.filter(
                "embedding",
                lambda x: F.isnan(x) | (F.abs(x) > F.lit(NONFINITE_ABS)),
            )
        ).alias("n_nonfinite"),
        norm_sq.alias("norm_sq"),
        (F.abs(F.sqrt(norm_sq) - 1.0) <= UNIT_NORM_TOL).alias("is_unit_norm"),
    )


EMBEDDING_QUALITY_ORACLE_SQL = f"""
SELECT vec_id,
       label,
       len(embedding) AS n_dims,
       len(embedding) = {DIM} AS dim_ok,
       len(list_filter(embedding, x -> x = 0)) AS n_zero,
       len(list_filter(embedding,
           x -> isnan(x) OR abs(x) > {NONFINITE_ABS})) AS n_nonfinite,
       {_oracle_dot('embedding', 'embedding')} AS norm_sq,
       abs(sqrt({_oracle_dot('embedding', 'embedding')}) - 1)
         <= {UNIT_NORM_TOL} AS is_unit_norm
FROM embeddings
"""
