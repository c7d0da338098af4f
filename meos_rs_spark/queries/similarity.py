"""Similarity search over the ``embeddings`` fixture (north-star ops,
BASELINE.json; SURVEY.md §7 M5): brute-force cosine top-k as the exactness
baseline, sign-LSH bucketed search as the 100 TB path, plus embedding-cosine
near-dup detection.

Determinism: dot products accumulate dimension-by-dimension in order on
float32 inputs widened to double — the Arrow-batched pandas_udf
(functions/embeddings.py) reproduces bit-for-bit the sequential fold
DuckDB's ``list_dot_product`` performs, verified by the oracle hash.
Ranking ties broken by vec_id so top-k is total-ordered.

Scale shape: probes are a broadcast side (small); the LSH variant buckets
the corpus ONCE (one shuffle) and probes search only their bucket — the
classic band-partition ANN layout. No N×N crossJoin anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from meos_rs_spark.functions.embeddings import cosine, l2norm, make_lsh_bucket_udf, seq_dot
from meos_rs_spark.registry import register
from meos_rs_spark.sources.tables import load_table

N_PROBES = 5
TOP_K = 10
N_PLANES = 8
DIM = 64
#: re-rank depth of the sign-LSH queries (sim_ann_lsh, sim_ann_multiprobe) —
#: interpolated into BOTH the oracle SQL and the Spark row_number filter so
#: the pair cannot drift (the r7 hand-copy-divergence class)
LSH_TOPK = 3

#: The corpus envelope, applied identically in BOTH legs of every
#: embeddings twin (r12 adversarial sweep): a valid embedding is non-NULL,
#: exactly DIM elements, all finite. Off-envelope rows — failed-encoder
#: output: NULL vectors, empty/truncated vectors, NULL/NaN/inf components —
#: are DROPPED at corpus load. Without the fence one such row aborts the
#: whole job (np.stack raggedness / DuckDB list_dot_product length error)
#: or silently reorders top-k (DuckDB NaN sorts FIRST under DESC while the
#: Arrow kernel's NaN becomes NULL and sorts last).
EMB_ENVELOPE_DUCK = (
    f"embedding IS NOT NULL AND len(embedding) = {DIM} AND "
    "len(list_filter(embedding, x -> x IS NULL OR isnan(CAST(x AS DOUBLE)) "
    "OR isinf(CAST(x AS DOUBLE)))) = 0"
)
_EMB = f"(SELECT * FROM embeddings WHERE {EMB_ENVELOPE_DUCK})"


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the embeddings corpus restricted to the envelope (Spark leg
    of ``EMB_ENVELOPE_DUCK`` — JVM-side size/exists predicates, no UDF)."""
    return load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == DIM)
        & ~F.exists(
            "embedding",
            lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
        )
    )


_DOT_DUCK = "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def _duck_cosine(a: str, b: str) -> str:
    return (
        f"{_DOT_DUCK.format(a=a, b=b)} / "
        f"(sqrt({_DOT_DUCK.format(a=a, b=a)}) * sqrt({_DOT_DUCK.format(a=b, b=b)}))"
    )


def _probe_topk(
    scored: DataFrame, carry: list[str], field: str, score: str, top: int, *, desc: bool
) -> DataFrame:
    """The shared tail of the map-side probe kernels: explode each vector's
    kernel struct ``s`` (``s.pids`` beside the per-probe ``s.<field>``)
    into (probe_id, vec_id, *carry, score) pairs, drop the self pairs, and
    keep each probe's first ``top`` by (score, vec_id)."""
    pairs = scored.select(
        "vec_id",
        *carry,
        F.explode(
            F.arrays_zip(F.col("s.pids").alias("probe_id"), F.col(f"s.{field}").alias(score))
        ).alias("p"),
    ).select(F.col("p.probe_id").alias("probe_id"), "vec_id", *carry, F.col(f"p.{score}").alias(score))
    w = Window.partitionBy("probe_id").orderBy(F.col(score).desc() if desc else F.col(score), "vec_id")
    return (
        pairs.filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top)
        .select("probe_id", "vec_id", *carry, score)
    )


# --- brute-force cosine top-k (exactness baseline) -------------------------


@register(
    "sim_cosine_topk",
    oracle=f"""
WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe FROM {_EMB} WHERE vec_id < {N_PROBES}),
scored AS (
  SELECT p.probe_id, e.vec_id, e.label,
         {_duck_cosine('p.pe', 'e.embedding')} AS cosine
  FROM probes p JOIN {_EMB} e ON e.vec_id != p.probe_id
)
SELECT probe_id, vec_id, label, cosine
FROM scored
QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) <= {TOP_K}
""",
    tags=("sim",),
    doc="brute-force cosine top-k: ONE map-side Arrow pass scores every "
    "corpus vector against the worker-side-derived probe set (r16 — "
    "replaces the broadcast + nested-loop pair join), then a per-probe "
    "top-k window; the exactness baseline for the LSH variant",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.quantize import make_probe_cosines_udf, source_cents_spec

    # cosine = dot/(|a|·|b|) with the norms folded once per VECTOR and the
    # try_divide zero-norm→NULL contract, all inside one Arrow kernel (the
    # probes derive worker-side from the source parquet — the same
    # first-N_PROBES-valid rows the broadcast side selected); values stay
    # bit-equal to the oracle's sqrt(list_dot_product(v,v)) factors
    scorer = make_probe_cosines_udf(source_cents_spec(sf_dir, N_PROBES, DIM))
    scored = _corpus(spark, sf_dir).select("vec_id", "label", scorer("embedding").alias("s"))
    return _probe_topk(scored, ["label"], "cosines", "cosine", TOP_K, desc=True)


# --- sign-LSH bucketed ANN (the scale path) --------------------------------

# deterministic pseudo-random hyperplanes: sign from md5 parity of
# (plane, dim) — engine-identical, no RNG state; the Spark-side twin is
# functions.embeddings.plane_signs (kept in lockstep)


def _bucket_expr_duck(col: str, planes: int = N_PLANES) -> str:
    bits = []
    for p in range(planes):
        plane = (
            f"list_transform(generate_series(0, {DIM} - 1), j -> "
            f"CASE WHEN instr('89abcdef', substr(md5('{p}' || '-' || j), 1, 1)) > 0 "
            f"THEN 1.0 ELSE -1.0 END)"
        )
        dot = f"list_dot_product({plane}, CAST({col} AS DOUBLE[]))"
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


# --- adaptive bucket granularity for the all-PAIRS LSH queries --------------
#
# A FIXED plane count makes same-bucket pair joins quadratic: with B = 2^8
# buckets, candidate pairs are Σ b_i² ≈ N²/B — the r8 full-registry ×10
# sweep measured sim_knn_graph at 16.7× and sim_embedding_neardup at 11.3×
# wall for 10× data (pairs grew ×100). The pair queries therefore mask a
# 16-plane code down to P = clamp(ceil(log2(N / TARGET)), 4, 16) bits, P
# from a scalar subquery over the corpus count: bucket count tracks N, mean
# bucket size stays ≈ TARGET, and total pair work stays LINEAR in N at any
# scale. Dropping the low bits of the 16-plane code is exactly "use only
# the first P hyperplanes", so the DuckDB oracle mirrors it with the same
# masked expression. Probe-style queries (sim_ann_lsh/multiprobe) keep the
# fixed 8-plane bucket: their work is one bucket scan per probe — linear.

ADAPT_MAX_PLANES = 16
ADAPT_MIN_PLANES = 4
ADAPT_TARGET_BUCKET = 16

_ADAPT_P_DUCK = (
    f"least({ADAPT_MAX_PLANES}, greatest({ADAPT_MIN_PLANES}, "
    f"CAST(ceil(log2(greatest((SELECT count(*) FROM {_EMB}), 1) "
    f"/ {ADAPT_TARGET_BUCKET}.0)) AS INT)))"
)


def _bucket_expr_duck_adaptive(col: str) -> str:
    return f"(({_bucket_expr_duck(col, ADAPT_MAX_PLANES)}) % (1 << {_ADAPT_P_DUCK}))"


def _adaptive_bucket(emb: DataFrame) -> Column:
    """Spark twin of ``_bucket_expr_duck_adaptive``: 16-plane code masked to
    the corpus-sized plane count (scalar subquery, inlined — no join)."""
    n = emb.select(F.col("vec_id")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    ).scalar()
    p = F.least(
        F.lit(ADAPT_MAX_PLANES),
        F.greatest(
            F.lit(ADAPT_MIN_PLANES),
            F.ceil(F.log2(F.greatest(n, F.lit(1.0)) / ADAPT_TARGET_BUCKET)).cast("int"),
        ),
    )
    code = make_lsh_bucket_udf(ADAPT_MAX_PLANES, DIM)(F.col("embedding"))
    # 2^p as integer pow (shiftleft needs a literal bit count); exact for
    # p <= 16 in double arithmetic
    return F.pmod(code, F.pow(F.lit(2.0), p).cast("int"))


@register(
    "sim_ann_lsh",
    oracle=f"""
WITH bucketed AS (
  SELECT vec_id, label, embedding, {_bucket_expr_duck('embedding')} AS bucket
  FROM {_EMB}
),
probes AS (SELECT vec_id AS probe_id, embedding AS pe, bucket AS pb FROM bucketed WHERE vec_id < {N_PROBES}),
cand AS (
  SELECT p.probe_id, e.vec_id, e.label,
         {_duck_cosine('p.pe', 'e.embedding')} AS cosine
  FROM probes p JOIN bucketed e ON e.bucket = p.pb AND e.vec_id != p.probe_id
)
SELECT probe_id, vec_id, label, cosine
FROM cand
QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) <= {LSH_TOPK}
""",
    tags=("sim", "lsh"),
    doc=f"ANN via {N_PLANES}-plane sign-LSH: corpus bucketed once, probes equi-join "
    "their bucket then re-rank — the bucket join replaces the N×N scan at scale",
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _corpus(spark, sf_dir)
    bucketed = emb.withColumn("bucket", make_lsh_bucket_udf(N_PLANES, DIM)(F.col("embedding")))
    probes = bucketed.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe"), F.col("bucket").alias("pb")
    )
    cand = (
        bucketed.join(
            broadcast(probes), (F.col("bucket") == F.col("pb")) & (F.col("vec_id") != F.col("probe_id"))
        )
        .withColumn("cosine", cosine(F.col("pe"), F.col("embedding")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= LSH_TOPK)
        .select("probe_id", "vec_id", "label", "cosine")
    )


# --- embedding-cosine near-dup ---------------------------------------------


@register(
    "sim_embedding_neardup",
    oracle=f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_bucket_expr_duck_adaptive('embedding')} AS bucket
  FROM {_EMB}
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_duck_cosine('a.embedding', 'b.embedding')} AS cosine
FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_duck_cosine('a.embedding', 'b.embedding')} >= 0.5
""",
    tags=("sim", "dedup", "lsh"),
    doc="embedding-cosine near-dup: same-bucket pairs filtered by cosine ≥ 0.5 "
    "(ADAPTIVE bucket granularity: plane count tracks corpus size, so the "
    "pair space stays linear in N — see _adaptive_bucket)",
)
def sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _corpus(spark, sf_dir)
    bucketed = emb.withColumn("bucket", _adaptive_bucket(emb)).select(
        "vec_id", "embedding", "bucket"
    )
    a = bucketed.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"), F.col("bucket").alias("ba")
    )
    b = bucketed.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"), F.col("bucket").alias("bb")
    )
    return (
        a.join(b, (a.ba == b.bb) & (a.id_a < b.id_b))
        .withColumn("cosine", cosine(F.col("ea"), F.col("eb")))
        .filter(F.col("cosine") >= 0.5)
        .select("id_a", "id_b", "cosine")
    )


# --- IVF-style cell-probed ANN (coarse quantizer + cell equi-join) ----------

N_CELLS = 8
NPROBE = 2
IVF_TOPK = 3


@register(
    "sim_ann_ivf",
    oracle=f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS ce FROM {_EMB} WHERE vec_id < {N_CELLS}
),
assign AS (
  SELECT e.vec_id, e.label, e.embedding, c.cent_id,
         {{ccos}} AS ccos
  FROM {_EMB} e CROSS JOIN cents c
),
cells AS (
  SELECT vec_id, label, embedding, cent_id AS cell FROM assign
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) = 1
),
probe_cells AS (
  SELECT p.vec_id AS probe_id, p.embedding AS pe, c.cent_id AS cell
  FROM {_EMB} p CROSS JOIN cents c
  WHERE p.vec_id < {N_PROBES}
  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY {{pcos}} DESC, c.cent_id) <= {NPROBE}
),
cand AS (
  SELECT pc.probe_id, e.vec_id, e.label,
         {{scos}} AS cosine
  FROM probe_cells pc JOIN cells e ON e.cell = pc.cell AND e.vec_id != pc.probe_id
)
SELECT probe_id, vec_id, label, cosine
FROM cand
QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) <= {IVF_TOPK}
""".format(
        ccos=_duck_cosine("e.embedding", "c.ce"),
        pcos=_duck_cosine("p.embedding", "c.ce"),
        scos=_duck_cosine("pc.pe", "e.embedding"),
    ),
    tags=("sim", "ivf"),
    doc=f"IVF-style ANN: {N_CELLS} coarse centroids (a production system trains "
    "them offline with k-means; here the first corpus vectors, deterministically) "
    "derived worker-side from the source parquet; each corpus vector is assigned its nearest "
    "cell MAP-SIDE (functions/quantize.py — no crossJoin explode, no argmin "
    f"window shuffle of the corpus), probes search their {NPROBE} closest cells "
    "via a cell equi-join and re-rank exactly — the inverted-file layout that "
    "replaces the N-squared scan at scale (only the 5-probe assignment keeps "
    "the broadcast-crossJoin + window shape: it is constant-sized)",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.quantize import make_ivf_scores_udf, source_cents_spec

    # r16: the whole candidate search is ONE map-side Arrow pass — the
    # kernel derives centroids AND probes worker-side from the source
    # parquet, assigns each corpus vector its cell with the exact
    # assignment scan, ranks each probe's cells the way the old window
    # did, and emits a (probe_id, cosine) pair for every probe whose
    # top-NPROBE cells contain the vector's cell. This replaces the probe
    # crossJoin + ranking window + probe_cells broadcast + cell equi-join
    # + pair-cosine eval; the only exchange left is the final top-k
    # window, and nothing shuffles but the candidate pairs.
    scorer = make_ivf_scores_udf(
        source_cents_spec(sf_dir, N_CELLS, DIM),
        source_cents_spec(sf_dir, N_PROBES, DIM),
        nprobe=NPROBE,
    )
    scored = _corpus(spark, sf_dir).select("vec_id", "label", scorer("embedding").alias("s"))
    return _probe_topk(scored, ["label"], "cosines", "cosine", IVF_TOPK, desc=True)


# --- k-means Lloyd iteration (the IVF training step) ------------------------

_KM_K = 8  # clusters; seeds = first _KM_K corpus vectors (deterministic)


@register(
    "sim_kmeans_iter",
    oracle=f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS ce,
         {_DOT_DUCK.format(a='embedding', b='embedding')} AS cn2
  FROM {_EMB} WHERE vec_id < {_KM_K}
),
vecs AS (
  SELECT vec_id, embedding,
         {_DOT_DUCK.format(a='embedding', b='embedding')} AS vn2
  FROM {_EMB}
),
assign AS (
  SELECT v.vec_id, v.embedding, c.cent_id,
         v.vn2 + c.cn2 - 2 * {_DOT_DUCK.format(a='v.embedding', b='c.ce')} AS d2
  FROM vecs v CROSS JOIN cents c
),
cells AS (
  SELECT vec_id, embedding, cent_id AS cluster_id FROM assign
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1
),
comps AS (
  SELECT cluster_id, CAST(i - 1 AS INT) AS dim,
         CAST(ROUND(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(28,6)) AS val
  FROM cells, unnest(generate_series(1, len(embedding))) AS g(i)
)
SELECT cluster_id, dim,
       count(*) AS n_members,
       CAST(CAST(SUM(val) AS DOUBLE) / count(*) AS DOUBLE) AS centroid_val
FROM comps GROUP BY cluster_id, dim
""",
    tags=("sim", "ivf", "iterative"),
    doc=f"one Lloyd (k-means) iteration over the embedding corpus — the "
    f"training step behind the IVF quantizer (sim_ann_ivf seeds its cells the "
    f"same way): {_KM_K} seed centroids derived worker-side from the source parquet, squared-L2 "
    "assignment MAP-SIDE (functions/quantize.py — no K-fold corpus explode, "
    "no argmin window shuffle), then per-dimension cluster means via "
    "posexplode + exact DECIMAL(28,6) sums so the mean is "
    "shuffle-order-independent. At 100 TB the assignment is a zero-shuffle "
    "scan and the recompute is one (cluster, dim)-keyed partial "
    "aggregation — each further iteration stages the new K-row centroid "
    "table and re-runs the same two stages",
)
def sim_kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.quantize import make_nearest_centroid_udf, source_cents_spec

    emb = _corpus(spark, sf_dir)
    # r16: seeds derive worker-side from the source parquet (same rows the
    # staged table held) — the assignment pass is the query's ONLY job now
    nearest = make_nearest_centroid_udf(source_cents_spec(sf_dir, _KM_K, DIM), metric="l2")
    cells = emb.select("vec_id", "embedding", nearest("embedding").alias("cluster_id"))
    comps = cells.select(
        "cluster_id", F.posexplode("embedding").alias("dim", "raw")
    ).select(
        "cluster_id",
        "dim",
        F.round(F.col("raw").cast("double"), 6).cast("decimal(28,6)").alias("val"),
    )
    return comps.groupBy("cluster_id", "dim").agg(
        F.count(F.lit(1)).alias("n_members"),
        (F.sum("val").cast("double") / F.count(F.lit(1))).cast("double").alias("centroid_val"),
    )


# --- ANN quality evaluation: IVF recall vs the exact baseline ----------------

from meos_rs_spark.registry import QUERIES as _Q  # noqa: E402

_ANN_RECALL_ORACLE = f"""
WITH exact_raw AS ({_Q['sim_cosine_topk'].oracle}),
ann AS ({_Q['sim_ann_ivf'].oracle}),
exact AS (
  SELECT probe_id, vec_id,
         row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rk
  FROM exact_raw
)
SELECT a.probe_id,
       count(*) AS n_ann,
       CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_exact{TOP_K},
       CAST(SUM(CASE WHEN e.rk <= {IVF_TOPK} THEN 1 ELSE 0 END) AS BIGINT) AS n_hit{IVF_TOPK},
       CAST(SUM(CASE WHEN e.rk <= {IVF_TOPK} THEN 1 ELSE 0 END) AS DOUBLE) / {IVF_TOPK} AS recall{IVF_TOPK}
FROM ann a LEFT JOIN exact e ON e.probe_id = a.probe_id AND e.vec_id = a.vec_id
GROUP BY a.probe_id
"""


@register(
    "sim_ann_recall",
    oracle=_ANN_RECALL_ORACLE,
    tags=("sim", "ivf", "eval"),
    doc=f"ANN quality evaluation (the similarity twin of dedup_minhash_estimate): "
    f"per probe, how many of the IVF's top-{IVF_TOPK} land in the exact "
    f"top-{TOP_K}, and recall@{IVF_TOPK} against the exact top-{IVF_TOPK} — "
    "the measurement a pipeline runs before trusting the approximate path at "
    "100 TB; both legs are themselves oracled queries, composed",
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = sim_cosine_topk(spark, sf_dir)
    ann = sim_ann_ivf(spark, sf_dir)
    wr = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), "vec_id")
    ex = exact.withColumn("rk", F.row_number().over(wr)).select(
        F.col("probe_id").alias("e_probe"), F.col("vec_id").alias("e_vec"), "rk"
    )
    joined = ann.join(
        ex, (F.col("probe_id") == F.col("e_probe")) & (F.col("vec_id") == F.col("e_vec")), "left"
    )
    hit3 = F.sum(F.when(F.col("rk") <= IVF_TOPK, 1).otherwise(0))
    return joined.groupBy("probe_id").agg(
        F.count(F.lit(1)).alias("n_ann"),
        F.sum(F.when(F.col("e_vec").isNotNull(), 1).otherwise(0)).cast("bigint").alias(f"n_in_exact{TOP_K}"),
        hit3.cast("bigint").alias(f"n_hit{IVF_TOPK}"),
        (hit3.cast("double") / IVF_TOPK).alias(f"recall{IVF_TOPK}"),
    )


# --- coarse-to-fine retrieval: prefix-dimension rank, full-dimension rerank --

_PREFIX_DIM = 16
_COARSE_K = 20
_FINAL_K = 5

_PDOT_DUCK = (
    f"list_dot_product(CAST(list_slice({{a}}, 1, {_PREFIX_DIM}) AS DOUBLE[]), "
    f"CAST(list_slice({{b}}, 1, {_PREFIX_DIM}) AS DOUBLE[]))"
)


def _duck_prefix_cosine(a: str, b: str) -> str:
    return (
        f"{_PDOT_DUCK.format(a=a, b=b)} / "
        f"(sqrt({_PDOT_DUCK.format(a=a, b=a)}) * sqrt({_PDOT_DUCK.format(a=b, b=b)}))"
    )


@register(
    "sim_prefix_rerank",
    oracle=f"""
WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe FROM {_EMB} WHERE vec_id < {N_PROBES}),
coarse AS (
  SELECT p.probe_id, e.vec_id, e.label, p.pe, e.embedding,
         {_duck_prefix_cosine('p.pe', 'e.embedding')} AS pcos
  FROM probes p JOIN {_EMB} e ON e.vec_id != p.probe_id
  QUALIFY row_number() OVER (PARTITION BY p.probe_id ORDER BY pcos DESC, e.vec_id) <= {_COARSE_K}
)
SELECT probe_id, vec_id, label,
       {_duck_cosine('pe', 'embedding')} AS cosine
FROM coarse
QUALIFY row_number() OVER (PARTITION BY probe_id
                           ORDER BY {_duck_cosine('pe', 'embedding')} DESC, vec_id) <= {_FINAL_K}
""",
    tags=("sim",),
    doc=f"coarse-to-fine (matryoshka-style) retrieval: rank the corpus by "
    f"cosine over the first {_PREFIX_DIM} of {DIM} dimensions (a quarter of "
    f"the bytes read), keep {_COARSE_K} candidates per probe, then re-rank "
    f"those with the full-dimension cosine to top-{_FINAL_K} — the third ANN "
    "family beside LSH buckets and IVF cells: no index at all, just cheaper "
    "arithmetic first; at 100 TB the prefix would live in its own parquet "
    "column so the coarse pass scans a quarter of the data",
)
def sim_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    prefix = F.slice("embedding", 1, _PREFIX_DIM)
    emb = _corpus(spark, sf_dir).withColumn(
        "pre", prefix
    ).withColumn("prenorm", l2norm("pre")).withColumn("enorm", l2norm("embedding"))
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pe"),
        F.col("pre").alias("ppre"),
        F.col("prenorm").alias("ppnorm"),
        F.col("enorm").alias("pnorm"),
    )
    # try_divide on both passes: zero-norm vectors (or an all-zero PREFIX of
    # a nonzero vector — even likelier) yield NULL like the oracle's x/0
    # instead of an ANSI DIVIDE_BY_ZERO job abort; see sim_cosine_topk
    coarse = emb.join(broadcast(probes), F.col("vec_id") != F.col("probe_id")).withColumn(
        "pcos",
        F.try_divide(seq_dot(F.col("ppre"), F.col("pre")), F.col("ppnorm") * F.col("prenorm")),
    )
    wc = Window.partitionBy("probe_id").orderBy(F.col("pcos").desc(), "vec_id")
    cand = coarse.withColumn("__rn", F.row_number().over(wc)).filter(F.col("__rn") <= _COARSE_K)
    fine = cand.withColumn(
        "cosine",
        F.try_divide(seq_dot(F.col("pe"), F.col("embedding")), F.col("pnorm") * F.col("enorm")),
    )
    wf = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        fine.withColumn("__rnk", F.row_number().over(wf))
        .filter(F.col("__rnk") <= _FINAL_K)
        .select("probe_id", "vec_id", "label", "cosine")
    )


# --- k-NN graph build (all-corpus neighbor lists within LSH buckets) ---------

_KNN_K = 3


@register(
    "sim_knn_graph",
    oracle=f"""
WITH bucketed AS (
  SELECT vec_id, label, embedding, {_bucket_expr_duck_adaptive('embedding')} AS bucket
  FROM {_EMB}
),
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, b.label AS dst_label,
         {_duck_cosine('a.embedding', 'b.embedding')} AS cosine
  FROM bucketed a JOIN bucketed b
    ON b.bucket = a.bucket AND b.vec_id != a.vec_id
)
SELECT src, dst, dst_label, cosine,
       CAST(row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS BIGINT) AS nbr_rank
FROM pairs
QUALIFY row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) <= {_KNN_K}
""",
    tags=("sim", "lsh", "graph"),
    doc=f"k-NN GRAPH build (every corpus vector's top-{_KNN_K} neighbors, not "
    "just a probe set's): the adjacency list behind graph-based clustering "
    "and kNN-graph dedup. Same-bucket pairs only (sign-LSH with ADAPTIVE "
    "bucket granularity: plane count tracks corpus size, so mean bucket "
    "size stays ~constant and the pair count stays LINEAR in N at any "
    "scale — see _adaptive_bucket); per-source top-k via one window over "
    "the pair stream",
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _corpus(spark, sf_dir)
    bucketed = emb.withColumn("bucket", _adaptive_bucket(emb)).select(
        "vec_id", "label", "embedding", "bucket"
    )
    a = bucketed.select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("ea"), F.col("bucket").alias("ba")
    )
    b = bucketed.select(
        F.col("vec_id").alias("dst"), F.col("label").alias("dst_label"),
        F.col("embedding").alias("eb"), F.col("bucket").alias("bb"),
    )
    pairs = a.join(b, (F.col("ba") == F.col("bb")) & (F.col("src") != F.col("dst"))).withColumn(
        "cosine", cosine(F.col("ea"), F.col("eb"))
    )
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), "dst")
    return (
        pairs.withColumn("nbr_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("nbr_rank") <= _KNN_K)
        .select("src", "dst", "dst_label", "cosine", "nbr_rank")
    )


# --- product quantization ANN (ADC scan) ------------------------------------

PQ_M = 4          # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_K = 16         # centroids per subspace: the subvectors of vec_id 0..15

_D2_DUCK = (
    "(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))"
    " + list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " - 2 * list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])))"
)


@register(
    "sim_pq_ann",
    oracle=f"""
WITH sub AS (
  SELECT e.vec_id, t.m,
         list_slice(e.embedding, t.m * {PQ_SUBDIM} + 1, t.m * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sv
  FROM {_EMB} e CROSS JOIN range({PQ_M}) t(m)
),
cb AS (SELECT vec_id AS k, m, sv AS cv FROM sub WHERE vec_id < {PQ_K}),
enc AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT s.vec_id, s.m, c.k,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY {_D2_DUCK.format(a='s.sv', b='c.cv')}, c.k) AS rn
    FROM sub s JOIN cb c ON c.m = s.m
  ) WHERE rn = 1
),
enc_wide AS (
  SELECT vec_id,
         max(CASE WHEN m = 0 THEN code END) AS c0,
         max(CASE WHEN m = 1 THEN code END) AS c1,
         max(CASE WHEN m = 2 THEN code END) AS c2,
         max(CASE WHEN m = 3 THEN code END) AS c3
  FROM enc GROUP BY vec_id
),
pd AS (
  SELECT s.vec_id AS probe_id, c.m, c.k,
         {_D2_DUCK.format(a='s.sv', b='c.cv')} AS pd2
  FROM sub s JOIN cb c ON c.m = s.m
  WHERE s.vec_id < {N_PROBES}
),
scored AS (
  SELECT p0.probe_id, w.vec_id,
         p0.pd2 + p1.pd2 + p2.pd2 + p3.pd2 AS approx_d2
  FROM enc_wide w
  JOIN pd p0 ON p0.m = 0 AND p0.k = w.c0
  JOIN pd p1 ON p1.m = 1 AND p1.k = w.c1 AND p1.probe_id = p0.probe_id
  JOIN pd p2 ON p2.m = 2 AND p2.k = w.c2 AND p2.probe_id = p0.probe_id
  JOIN pd p3 ON p3.m = 3 AND p3.k = w.c3 AND p3.probe_id = p0.probe_id
  WHERE w.vec_id != p0.probe_id
)
SELECT probe_id, vec_id, approx_d2
FROM scored
QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY approx_d2, vec_id) <= {TOP_K}
""",
    tags=("sim", "ann"),
    doc=f"product-quantization ANN (the FAISS-style codebook path, completing "
    f"the ANN triad with sign-LSH and IVF): {PQ_M}x{PQ_SUBDIM}-dim subspaces, "
    f"{PQ_K} deterministic centroids per subspace (the first {PQ_K} vectors' "
    f"subvectors), asymmetric-distance scan via per-probe lookup tables. "
    f"Encode + ADC = ONE MAP-SIDE Arrow pass (functions/quantize.py "
    f"make_pq_adc_udf): the kernel assigns codes against the source-derived "
    f"codebook and totals the constant-sized per-probe LUT "
    f"({N_PROBES}x{PQ_M}x{PQ_K} doubles) in fixed m-order — bit-identical "
    f"to the 4-broadcast-join ADC shape it replaced (r16), with zero joins "
    f"and zero corpus shuffles before the final top-k window. At 100 TB "
    f"codes are {PQ_M} bytes/vector vs {DIM * 4} for raw floats -- the scan "
    f"touches 64x less data; squared distances stay in dot-product form so "
    f"both engines fold identically.",
)
def sim_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.quantize import make_pq_adc_udf, source_cents_spec

    emb = _corpus(spark, sf_dir)
    # one Arrow pass per corpus vector: assign all PQ_M codes AND total the
    # per-probe ADC lookup entries (probes and codebook both derive
    # worker-side from the source parquet — the same first-K-valid rows
    # the probe scan / staged codebook selected). No M-fold corpus
    # explode, no per-subspace argmin window, no LUT joins: the old shape
    # rebuilt the probe LUT chain once per subspace (4 broadcast builds ×
    # (probe scan + codebook broadcast + Arrow eval) per run).
    adc = make_pq_adc_udf(
        source_cents_spec(sf_dir, PQ_K, DIM),
        source_cents_spec(sf_dir, N_PROBES, DIM),
        n_sub=PQ_M,
        subdim=PQ_SUBDIM,
    )
    scored = emb.select("vec_id", adc("embedding").alias("s"))
    return _probe_topk(scored, [], "d2s", "approx_d2", TOP_K, desc=False)


# --- PageRank over the kNN graph (iterative power method) -------------------

PR_DAMP = 0.85
PR_ITERS = 3


def _pr_iter_sql(prev: str, cur: str) -> str:
    """One unrolled power-iteration CTE (DuckDB side)."""
    return f"""{cur} AS (
  SELECT n.node,
         0.15 / nn.n + {PR_DAMP} * CAST(COALESCE(s.acc, 0) AS DOUBLE) AS pr
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst, SUM(CAST(ROUND(p.pr / d.outdeg, 12) AS DECIMAL(28,12))) AS acc
    FROM edges e JOIN {prev} p ON p.node = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON s.dst = n.node
)"""


_PR_ORACLE = f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_bucket_expr_duck_adaptive('embedding')} AS bucket FROM {_EMB}
),
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {_duck_cosine('a.embedding', 'b.embedding')} AS cosine
  FROM bucketed a JOIN bucketed b
    ON b.bucket = a.bucket AND b.vec_id != a.vec_id
),
edges AS (
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rn
    FROM pairs
  ) WHERE rn <= {_KNN_K}
),
nodes AS (SELECT vec_id AS node FROM {_EMB}),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
pr0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
{",".join(_pr_iter_sql(f"pr{i}", f"pr{i + 1}") for i in range(PR_ITERS))}
SELECT node, pr FROM pr{PR_ITERS}
"""


@register(
    "sim_pagerank",
    oracle=_PR_ORACLE,
    tags=("sim", "graph", "iterative"),
    doc=f"PageRank over the kNN graph ({PR_ITERS} power iterations, d={PR_DAMP}): "
    "the canonical iterative distributed graph algorithm, here as a "
    "deterministic fixed-unroll so DuckDB can oracle it via chained CTEs. "
    "Per-iteration contributions pr(u)/outdeg(u) are rounded to 1e-12 and "
    "decimal-summed per target (order-independent across the shuffle), then "
    "widened back to DOUBLE for the damping blend -- the same "
    "round-then-decimal-sum canon every money aggregate here uses. Scale "
    "shape: each iteration is one shuffle of the edge fact on dst (edges "
    "stay partition-stable and cached); node vector joins are broadcast. "
    "Dangling-node mass is dropped (standard simplification), noted here "
    "for parity with the oracle.",
)
def sim_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.staging import side_table_name, stage

    emb = _corpus(spark, sf_dir)
    # corpus-sized edge fact read by all 3 unrolled iterations — parquet
    # staging table, not an executor-memory pin (same rationale as the
    # minhash shingles; at 100 TB the kNN edge list is 3x the corpus)
    edges = stage(
        sim_knn_graph(spark, sf_dir).select("src", "dst"),
        side_table_name("pagerank_edges", sf_dir),
    )
    nodes = emb.select(F.col("vec_id").alias("node"))
    # node count as a scalar subquery: inlined per use, no join operator
    # (the former 1-row crossJoin planned as a BNLJ in every iteration)
    n = nodes.agg(F.count("*").cast("double").alias("n")).scalar()
    deg = edges.groupBy("src").agg(F.count("*").cast("double").alias("outdeg"))
    pr = nodes.select("node", (F.lit(1.0) / n).alias("pr"))
    zero = F.lit(0).cast("decimal(38,12)")
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(pr.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select("dst", F.round(F.col("pr") / F.col("outdeg"), 12).cast("decimal(28,12)").alias("c"))
        )
        summed = contrib.groupBy("dst").agg(F.sum("c").alias("acc"))
        pr = (
            nodes.join(summed, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (F.lit(0.15) / n
                 + F.lit(PR_DAMP) * F.coalesce(F.col("acc"), zero).cast("double")).alias("pr"),
            )
        )
    return pr


# --- semantic deduplication (SemDeDup) --------------------------------------

SEMDEDUP_TAU = 0.35  # cosine threshold; fixture embeddings are near-random
                     # (max within-cluster cosine ~0.49), so 0.35 prunes a
                     # non-trivial but minority subset


@register(
    "dedup_semantic",
    oracle=f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS ce,
         {_DOT_DUCK.format(a='embedding', b='embedding')} AS cn2
  FROM {_EMB} WHERE vec_id < {_KM_K}
),
vecs AS (
  SELECT vec_id, embedding,
         {_DOT_DUCK.format(a='embedding', b='embedding')} AS vn2
  FROM {_EMB}
),
assign AS (
  SELECT v.vec_id, v.embedding, v.vn2, c.cent_id,
         v.vn2 + c.cn2 - 2 * {_DOT_DUCK.format(a='v.embedding', b='c.ce')} AS d2
  FROM vecs v CROSS JOIN cents c
),
cells AS (
  SELECT vec_id, embedding, vn2, cent_id AS cluster_id FROM assign
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1
),
pairs AS (
  SELECT a.cluster_id, b.vec_id AS vb,
         {_DOT_DUCK.format(a='a.embedding', b='b.embedding')} AS dot,
         a.vn2 AS na, b.vn2 AS nb
  FROM cells a JOIN cells b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
),
dup AS (
  SELECT cluster_id, vb FROM pairs
  WHERE dot > 0
    AND dot * dot > CAST({SEMDEDUP_TAU} AS DOUBLE) * CAST({SEMDEDUP_TAU} AS DOUBLE) * na * nb
),
members AS (SELECT cluster_id, count(*) AS n_members FROM cells GROUP BY cluster_id),
dstats AS (
  SELECT cluster_id, count(*) AS n_dup_pairs, count(DISTINCT vb) AS n_removed
  FROM dup GROUP BY cluster_id
)
SELECT m.cluster_id, m.n_members,
       COALESCE(d.n_dup_pairs, 0) AS n_dup_pairs,
       COALESCE(d.n_removed, 0) AS n_removed,
       m.n_members - COALESCE(d.n_removed, 0) AS n_kept
FROM members m LEFT JOIN dstats d USING (cluster_id)
""",
    tags=("dedup", "sim", "semdedup"),
    doc=f"semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the "
    f"corpus into {_KM_K} k-means cells (seed centroids derived worker-side "
    "from the source parquet, squared-L2 assignment map-side via functions/quantize.py — no "
    "K-fold corpus explode, no argmin window shuffle), then prune "
    f"within-cluster pairs whose cosine exceeds {SEMDEDUP_TAU} keeping the "
    "lowest vec_id. The threshold compare stays in sqrt-free dot-product "
    "form (dot^2 > tau^2 * |a|^2 * |b|^2), bit-exact across engines, so the "
    "per-cluster prune counts need no decimal canon. Scale shape: "
    "clustering makes the pairwise step embarrassingly parallel per cell -- "
    "one shuffle on cluster_id, pairs never cross cells; at 100 TB cap or "
    "subsample cells above a size bound (the paper's own mitigation) "
    "exactly like the LSH hot-bucket cap in dedup_minhash_lsh.",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.quantize import make_nearest_centroid_udf, source_cents_spec

    emb = _corpus(spark, sf_dir)
    # r16: seed centroids derive worker-side from the source parquet (same
    # rows the staged table held) — no per-run staging write job
    nearest = make_nearest_centroid_udf(source_cents_spec(sf_dir, _KM_K, DIM), metric="l2")
    # ONE map pass (vn2 fold + cell argmin, embedding carried along) into
    # ONE cluster_id exchange that every consumer reuses (r16 optimization,
    # guide §2.4): the three readers below — both pair-join sides and the
    # members census — are canonically identical subplans, so AQE's shuffle
    # -stage reuse materializes the map stage ONCE and serves all three
    # (verified: the corpus scan appears in exactly one executed stage).
    # The r12 shape staged a narrow (vec_id, vn2, cluster_id) table and
    # re-attached embeddings from the source parquet per side, which at
    # scale shuffles the embedded corpus once per join SIDE (vec_id
    # attach ×2 when cells outgrows the broadcast threshold) PLUS once per
    # pair-join side on cluster_id, and pays a scratch write job besides —
    # four corpus-sized exchanges and a write where one exchange suffices.
    # Spill posture is unchanged: the exchange is sort-based and
    # disk-backed exactly like the parquet staging it replaces, with no
    # executor-memory residency assumption (not a .cache()).
    # CORRECTNESS under reuse-miss (r16 ADVICE): the single-evaluation
    # here is an AQE shuffle-stage-reuse optimization, not a guarantee —
    # with AQE off or a plan-canonicalization miss, the three consumers
    # each re-run the scan + Arrow kernel. Results stay IDENTICAL either
    # way because the kernel is value-deterministic (the
    # asNondeterministic pin on nearest_centroid is an optimizer fence
    # against duplicate evaluation, not a statement about its values);
    # only the single-materialization perf property is AQE-dependent
    # (tests/test_plans.py pins the static shape, the profile artifacts
    # record the executed single-stage scan).
    pts = emb.select(
        "vec_id",
        "embedding",
        seq_dot("embedding", "embedding").alias("vn2"),
        nearest("embedding").alias("cluster_id"),
    ).repartition("cluster_id")
    a = pts.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("vn2").alias("na"),
    )
    b = pts.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("vn2").alias("nb"),
    )
    tau = F.lit(SEMDEDUP_TAU).cast("double")
    dup = (
        a.join(b, ["cluster_id"])
        .filter(F.col("va") < F.col("vb"))
        .withColumn("dot", seq_dot(F.col("ea"), F.col("eb")))
        .filter(
            (F.col("dot") > 0)
            & (F.col("dot") * F.col("dot") > tau * tau * F.col("na") * F.col("nb"))
        )
        .select("cluster_id", "vb")
    )
    members = pts.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    dstats = dup.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("vb").alias("n_removed"),
    )
    return (
        members.join(dstats, ["cluster_id"], "left")
        .select(
            "cluster_id",
            "n_members",
            F.coalesce("n_dup_pairs", F.lit(0).cast("bigint")).alias("n_dup_pairs"),
            F.coalesce("n_removed", F.lit(0).cast("bigint")).alias("n_removed"),
            (F.col("n_members") - F.coalesce("n_removed", F.lit(0).cast("bigint"))).alias("n_kept"),
        )
    )


# --- MMR diversified re-ranking ---------------------------------------------

MMR_K = 3       # selections per probe
MMR_POOL = 10   # candidate pool = the exact top-10
# lambda = 0.5: halving a double is exact, so every MMR score is one exact
# multiply + one subtract over bit-exact cosines -- no decimal canon needed

_MMR_CAND = f"""
probes AS (
  SELECT vec_id AS probe_id, embedding AS pe,
         {_DOT_DUCK.format(a='embedding', b='embedding')} AS pn2
  FROM {_EMB} WHERE vec_id < {N_PROBES}
),
cand AS (
  SELECT p.probe_id, p.pe, p.pn2, e.vec_id, e.embedding AS ce,
         {_DOT_DUCK.format(a='e.embedding', b='e.embedding')} AS cn2,
         {_DOT_DUCK.format(a='p.pe', b='e.embedding')}
           / (sqrt(p.pn2) * sqrt({_DOT_DUCK.format(a='e.embedding', b='e.embedding')})) AS rel
  FROM probes p JOIN {_EMB} e ON e.vec_id != p.probe_id
  QUALIFY row_number() OVER (PARTITION BY p.probe_id ORDER BY rel DESC, e.vec_id) <= {MMR_POOL}
)
"""


def _duck_pairsim(a_emb: str, a_n2: str, b_emb: str, b_n2: str) -> str:
    return (
        f"{_DOT_DUCK.format(a=a_emb, b=b_emb)} / (sqrt({a_n2}) * sqrt({b_n2}))"
    )


@register(
    "sim_mmr_rerank",
    oracle=f"""
WITH {_MMR_CAND},
s1 AS (
  SELECT probe_id, vec_id, ce, cn2, rel, rel AS mmr FROM cand
  QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY rel DESC, vec_id) = 1
),
r2 AS (
  SELECT c.probe_id, c.vec_id, c.ce, c.cn2, c.rel,
         0.5 * c.rel - 0.5 * ({_duck_pairsim('c.ce', 'c.cn2', 's.ce', 's.cn2')}) AS mmr
  FROM cand c JOIN s1 s ON s.probe_id = c.probe_id AND c.vec_id != s.vec_id
),
s2 AS (
  SELECT * FROM r2
  QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY mmr DESC, vec_id) = 1
),
r3 AS (
  SELECT c.probe_id, c.vec_id, c.rel,
         0.5 * c.rel - 0.5 * greatest(
           {_duck_pairsim('c.ce', 'c.cn2', 'a.ce', 'a.cn2')},
           {_duck_pairsim('c.ce', 'c.cn2', 'b.ce', 'b.cn2')}) AS mmr
  FROM cand c
  JOIN s1 a ON a.probe_id = c.probe_id
  JOIN s2 b ON b.probe_id = c.probe_id
  WHERE c.vec_id != a.vec_id AND c.vec_id != b.vec_id
),
s3 AS (
  SELECT probe_id, vec_id, rel, mmr FROM r3
  QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY mmr DESC, vec_id) = 1
)
SELECT probe_id, 1 AS sel_rank, vec_id, rel, mmr FROM s1
UNION ALL SELECT probe_id, 2, vec_id, rel, mmr FROM s2
UNION ALL SELECT probe_id, 3, vec_id, rel, mmr FROM s3
""",
    tags=("sim", "rerank", "iterative"),
    doc=f"Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998): "
    f"greedy diversity-aware selection of {MMR_K} results from each probe's "
    f"exact top-{MMR_POOL} pool, score = 0.5*relevance - 0.5*max-similarity-"
    "to-already-selected, unrolled selection steps exactly like "
    "sim_pagerank's power iterations. Every score is exact-halved bit-exact "
    "cosine arithmetic (ties broken by vec_id), so no decimal canon is "
    "needed. Scale shape: the pool is top-k-bounded per probe (TakeOrdered), "
    "each greedy step is a per-probe equi-join against a 1-row selected set "
    "-- work is O(probes x pool x k), never corpus-quadratic.",
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _corpus(spark, sf_dir)
    probes = (
        emb.filter(F.col("vec_id") < N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("pe"),
            seq_dot("embedding", "embedding").alias("pn2"),
        )
    )
    corpus = emb.select(
        "vec_id", F.col("embedding").alias("ce"), seq_dot("embedding", "embedding").alias("cn2")
    )
    scored = (
        corpus.join(broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .withColumn(
            # try_divide: zero-norm vectors give NULL like the oracle's x/0,
            # not an ANSI DIVIDE_BY_ZERO job abort (see sim_cosine_topk)
            "rel",
            F.try_divide(seq_dot(F.col("pe"), F.col("ce")), F.sqrt("pn2") * F.sqrt("cn2")),
        )
    )
    wp = Window.partitionBy("probe_id").orderBy(F.col("rel").desc(), F.col("vec_id").asc())
    from meos_rs_spark.functions.staging import side_table_name, stage

    # bounded to MMR_POOL rows per probe, but the greedy unroll below reads
    # it 3+ times — stage once (uniform with the other materializations;
    # with many probes this pool is corpus-scale too)
    cand = stage(
        scored.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= MMR_POOL)
        .select("probe_id", "vec_id", "ce", "cn2", "rel"),
        side_table_name("mmr_pool", sf_dir),
    )

    def pick(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("probe_id").orderBy(F.col("mmr").desc(), F.col("vec_id").asc())
        return df.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") == 1)

    def pairsim(e_other, n_other):
        return F.try_divide(seq_dot(F.col("ce"), e_other), F.sqrt("cn2") * F.sqrt(n_other))

    s1 = pick(cand.withColumn("mmr", F.col("rel"))).select(
        "probe_id", "vec_id", "ce", "cn2", "rel", "mmr"
    )
    sel1 = s1.select(
        "probe_id", F.col("vec_id").alias("v1"), F.col("ce").alias("e1"), F.col("cn2").alias("n1")
    )
    r2 = (
        cand.join(broadcast(sel1), "probe_id")
        .filter(F.col("vec_id") != F.col("v1"))
        .withColumn("mmr", F.lit(0.5) * F.col("rel") - F.lit(0.5) * pairsim(F.col("e1"), "n1"))
    )
    s2 = pick(r2).select("probe_id", "vec_id", "ce", "cn2", "rel", "mmr")
    sel2 = s2.select(
        "probe_id", F.col("vec_id").alias("v2"), F.col("ce").alias("e2"), F.col("cn2").alias("n2")
    )
    r3 = (
        cand.join(broadcast(sel1), "probe_id")
        .join(broadcast(sel2), "probe_id")
        .filter((F.col("vec_id") != F.col("v1")) & (F.col("vec_id") != F.col("v2")))
        .withColumn(
            "mmr",
            F.lit(0.5) * F.col("rel")
            - F.lit(0.5) * F.greatest(pairsim(F.col("e1"), "n1"), pairsim(F.col("e2"), "n2")),
        )
    )
    s3 = pick(r3).select("probe_id", "vec_id", "ce", "cn2", "rel", "mmr")
    out = None
    for i, s in enumerate((s1, s2, s3), start=1):
        part = s.select("probe_id", F.lit(i).alias("sel_rank"), "vec_id", "rel", "mmr")
        out = part if out is None else out.unionAll(part)
    return out


# --- multi-probe sign-LSH ANN (recall-raising scale path) -------------------

# Hamming-1 probing: each probe searches its own bucket plus every bucket one
# flipped hyperplane away — 1 + N_PLANES buckets total
_MP_FLIPS = [0] + [1 << p for p in range(N_PLANES)]


@register(
    "sim_ann_multiprobe",
    oracle=f"""
WITH bucketed AS (
  SELECT vec_id, label, embedding, {_bucket_expr_duck('embedding')} AS bucket
  FROM {_EMB}
),
probes AS (SELECT vec_id AS probe_id, embedding AS pe, bucket AS pb
           FROM bucketed WHERE vec_id < {N_PROBES}),
pq AS (
  SELECT probe_id, pe, xor(pb, m.f) AS qb
  FROM probes, (SELECT unnest({_MP_FLIPS}) AS f) m
),
cand AS (
  SELECT p.probe_id, e.vec_id, e.label,
         {_duck_cosine('p.pe', 'e.embedding')} AS cosine
  FROM pq p JOIN bucketed e ON e.bucket = p.qb AND e.vec_id != p.probe_id
)
SELECT probe_id, vec_id, label, cosine
FROM cand
QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) <= {LSH_TOPK}
""",
    tags=("sim", "lsh"),
    doc=f"multi-probe sign-LSH ANN (Lv et al. multi-probe LSH, the standard "
    "recall-vs-index-size lever): each probe expands to its own bucket plus "
    f"the {N_PLANES} Hamming-distance-1 buckets (one flipped hyperplane each), "
    "the probe×bucket fan-out stays a tiny broadcast side, and candidates "
    "still meet the corpus via the bucket equi-join — ~9× the candidate pool "
    "of sim_ann_lsh for zero extra corpus passes. The flip set is disjoint, "
    "so no candidate dedup is needed before the re-rank",
)
def sim_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _corpus(spark, sf_dir)
    bucketed = emb.withColumn("bucket", make_lsh_bucket_udf(N_PLANES, DIM)(F.col("embedding")))
    probes = bucketed.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe"), F.col("bucket").alias("pb")
    )
    flips = F.array(*[F.lit(f) for f in _MP_FLIPS])
    pq = probes.select(
        "probe_id", "pe", "pb", F.explode(flips).alias("f")
    ).select("probe_id", "pe", F.expr("pb ^ f").alias("qb"))
    cand = bucketed.join(
        broadcast(pq), (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != F.col("probe_id"))
    ).withColumn("cosine", cosine(F.col("pe"), F.col("embedding")))
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= LSH_TOPK)
        .select("probe_id", "vec_id", "label", "cosine")
    )
