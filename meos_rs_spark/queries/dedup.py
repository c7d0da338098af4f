"""Deduplication operators for LLM training-data pipelines (north-star ops,
BASELINE.json; SURVEY.md §2.10 / §7 M5) over the ``documents`` fixture.

Four tiers, all built for 100 TB first:
  * exact          — hash groupBy (one shuffle on the digest)
  * MinHash + LSH  — shingle → 16-way minhash signature → 4 banded hash
                     buckets → equi-join within buckets → exact-Jaccard
                     re-rank. NEVER an all-pairs crossJoin: candidate
                     generation is a bucket equi-join whose group sizes are
                     the LSH collision sets.
  * SimHash        — 16-bit sign-of-weighted-sum fingerprint, one groupBy
  * n-gram Jaccard — exact set similarity via a shingle-equi-join (the
                     verification primitive the LSH tier reuses)

Hash function is md5 (bit-identical in Spark and DuckDB), so every tier is
fully oracle-checkable — no rows-only fallbacks here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from meos_rs_spark.registry import register
from meos_rs_spark.sources.tables import load_table

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
# LSH collision sets are quadratic in bucket size: one boilerplate-heavy band
# key on a real corpus explodes the candidate self-join. Buckets above this
# cap are dropped (identically in Spark and the oracle); dropped buckets are
# near-duplicate cliques better handled by exact dedup upstream.
MAX_BUCKET = 64


# --- exact dedup -----------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
WITH hashed AS (
  SELECT doc_id, md5(text) AS text_hash FROM documents
)
SELECT doc_id, text_hash,
       min(doc_id) OVER (PARTITION BY text_hash) AS canonical_id,
       CAST(doc_id != min(doc_id) OVER (PARTITION BY text_hash) AS INT) AS is_dup,
       count(*) OVER (PARTITION BY text_hash) AS n_copies
FROM hashed
""",
    tags=("dedup",),
    doc="exact dedup: digest → window-min canonical; scales as one shuffle on the digest",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", F.md5("text").alias("text_hash"))
    w = Window.partitionBy("text_hash")
    return d.select(
        "doc_id",
        "text_hash",
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).cast("int").alias("is_dup"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )


# --- shared shingle SQL ----------------------------------------------------

# word-level 3-shingles, distinct per doc (1-indexed in both engines)
_SHINGLES_DUCK = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
shingles AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 3
)
"""


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.staging import fan_out

    d = load_table(spark, sf_dir, "documents").select("doc_id", F.split("text", " ").alias("t"))
    d = fan_out(d, "doc_id")  # under-split guard: see functions/staging.py
    return (
        d.filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr("transform(sequence(1, size(t) - 2), i -> concat(t[i-1], ' ', t[i], ' ', t[i+1]))")
                )
            ).alias("sh"),
        )
    )


def _minhash_sig_exprs() -> list[str]:
    # h_j = min over shingles of an 8-hex-char (32-bit) slice of
    # md5(shingle || '#q'), q = j // 4: each 128-bit digest yields FOUR
    # independent 32-bit hash functions (standard 32-bit minhash), so the
    # md5-heaviest map stage of the pipeline computes N_HASHES/4 digests per
    # (doc, shingle) row instead of N_HASHES. Fixed-width lowercase hex, so
    # lexicographic min == numeric min, engine-identically; both engines'
    # substr is 1-based.
    return [
        f"min(substr(md5(sh || '#{j // 4}'), {(j % 4) * 8 + 1}, 8)) AS h{j}"
        for j in range(N_HASHES)
    ]


def _minhash_sig_cols() -> list:
    """Spark side of ``_minhash_sig_exprs``: the SQL strings are
    engine-portable (``||``, ``substr``, ``md5``, ``min`` parse identically
    in Spark SQL and DuckDB), so F.expr reuses the ONE definition and the
    two engines cannot drift. Catalyst's subexpression elimination
    collapses the four slices of one digest to a single md5 evaluation."""
    return [F.expr(e) for e in _minhash_sig_exprs()]


# --- MinHash + LSH near-dup ------------------------------------------------

_BANDS_DUCK = ", ".join(
    "md5(" + " || '|' || ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)) + f") AS band{b}"
    for b in range(N_BANDS)
)

# CTE block shared by dedup_minhash_lsh and dedup_components (the latter
# wraps it in WITH RECURSIVE for the label-propagation oracle)
_MINHASH_CTES = f"""{_SHINGLES_DUCK},
sig AS (
  SELECT doc_id, {', '.join(_minhash_sig_exprs())}
  FROM shingles GROUP BY doc_id
),
banded AS (
  SELECT doc_id, {_BANDS_DUCK} FROM sig
),
buckets AS (
  SELECT doc_id, b.band_id, b.key FROM banded,
  LATERAL (VALUES (0, band0), (1, band1), (2, band2), (3, band3)) AS b(band_id, key)
  QUALIFY count(*) OVER (PARTITION BY b.band_id, b.key) <= {MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band_id = b.band_id AND a.key = b.key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.id_a
  JOIN shingles sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
  GROUP BY c.id_a, c.id_b
),
scored AS (
  SELECT c.id_a, c.id_b,
         COALESCE(i.n_inter, 0) AS n_inter,
         za.n + zb.n - COALESCE(i.n_inter, 0) AS n_union,
         CAST(COALESCE(i.n_inter, 0) AS DOUBLE) / (za.n + zb.n - COALESCE(i.n_inter, 0)) AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes za ON za.doc_id = c.id_a
  JOIN sizes zb ON zb.doc_id = c.id_b
)"""

_MINHASH_ORACLE = f"""
WITH {_MINHASH_CTES}
SELECT id_a, id_b, n_inter, n_union, jaccard FROM scored
"""


def _staged_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged per-doc minhash signature table (h0..h15, n, shs).

    ONE pass over the exploded shingle fact (a map-only derivation of the
    documents scan — never materialized itself) produces everything the
    LSH pipeline needs per doc: the 16-way signature, the shingle count,
    AND the shingle set as an array. Staging that one table means the
    corpus is scanned exactly once and the scratch write is
    ~shingle-set-sized (~3x text bytes — each word starts at most one
    3-shingle), vs the r5 shape's 10x-corpus exploded-fact staging plus
    fact-sized reads back for the re-rank. The 4 md5 calls per (doc,
    shingle) row (each digest sliced into four 32-bit minhash components,
    _minhash_sig_cols) are pure map-side codegen and the partial
    min-aggregate shrinks the shuffle to per-doc rows. (The r2
    shingle-dictionary variant saved md5 calls but paid two extra
    fact-sized shuffles; the wrong trade at 100 TB where the global
    dictionary itself is huge.)

    Shared by dedup_minhash_lsh (and through it dedup_components and
    text_curation_pipeline) and dedup_minhash_estimate. Each build stages
    the signature once (the estimate query joins against the same frame
    instead of recomputing it from a second corpus scan); a later build in
    the same session rewrites the table, per ``stage()``'s contract.
    """
    from meos_rs_spark.functions.staging import side_table_name, stage

    sh = _shingles(spark, sf_dir)
    return stage(
        sh.groupBy("doc_id").agg(
            *_minhash_sig_cols(),
            F.count(F.lit(1)).alias("n"),
            # NOT sorted: the sets only feed array_intersect (order-
            # insensitive) and never appear in output — sorting them cost
            # ~40% of the whole signature aggregation
            F.collect_set("sh").alias("shs"),
        ),
        # sf-keyed: a session building this at two scales must not have the
        # second build overwrite part-files the first scale's returned
        # DataFrame scans already resolved (ADVICE r6)
        side_table_name("minhash_sig", sf_dir),
    )


@register(
    "dedup_minhash_lsh",
    oracle=_MINHASH_ORACLE,
    tags=("dedup", "lsh"),
    doc=f"near-dup candidates: {N_HASHES} minhashes → {N_BANDS} bands → bucket equi-join "
    f"(collision sets capped at {MAX_BUCKET} docs, mirrored in the oracle) → exact-Jaccard "
    "re-rank over candidate docs only; no cartesian product at any stage",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_scored(_staged_sig(spark, sf_dir))


def _lsh_scored(sig: DataFrame) -> DataFrame:
    """Band → bucket → candidate pairs → exact-Jaccard re-rank over the
    staged signature table. Split out so dedup_minhash_estimate can build
    from the SAME ``_staged_sig`` DataFrame it joins against: invoking
    ``stage()`` twice for one query would overwrite the staged part-files
    the first invocation's scans already resolved — FILE_NOT_EXIST at
    execution time."""
    band_cols = [
        F.md5(F.concat_ws("|", *[f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)])).alias(f"band{b}")
        for b in range(N_BANDS)
    ]
    # column pruning on the staged parquet keeps the shingle arrays out of
    # the banding path — this reads (doc_id, h0..h15) only
    banded = sig.select("doc_id", *band_cols)
    buckets = banded.select(
        "doc_id",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("key")) for b in range(N_BANDS)])
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band_id").alias("band_id"), F.col("bk.key").alias("key"))
    # bucket groups: ONE shuffle on (band, key) does the hot-bucket census,
    # the cap, and the pair generation together — collision sets above
    # MAX_BUCKET are dropped whole (skew guard, mirrored in the oracle's
    # QUALIFY), and pairs come from a map-side expansion of each surviving
    # group's sorted id array (id_a < id_b by construction, bounded by
    # C(MAX_BUCKET, 2) per bucket). This replaces the r5 census + broadcast
    # anti-join + bucket self-join chain — three shuffles of the bucket
    # table — with one, and stays bucket-local at any scale.
    groups = buckets.groupBy("band_id", "key").agg(
        F.array_sort(F.collect_set("doc_id")).alias("ids")
    )
    cand = (
        groups.filter((F.size("ids") >= 2) & (F.size("ids") <= MAX_BUCKET))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), y -> "
                    "struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    # exact-Jaccard re-rank: the per-doc shingle sets already ride on the
    # staged signature table, so intersection is a map-side array_intersect
    # over the candidate pairs — no shingle-level join, no second corpus
    # scan; the two doc_id equi-joins against sig are all that remains
    za = sig.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"), F.col("shs").alias("shs_a"))
    zb = sig.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"), F.col("shs").alias("shs_b"))
    n_inter = F.size(F.array_intersect("shs_a", "shs_b")).cast("long")
    return (
        cand.join(za, "id_a")
        .join(zb, "id_b")
        .select(
            "id_a",
            "id_b",
            n_inter.alias("n_inter"),
            (F.col("n_a") + F.col("n_b") - n_inter).alias("n_union"),
            (
                n_inter.cast("double")
                / (F.col("n_a") + F.col("n_b") - n_inter)
            ).alias("jaccard"),
        )
    )


# --- near-dup clustering: connected components over the pair graph ---------

CC_JACCARD = 0.6  # fixture near-dups all score >= 0.89; 0.6 keeps the full graph
CC_ROUNDS = 8  # min-label propagation rounds; components are LSH-bucket
# cliques (diameter 1-2), so 8 rounds is a wide safety margin over the true
# diameter. The parity twin compares against DuckDB's exact transitive
# closure, so any unconverged component fails the hash outright.


@register(
    "dedup_components",
    oracle=f"""
WITH RECURSIVE {_MINHASH_CTES},
pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= {CC_JACCARD}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
walk(id, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.id = e.dst
)
SELECT id AS doc_id,
       min(label) AS component,
       CAST(min(label) = id AS INT) AS is_canonical
FROM walk GROUP BY id
""",
    tags=("dedup", "lsh"),
    doc=f"near-dup clustering: connected components over the jaccard>={CC_JACCARD} "
    "pair graph via min-label propagation (the canonical-doc assignment step after "
    "pair generation in a dedup pipeline). Fixed-round joins, no driver loop state; "
    "at 100 TB diameter stays O(1) because components are LSH-bucket cliques — for "
    "adversarial graphs swap in alternating large-star/small-star with checkpoints. "
    "Oracle is DuckDB's recursive-CTE transitive closure (exact components).",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).filter(F.col("jaccard") >= CC_JACCARD).select(
        "id_a", "id_b"
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    return _min_label_components(edges)


def _min_label_components(edges: DataFrame) -> DataFrame:
    """Min-label propagation over a symmetric (src, dst) edge frame, with
    convergence early-exit (r16 optimization): propagation is monotone, so
    a round that changes NO label proves the fixed point and every further
    round is identity work — on LSH-clique graphs (diameter 1-2) that
    retires 5 of the 8 eagerly-checkpointed rounds, each a serial
    join+shuffle+materialize. CC_ROUNDS stays the hard bound, and the
    parity twin still compares against DuckDB's exact transitive closure,
    so an early exit can never ship an unconverged component (the
    convergence test runs on the SAME materialized frame the next round
    would read — one LIMIT-1 job per executed round)."""
    # materialize once and truncate lineage: each propagation round references
    # the previous labels TWICE, so without checkpointing the logical plan
    # doubles per round (2^rounds copies of the whole LSH pipeline — OOMs the
    # planner long before execution). localCheckpoint is the local[] form; a
    # cluster deployment points spark.checkpoint.dir at durable storage and
    # uses checkpoint() for executor-loss tolerance.
    edges = edges.localCheckpoint(eager=True)
    labels = edges.select(F.col("src").alias("doc_id")).distinct().withColumn(
        "label", F.col("doc_id")
    )
    for _ in range(CC_ROUNDS):
        nbr = (
            edges.join(labels.withColumnRenamed("doc_id", "dst_id"), F.col("dst") == F.col("dst_id"))
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr, labels.doc_id == nbr.src, "left")
            .select(
                "doc_id",
                F.col("label").alias("__prev"),
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        converged = labels.filter(F.col("label") != F.col("__prev")).isEmpty()
        labels = labels.drop("__prev")
        if converged:
            break
    return labels.select(
        "doc_id",
        F.col("label").alias("component"),
        (F.col("label") == F.col("doc_id")).cast("int").alias("is_canonical"),
    )


# --- SimHash ---------------------------------------------------------------


def _simhash_bit_exprs(instr_fn: str) -> list[str]:
    # bit b: weight +1 if the b-th hex digit of md5(token) >= 8 else -1;
    # token multiplicity counts (standard SimHash weighting by frequency)
    return [
        f"CAST(SUM(CASE WHEN {instr_fn}('0123456789abcdef', substr(md5(tok), {b + 1}, 1)) - 1 >= 8 "
        f"THEN 1 ELSE -1 END) > 0 AS INT) AS bit{b}"
        for b in range(16)
    ]


_SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
bits AS (
  SELECT doc_id, {', '.join(_simhash_bit_exprs('instr'))}
  FROM toks GROUP BY doc_id
)
SELECT doc_id,
       {' + '.join(f'bit{b} * {1 << b}' for b in range(16))} AS simhash16
FROM bits
"""


@register(
    "dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    tags=("dedup",),
    doc="16-bit SimHash fingerprint (sign of per-bit weighted sums); near-dups share fingerprints",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meos_rs_spark.functions.staging import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )  # under-split guard: 16 md5 digests per token is the md5-heaviest map
    # instr(haystack, needle) is 1-based in both engines, so the same SQL text works
    bits = d.groupBy("doc_id").agg(*[F.expr(e) for e in _simhash_bit_exprs("instr")])
    fp = sum(F.col(f"bit{b}") * (1 << b) for b in range(16))
    return bits.select("doc_id", fp.alias("simhash16"))


# --- exact n-gram Jaccard on a bounded candidate domain --------------------


def _pair_intersections(spark: SparkSession, sf_dir: str):
    """The exact-set-similarity verification primitive the module docstring
    names: shingles of the bounded candidate domain (doc_id < 40), per-doc
    sizes, and the shingle-equi-join pair intersection counts. Shared by
    dedup_ngram_jaccard and dedup_containment so their scaffolding cannot
    drift (review find, r7: the two hand-copies had already diverged on a
    broadcast hint). Returns (inter, za, zb) where inter has
    (id_a, id_b, n_inter) and za/zb are the sizes aliased per side — sizes
    is tiny (bounded domain), so both joins take the broadcast hint."""
    sh = _shingles(spark, sf_dir).filter(F.col("doc_id") < 40)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = (
        a.join(b, (a.sh_a == b.sh_b) & (a.id_a < b.id_b))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = F.broadcast(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")))
    zb = F.broadcast(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")))
    return inter, za, zb


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_SHINGLES_DUCK},
small AS (SELECT * FROM shingles WHERE doc_id < 40),
sizes AS (SELECT doc_id, count(*) AS n FROM small GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM small a JOIN small b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.id_a, i.id_b, i.n_inter,
       za.n + zb.n - i.n_inter AS n_union,
       CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
""",
    tags=("dedup",),
    doc="exact 3-gram Jaccard via shingle equi-join (pairs materialize only on shared "
    "shingles — the join IS the candidate filter, no crossJoin)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter, za, zb = _pair_intersections(spark, sf_dir)
    return (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_inter",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).alias("n_union"),
            (F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        )
    )


# --- sketch fidelity: minhash-agreement estimate vs exact Jaccard -----------

_EST_MATCH_DUCK = " + ".join(f"CAST(a.h{j} = b.h{j} AS INT)" for j in range(N_HASHES))


@register(
    "dedup_minhash_estimate",
    oracle=f"""
WITH {_MINHASH_CTES}
SELECT s.id_a, s.id_b, s.jaccard,
       CAST(({_EST_MATCH_DUCK}) AS BIGINT) AS n_agree,
       CAST(({_EST_MATCH_DUCK}) AS DOUBLE) / {N_HASHES} AS jaccard_est,
       ABS(s.jaccard - CAST(({_EST_MATCH_DUCK}) AS DOUBLE) / {N_HASHES}) AS abs_err
FROM scored s
JOIN sig a ON a.doc_id = s.id_a
JOIN sig b ON b.doc_id = s.id_b
""",
    tags=("dedup", "lsh"),
    doc=f"sketch fidelity check: for every LSH candidate pair, the Jaccard "
    f"estimate from minhash agreement (matching components / {N_HASHES}) next "
    "to the exact shingle Jaccard — at 100 TB the estimate IS the re-rank "
    "(the exact join is what you drop first), so this query quantifies what "
    "that trade costs; estimates are exact multiples of "
    f"1/{N_HASHES} and hash cross-engine",
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE _staged_sig call builds both legs: the scored pairs and the
    # h-column join sides ride the same staged table (no second corpus
    # scan, no re-stage of the same name within one build — _lsh_scored);
    # column pruning keeps the shingle arrays out of the h-column reads
    sig_full = _staged_sig(spark, sf_dir)
    scored = _lsh_scored(sig_full)
    sig = sig_full.select("doc_id", *[f"h{j}" for j in range(N_HASHES)])
    a = sig.select(F.col("doc_id").alias("id_a"), *[F.col(f"h{j}").alias(f"a{j}") for j in range(N_HASHES)])
    b = sig.select(F.col("doc_id").alias("id_b"), *[F.col(f"h{j}").alias(f"b{j}") for j in range(N_HASHES)])
    n_agree = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(N_HASHES)
    )
    est = n_agree.cast("double") / N_HASHES
    return (
        scored.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            n_agree.cast("bigint").alias("n_agree"),
            est.alias("jaccard_est"),
            F.abs(F.col("jaccard") - est).alias("abs_err"),
        )
    )


# --- normalized-text ("fuzzy-exact") dedup -----------------------------------


@register(
    "dedup_normalized",
    oracle="""
WITH norm AS (
  SELECT doc_id, lang,
         md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS nh
  FROM documents
),
firsts AS (
  SELECT doc_id, lang, nh,
         row_number() OVER (PARTITION BY nh ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY nh) AS n_copies
  FROM norm
)
SELECT doc_id, lang, nh, CAST(n_copies AS BIGINT) AS n_copies,
       CAST(rn = 1 AS INT) AS is_canonical
FROM firsts
""",
    tags=("dedup",),
    doc="normalization-then-hash dedup (the fuzzy-exact middle ground between "
    "raw-md5 dedup_exact and MinHash): lowercase, collapse runs of spaces, "
    "trim, THEN hash — catches re-encoded/re-wrapped copies that byte "
    "hashing misses while staying one shuffle on the normalized digest; "
    "first-doc-id canonical, copies counted per class. Case-fold envelope: "
    "Java and utf8proc lower() agree on ASCII/Latin/Cyrillic/CJK but "
    "diverge on Turkish İ and Greek final sigma (pinned in "
    "tests/test_determinism.py::test_unicode_lower_envelope_cross_engine)",
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    nh = F.md5(F.trim(F.regexp_replace(F.lower("text"), " +", " ")))
    d = d.select("doc_id", "lang", nh.alias("nh"))
    wn = Window.partitionBy("nh")
    wr = Window.partitionBy("nh").orderBy("doc_id")
    return d.select(
        "doc_id",
        "lang",
        "nh",
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n_copies"),
        (F.row_number().over(wr) == 1).cast("int").alias("is_canonical"),
    )


# --- asymmetric shingle containment (sub-document duplication) --------------

_CONTAIN_THRESH = 0.8


@register(
    "dedup_containment",
    oracle=f"""
WITH {_SHINGLES_DUCK},
small AS (SELECT * FROM shingles WHERE doc_id < 40),
sizes AS (SELECT doc_id, count(*) AS n FROM small GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM small a JOIN small b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.id_a, i.id_b, i.n_inter,
       CAST(i.n_inter AS DOUBLE) / za.n AS c_a_in_b,
       CAST(i.n_inter AS DOUBLE) / zb.n AS c_b_in_a,
       CAST(CAST(i.n_inter AS DOUBLE) / za.n >= {_CONTAIN_THRESH}
            OR CAST(i.n_inter AS DOUBLE) / zb.n >= {_CONTAIN_THRESH} AS INT) AS is_subdup
FROM inter i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
""",
    tags=("dedup",),
    doc="asymmetric shingle containment C(A in B) = |A∩B|/|A| (Broder's "
    "containment, the sub-document dup signal): a short doc quoted whole "
    "inside a long one scores near 1.0 here but low symmetric Jaccard "
    "because the union is dominated by the long side — exactly the case "
    "dedup_ngram_jaccard under-ranks. Same shingle equi-join candidate "
    "shape (pairs exist only on shared shingles, no crossJoin); per-doc "
    "set sizes attach via two broadcast-size joins",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter, za, zb = _pair_intersections(spark, sf_dir)
    c_a = F.col("n_inter").cast("double") / F.col("n_a")
    c_b = F.col("n_inter").cast("double") / F.col("n_b")
    return (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_inter",
            c_a.alias("c_a_in_b"),
            c_b.alias("c_b_in_a"),
            ((c_a >= _CONTAIN_THRESH) | (c_b >= _CONTAIN_THRESH)).cast("int").alias("is_subdup"),
        )
    )
