"""Map-side quantizer kernels (functions/quantize.py): bit-equivalence with
the crossJoin+window argmin shape they replaced, oracle-matching tie-breaks,
the non-finite input check, and side cache freshness."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from meos_rs_spark.functions import quantize
from meos_rs_spark.functions.embeddings import seq_dot


def _write_cents(tmp_path, rows):
    """Write (vec_id, embedding) rows as ``embeddings.parquet`` under
    ``tmp_path``; return the spec whose k keeps every row (all ids < k)."""
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([i for i, _ in rows], pa.int64()),
                "embedding": pa.array([v for _, v in rows], pa.list_(pa.float32())),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    return quantize.source_cents_spec(str(tmp_path), max(i for i, _ in rows) + 1, len(rows[0][1]))


def _rng_vecs(n, dim, seed):
    rng = np.random.default_rng(seed)
    return [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]


@pytest.mark.parametrize("metric", ["l2", "cos"])
def test_nearest_matches_crossjoin_window_shape(spark, metric, tmp_path):
    dim, k = 16, 5
    vecs = spark.createDataFrame(_rng_vecs(200, dim, 7), "vec_id long, embedding array<float>")
    cents_rows = [(int(i), v) for i, v in _rng_vecs(k, dim, 11)]
    spec = _write_cents(tmp_path, cents_rows)
    udf = quantize.make_nearest_centroid_udf(spec, metric=metric)
    got = {r.vec_id: r.c for r in vecs.select("vec_id", udf("embedding").alias("c")).collect()}

    cents = spark.createDataFrame(cents_rows, "cent_id long, ce array<float>")
    joined = vecs.crossJoin(broadcast(cents)).withColumn(
        "vn2", seq_dot("embedding", "embedding")
    ).withColumn("cn2", seq_dot("ce", "ce")).withColumn(
        "dot", seq_dot("embedding", "ce")
    )
    if metric == "l2":
        score = F.col("vn2") + F.col("cn2") - 2 * F.col("dot")
        w = Window.partitionBy("vec_id").orderBy(F.col("score").asc(), F.col("cent_id").asc())
    else:
        score = F.col("dot") / (F.sqrt("vn2") * F.sqrt("cn2"))
        w = Window.partitionBy("vec_id").orderBy(F.col("score").desc(), F.col("cent_id").asc())
    ref = {
        r.vec_id: r.cent_id
        for r in joined.withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert got == ref


def test_nearest_tie_breaks_to_lowest_cent_id(spark, tmp_path):
    # two IDENTICAL centroids: the window's ORDER BY (score, cent_id) keeps
    # the lower id — the kernel's first-extreme argmin/argmax must too
    v = [float(x) for x in range(8)]
    spec = _write_cents(tmp_path, [(3, v), (1, v)])
    vecs = spark.createDataFrame([(0, v)], "vec_id long, embedding array<float>")
    for metric in ("l2", "cos"):
        udf = quantize.make_nearest_centroid_udf(spec, metric=metric)
        assert vecs.select(udf("embedding").alias("c")).first().c == 1, metric


def test_zero_norm_centroid_loses_like_the_oracle_null(spark, tmp_path):
    """DuckDB DOUBLE division by zero yields NULL (never NaN), and NULL
    sorts LAST in both directions — so a zero-norm centroid's cosine
    loses every oracle contest. The kernel's numpy 0/0 is NaN, which
    np.argmax would pick: that would hand the whole corpus to a zero-norm
    centroid while the oracle assigns it nothing (r10 review find) — the
    kernel scores the NULL class −inf instead."""
    zero = [0.0] * 8
    good = [float(x + 1) for x in range(8)]
    spec = _write_cents(tmp_path, [(0, zero), (5, good)])
    vecs = spark.createDataFrame([(0, good)], "vec_id long, embedding array<float>")
    cos = quantize.make_nearest_centroid_udf(spec, metric="cos")
    # ORDER BY ccos DESC, cent_id NULLS LAST: 1.0 (cent 5) beats NULL (cent 0)
    assert vecs.select(cos("embedding").alias("c")).first().c == 5
    l2 = quantize.make_nearest_centroid_udf(spec, metric="l2")
    # ORDER BY d2 ASC: no division, no NULL class — exact match (cent 5) wins
    assert vecs.select(l2("embedding").alias("c")).first().c == 5


def test_all_null_scores_fall_to_lowest_cent_id(spark, tmp_path):
    """A zero-norm PROBE vector scores NULL against every centroid; the
    oracle's ORDER BY ccos DESC, cent_id then picks the lowest cent_id —
    the kernel's argmax over an all −inf row must too."""
    zero = [0.0] * 8
    a = [float(x + 1) for x in range(8)]
    b = [float(8 - x) for x in range(8)]
    spec = _write_cents(tmp_path, [(4, a), (2, b)])
    vecs = spark.createDataFrame([(0, zero)], "vec_id long, embedding array<float>")
    cos = quantize.make_nearest_centroid_udf(spec, metric="cos")
    assert vecs.select(cos("embedding").alias("c")).first().c == 2


def test_cosine_udf_zero_norm_is_null_like_duckdb(spark):
    """Cross-engine e2e for the cosine UDF's zero-norm contract: DuckDB's
    division by zero yields NULL; the Spark kernel's masked 0/0 must
    arrive as NULL too (since r11 the kernel returns a nullable Float64
    series, so the NULL is explicit at the pandas layer instead of riding
    the Arrow NaN→null coercion). Both engines must also agree on the
    finite values to the last bit (sequential fold)."""
    import duckdb

    from meos_rs_spark.functions.embeddings import cosine
    from meos_rs_spark.queries.similarity import _duck_cosine

    probe = [1.0, 2.0, 3.0, 4.0]
    rows = [
        (0, [4.0, 3.0, 2.0, 1.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # failed-encoder zero vector
        (2, [1.0, 2.0, 3.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, e array<double>")
    p = F.array(*[F.lit(x) for x in probe])
    got = {
        r.vec_id: r.c
        for r in df.select("vec_id", cosine(p, "e").alias("c")).collect()
    }
    assert got[1] is None  # NULL, not NaN: fails thresholds, sorts last
    con = duckdb.connect()
    vals = ", ".join(f"({i}, {list(e)}::DOUBLE[])" for i, e in rows)
    ref = {
        vid: c
        for vid, c in con.sql(
            f"SELECT vec_id, {_duck_cosine(str(probe) + '::DOUBLE[]', 'e')} "
            f"FROM (VALUES {vals}) t(vec_id, e)"
        ).fetchall()
    }
    assert ref[1] is None
    assert got[0] == ref[0] and got[2] == ref[2]  # bit-exact finite legs


def test_cosine_udf_nan_component_contract(spark):
    """The den!=0 NaN path (r10 ADVICE): a NaN *component* in an embedding
    makes num/den NaN with a nonzero denominator, so the old den==0 mask
    never touched it and the result's NULL-ness rode the implicit Arrow
    NaN→null coercion. The nullable-Float64 kernel now converts that NaN
    to an explicit NA at the pandas layer; this pins the contract e2e:
    Spark yields NULL (sorts last under DESC), while DuckDB yields NaN —
    the documented known-envelope divergence, asserted here so a change
    in either engine's behavior surfaces."""
    import math

    import duckdb

    from meos_rs_spark.functions.embeddings import cosine
    from meos_rs_spark.queries.similarity import _duck_cosine

    probe = [1.0, 2.0, 3.0, 4.0]
    rows = [
        (0, [4.0, 3.0, 2.0, 1.0]),
        (1, [1.0, float("nan"), 3.0, 4.0]),  # NaN component, den != 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, e array<double>")
    p = F.array(*[F.lit(x) for x in probe])
    got = {
        r.vec_id: r.c
        for r in df.select("vec_id", cosine(p, "e").alias("c")).collect()
    }
    assert got[1] is None  # explicit NA through the nullable kernel
    assert got[0] is not None
    con = duckdb.connect()
    vals = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            i,
            ", ".join("'NaN'::DOUBLE" if x != x else repr(x) for x in e),
        )
        for i, e in rows
    )
    ref = {
        vid: c
        for vid, c in con.sql(
            f"SELECT vec_id, {_duck_cosine(str(probe) + '::DOUBLE[]', 'e')} "
            f"FROM (VALUES {vals}) t(vec_id, e)"
        ).fetchall()
    }
    assert ref[1] is not None and math.isnan(ref[1])  # DuckDB keeps NaN
    assert got[0] == ref[0]  # finite leg still bit-exact


def test_pair_kernels_are_total_on_ragged_batches(spark):
    """r12 adversarial sweep: ONE NULL/short/empty embedding aborted all 13
    ANN twins (np.stack raggedness). The pair kernels are now total —
    row-local validity (both cells non-NULL, equal lengths), NULL out the
    rest, uniform clean batches take the exact pre-r12 fast path."""
    from meos_rs_spark.functions.embeddings import (
        cosine,
        l2norm,
        make_lsh_bucket_udf,
        seq_dot,
        seq_sqdist,
    )

    rows = [
        (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),  # clean
        (2, None, [1.0, 2.0, 3.0]),  # NULL side
        (3, [1.0, 2.0], [1.0, 2.0, 3.0]),  # length mismatch
        (4, [], []),  # both empty: empty fold = 0.0, cosine 0/0 -> NULL
        (5, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),  # zero norm
        (6, [1.0, None, 3.0], [1.0, 2.0, 3.0]),  # NULL element -> NaN -> NULL
    ]
    df = spark.createDataFrame(rows, "id long, a array<float>, b array<float>")
    got = {
        r.id: r
        for r in df.select(
            "id",
            cosine("a", "b").alias("cos"),
            seq_dot("a", "b").alias("dot"),
            l2norm("a").alias("n"),
            seq_sqdist("a", "b").alias("sq"),
            make_lsh_bucket_udf(4, 3)("a").alias("bkt"),
        ).collect()
    }
    clean = got[1]
    assert abs(clean.cos - 0.9746318461970762) < 1e-15
    assert clean.dot == 32.0 and clean.sq == 27.0 and clean.bkt is not None
    assert all(
        v is None for v in (got[2].cos, got[2].dot, got[2].n, got[2].sq, got[2].bkt)
    )
    assert got[3].cos is None and got[3].dot is None and got[3].sq is None
    assert got[3].n is not None  # a's own norm is well-defined per row
    assert got[3].bkt is None  # wrong dimension has no bucket
    assert got[4].cos is None and got[4].dot == 0.0 and got[4].n == 0.0
    assert got[5].cos is None  # zero-norm contract unchanged
    assert got[6].cos is None and got[6].dot is None  # NaN component -> NULL


def test_pair_kernels_are_total_on_empty_batches():
    """r12 ADVICE item 3: a zero-row Arrow batch hit _pair_fold's fast-path
    guard (valid.all() is vacuously True, then la.min() raises on a
    zero-size reduction) and lsh_bucket's np.stack — both contradicting the
    total-kernel contract. Drive the plain kernel functions directly with
    empty Series the way a zero-row partition's Arrow batch would."""
    import pandas as pd

    from meos_rs_spark.functions import embeddings as E

    empty = pd.Series([], dtype=object)
    out = E._pair_fold(empty, empty, lambda A, B: A.sum(axis=1))
    assert len(out) == 0 and str(out.dtype) == "Float64"
    bkt = E.make_lsh_bucket_udf(4, 3).func(empty)
    assert len(bkt) == 0 and str(bkt.dtype) == "Int32"


def test_corpus_envelope_drops_only_invalid_vectors(spark, tmp_path):
    """The shared corpus envelope (queries/similarity._corpus +
    EMB_ENVELOPE_DUCK) must agree between engines row-for-row: non-NULL,
    exactly DIM elements, all finite."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from meos_rs_spark.queries.similarity import DIM, EMB_ENVELOPE_DUCK, _corpus

    good = [float(i) / DIM for i in range(DIM)]
    nan_vec = list(good)
    nan_vec[3] = float("nan")
    inf_vec = list(good)
    inf_vec[5] = float("inf")
    null_el = list(good)
    null_el[7] = None
    vecs = [good, None, [], good[: DIM - 1], nan_vec, inf_vec, null_el, good]
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    kept_spark = sorted(
        r.vec_id for r in _corpus(spark, str(tmp_path)).select("vec_id").collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path / 'embeddings.parquet'}'"
    )
    kept_duck = sorted(
        r[0]
        for r in con.sql(
            f"SELECT vec_id FROM embeddings WHERE {EMB_ENVELOPE_DUCK}"
        ).fetchall()
    )
    assert kept_spark == kept_duck == [0, 7]


def test_source_cents_spec_matches_staged_rows(spark):
    """The r16 source-derived quantizer must yield EXACTLY the rows the
    staged table held: first-K by vec_id, corpus envelope applied (NULL
    vector, wrong length, NaN/inf/NULL component all dropped) — compared
    against a Spark-built reference over the real sf0.001 fixture."""
    from meos_rs_spark.queries.similarity import DIM, _corpus

    sf_dir = "/root/testdata/sf0.001"
    k = 8
    ids, cents = quantize._load_source_vecs(*quantize.source_cents_spec(sf_dir, k, DIM))
    ref = (
        _corpus(spark, sf_dir)
        .filter(F.col("vec_id") < k)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce"))
        .orderBy("cent_id")
        .collect()
    )
    assert ids.tolist() == [r.cent_id for r in ref]
    for got, want in zip(cents, ref):
        assert got.tolist() == list(want.ce)


def test_source_cents_spec_applies_the_envelope(tmp_path):
    """Synthetic parquet with off-envelope rows in the first-K prefix: the
    loader must drop them exactly like the Spark-side _corpus filter."""
    dim = 4
    rows = {
        "vec_id": [0, 1, 2, 3, 4, 5],
        "embedding": [
            [1.0, 2.0, 3.0, 4.0],       # valid
            None,                        # NULL vector
            [1.0, 2.0],                  # wrong length
            [1.0, float("nan"), 3.0, 4.0],   # NaN component
            [1.0, float("inf"), 3.0, 4.0],   # inf component
            [5.0, 6.0, 7.0, 8.0],       # valid
        ],
    }
    t = pa.table(
        {
            "vec_id": pa.array(rows["vec_id"], pa.int64()),
            "embedding": pa.array(rows["embedding"], pa.list_(pa.float32())),
        }
    )
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))
    ids, cents = quantize._load_source_vecs(*quantize.source_cents_spec(str(tmp_path), 6, dim))
    assert ids.tolist() == [0, 5]
    assert cents.tolist() == [[1.0, 2.0, 3.0, 4.0], [5.0, 6.0, 7.0, 8.0]]


def test_source_pq_cb_spec_matches_staged_slices(spark):
    """The PQ codebook side is the first-PQ_K source spec sliced per
    subspace: columns ``m*PQ_SUBDIM ..`` of its matrix must carry the same
    (m, k, cv) subvector slices the staged codebook table held (the
    oracle's ``cb`` CTE)."""
    from meos_rs_spark.queries.similarity import DIM, PQ_K, PQ_M, PQ_SUBDIM, _corpus

    sf_dir = "/root/testdata/sf0.001"
    ids, mat = quantize._load_source_vecs(*quantize.source_cents_spec(sf_dir, PQ_K, DIM))
    ms = F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m")
    ref = (
        _corpus(spark, sf_dir)
        .filter(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("k"), "embedding", ms)
        .select("k", "m", F.expr(f"slice(embedding, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("cv"))
        .orderBy("m", "k")
        .collect()
    )
    got = [
        (m, int(k), mat[i, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM].tolist())
        for m in range(PQ_M)
        for i, k in enumerate(ids)
    ]
    assert got == [(r.m, r.k, list(r.cv)) for r in ref]


def test_pq_adc_matches_codes_plus_lut_reference(spark):
    """The fused ADC kernel must emit exactly the doubles the joined shape
    produced: per subspace the brute-force argmin code (ORDER BY d2, k over
    scalar sequential folds), each probe's approx_d2 the fixed-m-order sum
    of the expanded-form d2 between the probe subvector and the coded
    centroid."""
    from meos_rs_spark.queries.similarity import DIM, N_PROBES, PQ_K, PQ_M, PQ_SUBDIM, _corpus

    sf_dir = "/root/testdata/sf0.001"
    cb_spec = quantize.source_cents_spec(sf_dir, PQ_K, DIM)
    pr_spec = quantize.source_cents_spec(sf_dir, N_PROBES, DIM)
    emb = _corpus(spark, sf_dir)
    adc = quantize.make_pq_adc_udf(cb_spec, pr_spec, n_sub=PQ_M, subdim=PQ_SUBDIM)
    rows = emb.select("vec_id", "embedding", adc("embedding").alias("s")).collect()
    ks, cb = quantize._load_source_vecs(*cb_spec)
    pids, pvecs = quantize._load_source_vecs(*pr_spec)

    def fold_dot(a, b):
        acc = np.float64(0.0)
        for j in range(len(a)):
            acc += a[j] * b[j]
        return acc

    def d2(a, b):
        return fold_dot(a, a) + fold_dot(b, b) - 2.0 * fold_dot(a, b)

    def sub(v, m):
        return v[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]

    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float32).astype(np.float64)
        codes = [
            min((d2(sub(v, m), sub(cb[i], m)), k, i) for i, k in enumerate(ks))[2]
            for m in range(PQ_M)
        ]
        assert list(r.s.pids) == pids.tolist()
        want = []
        for p in pvecs:
            total = 0.0
            for m in range(PQ_M):
                total += d2(sub(p, m), sub(cb[codes[m]], m))
            want.append(total)
        assert list(r.s.d2s) == want, r.vec_id


def test_pq_codes_match_bruteforce(spark, tmp_path):
    """Synthetic corpus against a codebook drawn independently of it (the
    fixture test's codebook is the corpus head, so those rows code to
    themselves): each subspace's code inside the ADC kernel must be the
    brute-force ORDER BY d2, k argmin over scalar sequential folds, as
    read back through the distances it sums."""
    n_sub, subdim = 4, 8
    dim = n_sub * subdim
    vec_rows = _rng_vecs(100, dim, 3)
    rng = np.random.default_rng(5)
    (tmp_path / "cb").mkdir()
    (tmp_path / "pr").mkdir()
    cb_spec = _write_cents(tmp_path / "cb", [(k, [float(x) for x in rng.normal(size=dim)]) for k in range(6)])
    pr_spec = _write_cents(tmp_path / "pr", _rng_vecs(3, dim, 7))
    adc = quantize.make_pq_adc_udf(cb_spec, pr_spec, n_sub=n_sub, subdim=subdim)
    vecs = spark.createDataFrame(vec_rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: list(r.s.d2s) for r in vecs.select("vec_id", adc("embedding").alias("s")).collect()}
    ks, cb = quantize._load_source_vecs(*cb_spec)
    _, pvecs = quantize._load_source_vecs(*pr_spec)

    def fold_dot(a, b):
        acc = np.float64(0.0)
        for j in range(len(a)):
            acc += a[j] * b[j]
        return acc

    def d2(a, b):
        return fold_dot(a, a) + fold_dot(b, b) - 2.0 * fold_dot(a, b)

    def sub(v, m):
        return v[m * subdim : (m + 1) * subdim]

    for vec_id, emb in vec_rows:
        v = np.asarray(emb, dtype=np.float32).astype(np.float64)
        codes = [min((d2(sub(v, m), sub(cb[i], m)), k, i) for i, k in enumerate(ks))[2] for m in range(n_sub)]
        want = []
        for p in pvecs:
            total = 0.0
            for m in range(n_sub):
                total += d2(sub(p, m), sub(cb[codes[m]], m))
            want.append(total)
        assert got[vec_id] == want, vec_id


def test_side_cache_refreshes_on_overwrite(tmp_path):
    """Overwriting the source parquet under the same path and spec must
    invalidate the cached side: the next load serves the new rows."""
    dim = 4
    spec = _write_cents(tmp_path, [(0, [1.0] * dim), (7, [2.0] * dim)])
    ids, _ = quantize._load_source_vecs(*spec)
    assert ids.tolist() == [0, 7]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([3], pa.int64()),
                "embedding": pa.array([[-1.0] * dim], pa.list_(pa.float32())),
            }
        ),
        spec[0],
    )
    # a distinct mtime, so a rewrite inside the clock tick is still seen
    os.utime(spec[0], (1, 1))
    ids, cents = quantize._load_source_vecs(*spec)
    assert ids.tolist() == [3] and cents.tolist() == [[-1.0] * dim]


def test_source_vecs_cache_keeps_sibling_k_entries(tmp_path):
    """Two specs over ONE source parquet with different k (the IVF kernel
    loads cents k=8 AND probes k=5 per batch) must coexist in the worker
    cache — the r16 self-review found the eviction matched on path alone,
    so every batch evicted its sibling and re-read the dataset. A content
    change under the same path must still serve the new rows."""
    dim = 4
    t = pa.table(
        {
            "vec_id": pa.array(list(range(10)), pa.int64()),
            "embedding": pa.array([[float(i)] * dim for i in range(10)], pa.list_(pa.float32())),
        }
    )
    src = str(tmp_path / "embeddings.parquet")
    pq.write_table(t, src)
    a = quantize._load_source_vecs(src, 8, dim)
    b = quantize._load_source_vecs(src, 5, dim)
    keys = [s for s in quantize._SIDE_CACHE if s[0] == src]
    assert len(keys) == 2, keys
    # cache HIT: the returned side is the same object, no re-read
    assert quantize._load_source_vecs(src, 8, dim) is a
    assert quantize._load_source_vecs(src, 5, dim) is b
    # overwrite with different content under the same path: the
    # fingerprint must invalidate the matching spec's entry
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([7], pa.int64()),
                "embedding": pa.array([[-1.0] * dim], pa.list_(pa.float32())),
            }
        ),
        src,
    )
    os.utime(src, (1, 1))
    ids, cents = quantize._load_source_vecs(src, 8, dim)
    assert ids.tolist() == [7] and cents.tolist() == [[-1.0] * dim]
    assert len([s for s in quantize._SIDE_CACHE if s[0] == src and s[2:] == (8, dim)]) == 1


def test_source_vecs_envelope_drops_null_component(tmp_path):
    """A NULL list ELEMENT arrives as NaN through Arrow and must fail the
    finite test exactly like the Spark exists() predicate."""
    dim = 4
    t = pa.table(
        {
            "vec_id": pa.array([0, 1], pa.int64()),
            "embedding": pa.array([[1.0, None, 3.0, 4.0], [1.0, 2.0, 3.0, 4.0]], pa.list_(pa.float32())),
        }
    )
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))
    ids, _ = quantize._load_source_vecs(*quantize.source_cents_spec(str(tmp_path), 2, dim))
    assert ids.tolist() == [1]


def _write_raw(tmp_path, ids, embs):
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(embs, pa.list_(pa.float32())),
            }
        ),
        path,
    )
    return path


def test_source_vecs_raise_on_an_empty_quantizer(tmp_path):
    """Head rows that are all off the envelope (a NULL vector, a NaN
    component) leave no centroid: loading the side names the source and k
    instead of letting numpy's argmin fail on an empty sequence."""
    dim = 4
    path = _write_raw(tmp_path, [0, 1, 2], [None, [float("nan")] + [1.0] * 3, [1.0] * dim])
    with pytest.raises(ValueError, match=f"{path}: no row with vec_id < 2"):
        quantize._load_source_vecs(path, 2, dim)
    udf = quantize.make_nearest_centroid_udf((path, 2, dim), metric="l2")
    with pytest.raises(ValueError, match="empty quantizer"):
        udf.func(pd.Series([np.ones(dim, np.float32)]))


def test_source_vecs_raise_on_a_duplicate_head_id(tmp_path):
    """vec_id is the corpus key: a head id read twice would load as two
    centroids."""
    dim = 4
    path = _write_raw(tmp_path, [0, 0, 1], [[1.0] * dim, [2.0] * dim, [3.0] * dim])
    with pytest.raises(ValueError, match=f"{path}: vec_id repeats among the rows with vec_id < 2"):
        quantize._load_source_vecs(path, 2, dim)


_KERNELS = {
    "nearest_l2": lambda s: quantize.make_nearest_centroid_udf(s, metric="l2"),
    "nearest_cos": lambda s: quantize.make_nearest_centroid_udf(s, metric="cos"),
    "ivf": lambda s: quantize.make_ivf_scores_udf(s, s, nprobe=1),
    "probe_cosines": quantize.make_probe_cosines_udf,
    "pq_adc": lambda s: quantize.make_pq_adc_udf(s, s, n_sub=2, subdim=4),
}


@pytest.mark.parametrize("kernel", sorted(_KERNELS))
def test_kernels_raise_on_a_non_finite_component(kernel, tmp_path):
    """The kernels rank only inside the corpus envelope, where no score is
    NaN or ±inf. Off it (an ±inf component, a NaN, or a NULL component
    arriving as NaN) ranking would silently diverge from the oracle, so
    every kernel refuses the batch."""
    good = [float(x + 1) for x in range(8)]
    spec = _write_cents(tmp_path, [(0, good), (1, good[::-1])])
    udf = _KERNELS[kernel](spec)
    assert len(udf.func(pd.Series([np.asarray(good, np.float32)]))) == 1
    for bad in (float("inf"), float("-inf"), float("nan"), None):
        vec = np.asarray([bad] + good[1:], dtype=np.float32)
        with pytest.raises(ValueError, match="finite"):
            udf.func(pd.Series([np.asarray(good, np.float32), vec]))


def test_load_source_vecs_shuffled_source_exact_and_short_circuits(tmp_path):
    """Unsorted-source guard (r16 VERDICT item 5): a parquet whose rows are
    SHUFFLED (row-group stats cannot prune to the head) still derives the
    exact first-K-valid rows, and the batch scan short-circuits once all
    k distinct head ids have been seen instead of reading the whole file."""
    rng = np.random.default_rng(3)
    dim, k, n = 8, 5, 2000
    ids = rng.permutation(n)
    embs = [[float(x) for x in rng.normal(size=dim)] for _ in range(n)]
    t = pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": pa.array(embs, pa.list_(pa.float32()))})
    path = str(tmp_path / "shuffled.parquet")
    pq.write_table(t, path, row_group_size=100)

    got_ids, got = quantize._load_source_vecs(path, k, dim)
    assert got_ids.tolist() == list(range(k))
    want = {int(i): e for i, e in zip(ids, embs) if i < k}
    for vid, emb in zip(got_ids, got):
        assert np.allclose(emb, want[int(vid)], atol=1e-6)

    # short-circuit: the batch loop must stop at the batch where the k-th
    # distinct id appears — a poisoned iterator past that point must never
    # be consumed
    done_batches = []
    for b in t.to_batches(max_chunksize=100):
        f = b.filter(pa.compute.less(b.column("vec_id"), k))
        done_batches.append(f)
        if len(set(f.column("vec_id").to_pylist())) and all(
            i in {v for bb in done_batches for v in bb.column("vec_id").to_pylist()}
            for i in range(k)
        ):
            break

    def poisoned(prefix):
        yield from prefix
        raise AssertionError("scan ran past the k-th distinct head id")

    out = quantize._first_k_batches(poisoned(done_batches), k)
    assert sorted(v for b in out for v in b.column("vec_id").to_pylist()) == list(range(k))
