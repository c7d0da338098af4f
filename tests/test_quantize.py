"""Map-side quantizer kernels (functions/quantize.py): bit-equivalence with
the crossJoin+window argmin shape they replaced, oracle-matching tie-breaks,
and side-table cache freshness."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from meos_rs_spark.functions import quantize
from meos_rs_spark.functions.embeddings import seq_dot
from meos_rs_spark.functions.staging import stage, staged_table_path


def _write_cents(spark, rows, name):
    df = spark.createDataFrame(rows, "cent_id long, ce array<float>")
    stage(df, name)
    return staged_table_path(spark, name)


def _rng_vecs(n, dim, seed):
    rng = np.random.default_rng(seed)
    return [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]


@pytest.mark.parametrize("metric", ["l2", "cos"])
def test_nearest_matches_crossjoin_window_shape(spark, metric):
    dim, k = 16, 5
    vecs = spark.createDataFrame(_rng_vecs(200, dim, 7), "vec_id long, embedding array<float>")
    cents_rows = [(int(i), v) for i, v in _rng_vecs(k, dim, 11)]
    path = _write_cents(spark, cents_rows, f"q_cents_{metric}")
    udf = quantize.make_nearest_centroid_udf(path, metric=metric)
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


def test_nearest_tie_breaks_to_lowest_cent_id(spark):
    # two IDENTICAL centroids: the window's ORDER BY (score, cent_id) keeps
    # the lower id — the kernel's strict-inequality ascending scan must too
    v = [float(x) for x in range(8)]
    path = _write_cents(spark, [(3, v), (1, v)], "q_cents_tie")
    vecs = spark.createDataFrame([(0, v)], "vec_id long, embedding array<float>")
    for metric in ("l2", "cos"):
        udf = quantize.make_nearest_centroid_udf(path, metric=metric)
        assert vecs.select(udf("embedding").alias("c")).first().c == 1, metric


def test_zero_norm_centroid_loses_like_the_oracle_null(spark):
    """DuckDB DOUBLE division by zero yields NULL (never NaN), and NULL
    sorts LAST in both directions — so a zero-norm centroid's cosine
    loses every oracle contest. The kernel's numpy 0/0 is NaN, which the
    r9-era compare treated as WINNING the argmax: that would have handed
    the whole corpus to a zero-norm centroid while the oracle assigned it
    nothing (r10 review find, fixed by the explicit NULL class)."""
    zero = [0.0] * 8
    good = [float(x + 1) for x in range(8)]
    path = _write_cents(spark, [(0, zero), (5, good)], "q_cents_nan")
    vecs = spark.createDataFrame([(0, good)], "vec_id long, embedding array<float>")
    cos = quantize.make_nearest_centroid_udf(path, metric="cos")
    # ORDER BY ccos DESC, cent_id NULLS LAST: 1.0 (cent 5) beats NULL (cent 0)
    assert vecs.select(cos("embedding").alias("c")).first().c == 5
    l2 = quantize.make_nearest_centroid_udf(path, metric="l2")
    # ORDER BY d2 ASC: no division, no NULL class — exact match (cent 5) wins
    assert vecs.select(l2("embedding").alias("c")).first().c == 5


def test_all_null_scores_fall_to_lowest_cent_id(spark):
    """A zero-norm PROBE vector scores NULL against every centroid; the
    oracle's ORDER BY ccos DESC, cent_id then picks the lowest cent_id —
    the kernel's first-candidate-accepted + strict-update scan must too."""
    zero = [0.0] * 8
    a = [float(x + 1) for x in range(8)]
    b = [float(8 - x) for x in range(8)]
    path = _write_cents(spark, [(4, a), (2, b)], "q_cents_allnull")
    vecs = spark.createDataFrame([(0, zero)], "vec_id long, embedding array<float>")
    cos = quantize.make_nearest_centroid_udf(path, metric="cos")
    assert vecs.select(cos("embedding").alias("c")).first().c == 2


def test_nan_data_score_matches_engine_sort_order(spark):
    """Genuine NaN DATA (a NaN component in a centroid) is the NaN class,
    not the NULL class: both engines' division propagates it as NaN, which
    sorts STRICTLY ABOVE +inf — it must WIN the cosine argmax and LOSE the
    L2 argmin. Distinct from the zero-denominator case above."""
    nan_cent = [float("nan")] + [1.0] * 7
    good = [float(x + 1) for x in range(8)]
    path = _write_cents(spark, [(0, nan_cent), (5, good)], "q_cents_nandata")
    vecs = spark.createDataFrame([(0, good)], "vec_id long, embedding array<float>")
    cos = quantize.make_nearest_centroid_udf(path, metric="cos")
    # DESC: NaN (cent 0) sorts before 1.0 (cent 5)
    assert vecs.select(cos("embedding").alias("c")).first().c == 0
    l2 = quantize.make_nearest_centroid_udf(path, metric="l2")
    # ASC: finite d2 (cent 5, exact match) beats NaN (cent 0)
    assert vecs.select(l2("embedding").alias("c")).first().c == 5


def test_nan_outranks_inf_in_pair_compare(spark):
    """NaN sorts STRICTLY ABOVE +Infinity in both engines (pinned below
    against Spark's own sort), so in an argmax contest NaN must beat +inf
    and in an argmin +inf must beat NaN — a NaN→+inf remap would conflate
    them and hand the contest to the scan-order (lowest-id) side. The
    overflow (+inf with finite norms) is unreachable from array<float>
    fixtures, so the kernel's compare is pinned at the numpy level."""
    # the engine ground truth: ORDER BY x DESC puts NaN before Infinity
    ordered = [
        r.x
        for r in spark.createDataFrame(
            [(float("nan"),), (float("inf"),), (1.0,)], "x double"
        )
        .orderBy(F.col("x").desc())
        .collect()
    ]
    assert np.isnan(ordered[0]) and ordered[1] == np.inf
    inf = np.array([np.inf])
    fin = np.array([1.0])
    t, f = np.array([True]), np.array([False])
    ph = np.array([0.0])  # placeholder score under a set nan flag
    # argmax (cosine): NaN beats +inf beats finite
    assert quantize.better(t, ph, f, inf, largest=True).all()
    assert not quantize.better(f, inf, t, ph, largest=True).any()
    assert quantize.better(f, inf, f, fin, largest=True).all()
    # argmin (L2/d2): finite beats +inf beats NaN
    assert quantize.better(f, inf, t, ph, largest=False).all()
    assert not quantize.better(t, ph, f, inf, largest=False).any()
    assert quantize.better(f, fin, f, inf, largest=False).all()
    # ties (same class, equal score) keep the incumbent — lowest-id wins
    assert not quantize.better(f, fin, f, fin, largest=True).any()
    assert not quantize.better(t, ph, t, ph, largest=False).any()


def test_pq_codes_match_bruteforce(spark):
    n_sub, subdim = 4, 8
    dim = n_sub * subdim
    vec_rows = _rng_vecs(100, dim, 3)
    cb_rows = []
    rng = np.random.default_rng(5)
    for m in range(n_sub):
        for k in range(6):
            cb_rows.append((int(k), int(m), [float(x) for x in rng.normal(size=subdim)]))
    cb = spark.createDataFrame(cb_rows, "k long, m int, cv array<float>")
    stage(cb, "q_pq_cb")
    path = staged_table_path(spark, "q_pq_cb")
    udf = quantize.make_pq_codes_udf(path, n_sub=n_sub, subdim=subdim)
    vecs = spark.createDataFrame(vec_rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: list(r.codes) for r in vecs.select("vec_id", udf("embedding").alias("codes")).collect()}

    def fold_dot(a, b):
        acc = np.float64(0.0)
        for j in range(len(a)):
            acc += a[j] * b[j]
        return acc

    for vec_id, emb in vec_rows:
        v = np.asarray(emb, dtype=np.float32).astype(np.float64)
        expect = []
        for m in range(n_sub):
            sub = v[m * subdim : (m + 1) * subdim]
            scored = []
            for k, mm, cv in cb_rows:
                if mm != m:
                    continue
                c = np.asarray(cv, dtype=np.float32).astype(np.float64)
                scored.append((fold_dot(sub, sub) + fold_dot(c, c) - 2.0 * fold_dot(sub, c), k))
            expect.append(min(scored)[1])
        assert got[vec_id] == expect, vec_id


def test_side_cache_refreshes_on_overwrite(spark):
    v1 = [1.0] * 4
    v2 = [-1.0] * 4
    path = _write_cents(spark, [(0, v1)], "q_cache_probe")
    df = quantize._load_side(path)
    assert df["cent_id"].tolist() == [0]
    # overwrite with different content under the same path — the
    # fingerprint must invalidate the cache
    stage(
        spark.createDataFrame([(7, v2)], "cent_id long, ce array<float>"),
        "q_cache_probe",
    )
    df2 = quantize._load_side(path)
    assert df2["cent_id"].tolist() == [7]


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
    spec = quantize.source_cents_spec(sf_dir, k, DIM)
    side = quantize._load_cents(spec).sort_values("cent_id")
    ref = (
        _corpus(spark, sf_dir)
        .filter(F.col("vec_id") < k)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce"))
        .orderBy("cent_id")
        .collect()
    )
    assert side["cent_id"].tolist() == [r.cent_id for r in ref]
    for got, want in zip(side["ce"], ref):
        assert np.asarray(got, dtype=np.float64).tolist() == list(want.ce)


def test_source_cents_spec_applies_the_envelope():
    """Synthetic parquet with off-envelope rows in the first-K prefix: the
    loader must drop them exactly like the Spark-side _corpus filter."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

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
    with tempfile.TemporaryDirectory() as d:
        pq.write_table(t, os.path.join(d, "embeddings.parquet"))
        side = quantize._load_cents(quantize.source_cents_spec(d, 6, dim))
    assert side["cent_id"].tolist() == [0, 5]


def test_source_pq_cb_spec_matches_staged_slices(spark):
    """The source-derived PQ codebook must carry the same (m, k, cv)
    subvector slices the staged table held."""
    from meos_rs_spark.queries.similarity import DIM, PQ_K, PQ_M, PQ_SUBDIM, _corpus

    sf_dir = "/root/testdata/sf0.001"
    spec = quantize.source_pq_cb_spec(sf_dir, PQ_K, DIM, PQ_M, PQ_SUBDIM)
    side = quantize._load_pq_cb(spec).sort_values(["m", "k"]).reset_index(drop=True)
    ms = F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m")
    ref = (
        _corpus(spark, sf_dir)
        .filter(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("k"), "embedding", ms)
        .select("k", "m", F.expr(f"slice(embedding, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("cv"))
        .orderBy("m", "k")
        .collect()
    )
    assert len(side) == len(ref)
    for (_, got), want in zip(side.iterrows(), ref):
        assert (int(got["m"]), int(got["k"])) == (want.m, want.k)
        assert np.asarray(got["cv"], dtype=np.float64).tolist() == list(want.cv)


def test_pq_adc_matches_codes_plus_lut_reference(spark):
    """The fused ADC kernel must emit exactly the doubles the joined shape
    produced: codes from make_pq_codes_udf, each probe's approx_d2 the
    fixed-m-order sum of seq_sqdist(probe subvector, coded centroid)."""
    from meos_rs_spark.queries.similarity import DIM, N_PROBES, PQ_K, PQ_M, PQ_SUBDIM, _corpus

    sf_dir = "/root/testdata/sf0.001"
    cb_spec = quantize.source_pq_cb_spec(sf_dir, PQ_K, DIM, PQ_M, PQ_SUBDIM)
    pr_spec = quantize.source_cents_spec(sf_dir, N_PROBES, DIM)
    emb = _corpus(spark, sf_dir)
    adc = quantize.make_pq_adc_udf(cb_spec, pr_spec, n_sub=PQ_M, subdim=PQ_SUBDIM)
    got = {
        r.vec_id: (list(r.s.pids), list(r.s.d2s))
        for r in emb.select("vec_id", adc("embedding").alias("s")).collect()
    }

    codes_udf = quantize.make_pq_codes_udf(cb_spec, n_sub=PQ_M, subdim=PQ_SUBDIM)
    codes = {
        r.vec_id: list(r.codes)
        for r in emb.select("vec_id", codes_udf("embedding").alias("codes")).collect()
    }
    side = quantize._load_pq_cb(cb_spec)
    probes = quantize._load_cents(pr_spec)
    from meos_rs_spark.functions.embeddings import _seq_dot

    def fold_dot(a, b):
        return _seq_dot(a[None, :], b[None, :])[0]

    for vec_id, (pids, d2s) in got.items():
        assert pids == probes["cent_id"].tolist()
        for p_i, pid in enumerate(pids):
            pe = np.asarray(probes["ce"][probes["cent_id"] == pid].iloc[0], dtype=np.float32).astype(np.float64)
            total = 0.0
            for m in range(PQ_M):
                k = codes[vec_id][m]
                cv = side[(side["m"] == m) & (side["k"] == k)]["cv"].iloc[0]
                c = np.asarray(cv, dtype=np.float32).astype(np.float64)
                sub = pe[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
                total += fold_dot(sub, sub) + fold_dot(c, c) - 2.0 * fold_dot(sub, c)
            assert d2s[p_i] == total, (vec_id, pid)


def test_source_vecs_cache_keeps_sibling_k_entries():
    """Two specs over ONE source parquet with different k (the IVF kernel
    loads cents k=8 AND probes k=5 per batch) must coexist in the worker
    cache — the r16 self-review found the eviction matched on path alone,
    so every batch evicted its sibling and re-read the dataset."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    dim = 4
    t = pa.table(
        {
            "vec_id": pa.array(list(range(10)), pa.int64()),
            "embedding": pa.array([[float(i)] * dim for i in range(10)], pa.list_(pa.float32())),
        }
    )
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "embeddings.parquet")
        pq.write_table(t, src)
        a = quantize._load_source_vecs(src, 8, dim)
        b = quantize._load_source_vecs(src, 5, dim)
        keys = [s for s in quantize._SIDE_CACHE if s[0] == "src_vecs" and s[1] == src]
        assert len(keys) == 2, keys
        # cache HIT: the returned frame is the same object, no re-read
        assert quantize._load_source_vecs(src, 8, dim) is a
        assert quantize._load_source_vecs(src, 5, dim) is b
        # a content change still evicts the matching spec's stale entry
        pq.write_table(t.slice(0, 9), src)
        os.utime(src, (1, 1))
        a2 = quantize._load_source_vecs(src, 8, dim)
        assert a2 is not a and len(a2) == 8
        keys8 = [
            s
            for s in quantize._SIDE_CACHE
            if s[0] == "src_vecs" and s[1] == src and s[3:] == (8, dim)
        ]
        assert len(keys8) == 1


def test_source_vecs_envelope_drops_null_component():
    """A NULL list ELEMENT arrives as NaN through Arrow and must fail the
    finite test exactly like the Spark exists() predicate."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    dim = 4
    t = pa.table(
        {
            "vec_id": pa.array([0, 1], pa.int64()),
            "embedding": pa.array([[1.0, None, 3.0, 4.0], [1.0, 2.0, 3.0, 4.0]], pa.list_(pa.float32())),
        }
    )
    with tempfile.TemporaryDirectory() as d:
        pq.write_table(t, os.path.join(d, "embeddings.parquet"))
        side = quantize._load_cents(quantize.source_cents_spec(d, 2, dim))
    assert side["cent_id"].tolist() == [1]


def test_probe_cosines_nan_envelope(spark):
    """Pins the make_probe_cosines_udf NaN envelope (r16 ADVICE, medium):
    a NaN cosine — inf/inf after intermediate overflow of FINITE
    components, the only NaN reachable inside the corpus envelope —
    arrives as NULL through Arrow's list NaN→null coercion, whereas the
    old try_divide shape emitted NaN (which sorts FIRST under ORDER BY
    cosine DESC while NULL sorts LAST). The kernel docstring documents
    this as a known envelope; this test is the alarm if either side of
    that statement drifts (a Spark/Arrow release that starts passing NaN
    through would silently FIX the divergence and obsolete the note)."""
    big = [1.0e200] * 4
    path = _write_cents(spark, [(0, big)], "q_probe_nan_env")
    udf = quantize.make_probe_cosines_udf(path)
    vecs = spark.createDataFrame([(9, big)], "vec_id long, embedding array<float>")
    (row,) = vecs.select(udf("embedding").alias("s")).collect()
    # float32 1e200 -> inf componentwise, so num = inf, den = inf: NaN
    assert row.s.pids == [0]
    assert row.s.cosines == [None]  # the envelope: NaN emitted as NULL
    # the try_divide shape this kernel replaced emits NaN on the same input
    ref = vecs.select(
        F.try_divide(
            seq_dot(F.array([F.lit(v) for v in big]).cast("array<float>"), "embedding"),
            F.sqrt(seq_dot("embedding", "embedding"))
            * F.sqrt(
                seq_dot(
                    F.array([F.lit(v) for v in big]).cast("array<float>"),
                    F.array([F.lit(v) for v in big]).cast("array<float>"),
                )
            ),
        ).alias("c")
    ).collect()[0].c
    assert ref != ref  # NaN: the two shapes genuinely diverge here


def test_load_source_vecs_shuffled_source_exact_and_short_circuits(tmp_path):
    """Unsorted-source guard (r16 VERDICT item 5): a parquet whose rows are
    SHUFFLED (row-group stats cannot prune to the head) still derives the
    exact first-K-valid rows, and the batch scan short-circuits once all
    k distinct head ids have been seen instead of reading the whole file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(3)
    dim, k, n = 8, 5, 2000
    ids = rng.permutation(n)
    embs = [[float(x) for x in rng.normal(size=dim)] for _ in range(n)]
    t = pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": pa.array(embs, pa.list_(pa.float32()))})
    path = str(tmp_path / "shuffled.parquet")
    pq.write_table(t, path, row_group_size=100)

    got = quantize._load_source_vecs(path, k, dim)
    assert got["vec_id"].tolist() == list(range(k))
    want = {int(i): e for i, e in zip(ids, embs) if i < k}
    for vid, emb in zip(got["vec_id"], got["embedding"]):
        assert np.allclose(np.asarray(emb, dtype=np.float64), want[int(vid)], atol=1e-6)

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
