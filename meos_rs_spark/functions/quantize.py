"""Map-side vector quantization: centroid assignment without a corpus shuffle.

The r5-era shape for every centroid-assignment step (IVF cell assignment,
SemDeDup k-means cells, the Lloyd iteration, PQ encoding) was
``corpus.crossJoin(broadcast(cents))`` — exploding the corpus K-fold with
every exploded row carrying its full embedding — followed by a
``row_number()`` window partitioned by ``vec_id`` to keep the argmin.
Correct, but the window is a SHUFFLE of K copies of the embedded corpus: at
100 TB and K = 16 that is over a petabyte through the exchange, to compute
a result (one small id per vector) that is a pure per-row function of
(vector, quantizer).

A quantizer is K rows — constant-sized, not data-sized — so it belongs in a
side channel, not a join. The queries derive it worker-side from the source
parquet (``source_cents_spec``/``source_pq_cb_spec``, below); a parquet dir
path (e.g. a ``stage()``d table) is accepted too. Assignment runs map-side
in an Arrow-batched pandas_udf that loads the side table ONCE per Python
worker (process-level cache, refreshed on file fingerprint change) and
scans each Arrow batch against it. The corpus path becomes scan →
ArrowEvalPython → downstream: ZERO exchanges for assignment at any scale,
and K× less data through the Python boundary than the crossJoin shape
pushed through the shuffle.

Determinism contract (the oracles are unchanged):

* scores use the same strictly-sequential per-dimension fold as
  ``functions.embeddings._seq_dot`` — bit-identical to DuckDB's
  ``list_dot_product`` and to the crossJoin shape this replaces;
* squared L2 stays in expanded dot form ``vn2 + cn2 - 2*dot`` combined
  left-to-right, exactly like ``embeddings.seq_sqdist``;
* tie-breaks mirror the oracles' ``ORDER BY score [DESC], cent_id``:
  centroids are scanned in ascending cent_id order with strict-inequality
  updates, so the lowest cent_id wins ties — exactly the row the
  ``row_number() = 1`` window kept;
* NaN scores compare on an explicit ``(is_nan, score)`` pair: Spark and
  DuckDB both sort NaN STRICTLY ABOVE +Infinity (verified empirically —
  DESC puts NaN first, ASC puts it last, and +inf sorts below it), so a
  NaN-from-DATA score must win an argmax even over an overflow-to-+inf
  score, and lose an argmin to one — a NaN→+inf remap would conflate the
  two and hand such contests to the lower cent_id;
* a ZERO DENOMINATOR is a third class, not NaN: DuckDB DOUBLE division
  yields NULL there (never NaN/inf), and NULL sorts LAST in both
  directions — so a zero-norm centroid's cosine loses every contest in
  the oracle, while numpy's 0/0 NaN would have WON the argmax and
  swallowed the whole corpus (r10 review find). The kernel tracks the
  NULL class explicitly: it loses to any non-NULL score, and an all-NULL
  contest falls to the lowest cent_id (the oracle's ORDER BY tiebreak).
  Ties still fall to the lowest cent_id.

Side-table reads go through ``pyarrow.parquet.read_table`` on the staged
directory (its dataset discovery skips ``_SUCCESS``/dot files and speaks
local paths and fs URIs alike). Callers MUST key the staged name by fixture
dir (``side_table_name``): the worker cache is per-path, so one name must
never serve two different fixture scales in one session.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from meos_rs_spark.functions.embeddings import _seq_dot, _stack

# the dir change detector lives with the staging machinery; callers take
# side_table_name from functions.staging directly
from meos_rs_spark.functions.staging import dir_fingerprint

#: (path, file fingerprint) -> pandas side table. Entries are K-row
#: quantizers (a few KB); stale fingerprints for the same path are evicted.
_SIDE_CACHE: dict[tuple, pd.DataFrame] = {}


def better(nan, score, best_nan, best_score, *, largest: bool):
    """Vectorized "does (nan, score) beat the incumbent" under the engines'
    total order on doubles, where NaN sorts STRICTLY ABOVE +Infinity:
    ``largest=True`` is the argmax contest (cosine — NaN beats +inf beats
    finite), ``largest=False`` the argmin (L2/d2 — smallest wins, NaN loses
    to everything including +inf). Strict inequality throughout, so a tie
    keeps the incumbent — the ascending-cent_id scan's lowest-id tiebreak.
    ``score`` cells where ``nan`` is set carry an arbitrary placeholder."""
    same_class = ~(nan ^ best_nan)
    if largest:
        return (nan & ~best_nan) | (same_class & (score > best_score))
    return (~nan & best_nan) | (same_class & (score < best_score))


__all__ = [
    "better",
    "make_ivf_scores_udf",
    "make_nearest_centroid_udf",
    "make_pq_adc_udf",
    "make_pq_codes_udf",
    "make_probe_cosines_udf",
    "source_cents_spec",
    "source_pq_cb_spec",
]


def _load_side(path: str) -> pd.DataFrame:
    key = (path, dir_fingerprint(path))
    tbl = _SIDE_CACHE.get(key)
    if tbl is None:
        import pyarrow.parquet as pq

        tbl = pq.read_table(path).to_pandas()
        for stale in [k for k in _SIDE_CACHE if k[0] == path and k != key]:
            del _SIDE_CACHE[stale]
        _SIDE_CACHE[key] = tbl
    return tbl


# --- source-derived quantizers (r16 optimization) ---------------------------
#
# Every deterministic quantizer here is "the first K valid corpus vectors"
# — a pure function of the SOURCE embeddings parquet, which is already a
# path every executor can read. Staging those K rows through a Spark
# parquet write bought nothing but a scratch copy, and cost each query one
# SEQUENTIAL producing job per run (the write must finish before the main
# DAG can even be planned, so it never overlaps with anything). The specs
# below let the Arrow kernels derive the quantizer worker-side from the
# source dataset instead: a pyarrow read with a vec_id < K filter, which
# parquet row-group statistics prune to the head of the dataset at any
# scale — the same IO class as reading the staged K-row table, minus the
# job that wrote it. The envelope (non-NULL, exactly `dim` components, all
# finite) is applied identically to `_corpus` in queries/similarity.py, so
# the derived rows are exactly the rows `stage(emb.filter(vec_id < K))`
# used to write; kernels and their determinism contract are unchanged.


def source_cents_spec(sf_dir: str, k: int, dim: int) -> tuple:
    """Side-spec: centroids = first-``k`` valid vectors of the fixture's
    embeddings parquet, as (cent_id, ce) rows."""
    import os

    return ("src_cents", os.path.join(sf_dir, "embeddings.parquet"), k, dim)


def source_pq_cb_spec(sf_dir: str, k: int, dim: int, n_sub: int, subdim: int) -> tuple:
    """Side-spec: PQ codebook = the first-``k`` valid vectors' subvector
    slices, as (m, k, cv) rows — ``n_sub`` subspaces of ``subdim`` dims."""
    import os

    return ("src_pq_cb", os.path.join(sf_dir, "embeddings.parquet"), k, dim, n_sub, subdim)


def _file_or_dir_fingerprint(path: str):
    """dir_fingerprint for dirs; (name, size, mtime_ns) for a single file."""
    import os

    if os.path.isdir(path):
        return dir_fingerprint(path)
    try:
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    except OSError:
        return None


def _first_k_batches(batches, k: int) -> list:
    """Short-circuit an Arrow batch stream already filtered to
    ``vec_id < k``: stop as soon as ``k`` DISTINCT ids have been seen
    (r16 VERDICT item 5 — the unsorted-source guard). Sound because
    ``vec_id`` is the corpus primary key (unique — the same contract
    that makes "the first K valid vectors" well-defined at all): once
    every id in 0..k-1 has appeared, no later row can pass the filter,
    whatever the file's physical order. A dataset missing some head ids
    (or holding them late) scans to the end — correct, just unpruned."""
    seen: set = set()
    out = []
    for b in batches:
        if b.num_rows == 0:
            continue
        out.append(b)
        seen.update(b.column("vec_id").to_pylist())
        if len(seen) >= k:
            break
    return out


def _load_source_vecs(src_path: str, k: int, dim: int) -> pd.DataFrame:
    """First-k valid corpus vectors straight from the source dataset —
    the rows ``_corpus(...).filter(vec_id < k)`` yields: vec_id < k AND
    the corpus envelope (non-NULL embedding, exactly ``dim`` components,
    all finite; a NULL component arrives as NaN through Arrow's
    list<float> → numpy conversion and fails the finite test exactly like
    the Spark leg's exists() predicate drops it). Cached per worker by
    (path, fingerprint, k, dim) like the staged side tables.

    Read volume: the ``vec_id < k`` filter is EXACT on any row order, and
    parquet row-group statistics prune the scan to the dataset head when
    vec_id is written in order (the fixtures are). On an UNSORTED source
    the stats cannot prune, so the batch loop additionally short-circuits
    via ``_first_k_batches`` — the scan stops at the batch where the
    k-th distinct head id appears instead of reading the whole file."""
    key = ("src_vecs", src_path, _file_or_dir_fingerprint(src_path), k, dim)
    tbl = _SIDE_CACHE.get(key)
    if tbl is None:
        import pyarrow as pa
        import pyarrow.dataset as ds

        scanner = ds.dataset(src_path).scanner(
            filter=ds.field("vec_id") < k, columns=["vec_id", "embedding"]
        )
        t = pa.Table.from_batches(
            _first_k_batches(scanner.to_batches(), k),
            schema=scanner.projected_schema,
        )
        df = t.to_pandas().sort_values("vec_id").reset_index(drop=True)
        valid = np.array(
            [
                v is not None
                and len(v) == dim
                and bool(np.isfinite(np.asarray(v, dtype=np.float64)).all())
                for v in df["embedding"]
            ],
            dtype=bool,
        )
        tbl = df[valid].reset_index(drop=True)
        # evict only the SAME spec's stale fingerprints: two specs over one
        # source parquet with different k (ivf cents k=8 + probes k=5, pq
        # codebook k=16 + probes k=5) must coexist, or every batch evicts
        # its sibling and re-reads the dataset (r16 self-review find —
        # measured 6 reads over 3 batches where 2 are expected)
        for stale in [
            s
            for s in _SIDE_CACHE
            if s[0] == "src_vecs" and s[1] == src_path and s[3:] == (k, dim) and s != key
        ]:
            del _SIDE_CACHE[stale]
        _SIDE_CACHE[key] = tbl
    return tbl


def _load_cents(side) -> pd.DataFrame:
    """(cent_id, ce) side table from a staged dir path or a src_cents spec."""
    if isinstance(side, str):
        return _load_side(side)
    _, src_path, k, dim = side
    vecs = _load_source_vecs(src_path, k, dim)
    return pd.DataFrame(
        {"cent_id": vecs["vec_id"].to_numpy(), "ce": vecs["embedding"].to_numpy()}
    )


def _load_pq_cb(side) -> pd.DataFrame:
    """(m, k, cv) codebook from a staged dir path or a src_pq_cb spec."""
    if isinstance(side, str):
        return _load_side(side)
    _, src_path, pq_k, dim, n_sub, subdim = side
    vecs = _load_source_vecs(src_path, pq_k, dim)
    ks, ms, cvs = [], [], []
    for _, row in vecs.iterrows():
        emb = np.asarray(row["embedding"])
        for m in range(n_sub):
            ks.append(row["vec_id"])
            ms.append(m)
            cvs.append(emb[m * subdim : (m + 1) * subdim])
    return pd.DataFrame({"k": ks, "m": ms, "cv": cvs})


def _dot_const(mat: np.ndarray, vec: np.ndarray) -> np.ndarray:
    """Sequential-fold dot of every row of ``mat`` against one constant
    vector — per-dimension order identical to ``_seq_dot`` (scalar-broadcast
    multiplies are bit-equal to the row-replicated form)."""
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for j in range(mat.shape[1]):
        acc += mat[:, j] * vec[j]
    return acc


def _self_dot(vec: np.ndarray) -> float:
    return _seq_dot(vec[None, :], vec[None, :])[0]


def _nearest_id(
    vecs: np.ndarray, cents: np.ndarray, ids: np.ndarray, metric: str,
    vn2: np.ndarray | None = None,
) -> np.ndarray:
    """Per-row nearest-centroid id under the oracle's total order —
    the loop behind make_nearest_centroid_udf, shared with the fused IVF
    kernel. ``metric='l2'`` argmin of ``vn2 + cn2 - 2*dot``; ``'cos'``
    argmax of ``dot / (sqrt(vn2)*sqrt(cn2))``. ``vn2``: optionally the
    caller's precomputed self-dot fold (the same _seq_dot values — the
    fused IVF kernel needs them for its own norms too)."""
    if vn2 is None:
        vn2 = _seq_dot(vecs, vecs)
    if metric == "cos":
        vnorm = np.sqrt(vn2)
    best_id = np.full(vecs.shape[0], -1, dtype=np.int64)
    best_score = None
    no_null = np.zeros(vecs.shape[0], dtype=bool)
    for i in range(cents.shape[0]):
        cn2 = _self_dot(cents[i])
        dot = _dot_const(vecs, cents[i])
        if metric == "l2":
            score = vn2 + cn2 - 2.0 * dot
            null = no_null  # no division: the oracle cannot emit NULL
        else:
            den = vnorm * np.sqrt(cn2)
            with np.errstate(divide="ignore", invalid="ignore"):
                score = dot / den
            # DuckDB DOUBLE division never yields NaN/inf on a zero
            # denominator — it yields NULL, which sorts LAST in BOTH
            # directions (NULLS LAST), i.e. loses every contest. numpy
            # gives NaN here, which would WIN the cosine argmax (NaN
            # sorts above +inf) — a zero-norm centroid would swallow
            # the whole corpus while the oracle assigns it nothing
            # (r10 review find; latent until a zero vector exists).
            # Track the NULL class separately from genuine NaN data.
            null = den == 0.0
        # the engines sort (non-NULL) NaN STRICTLY ABOVE +inf (module
        # docstring), so NaN-from-data must beat an overflow-to-+inf
        # score in the cosine argmax and lose to it in the L2 argmin —
        # a NaN→+inf remap would conflate the two and let the tiebreak
        # pick the wrong centroid. Compare on the (is_nan, score) pair.
        nan = np.isnan(score) & ~null
        score = np.where(nan | null, 0.0, score)  # placeholder cells
        if best_score is None:
            best_score, best_nan = score.copy(), nan.copy()
            best_null, best_id[:] = null.copy(), ids[i]
        else:
            # NULL-like loses to any non-NULL and keeps the incumbent
            # against another NULL (ascending-id scan = lowest-id
            # tiebreak, the oracle's ORDER BY ..., cent_id on all-NULL)
            upd = (~null & best_null) | (
                ~null
                & ~best_null
                & better(nan, score, best_nan, best_score, largest=(metric == "cos"))
            )
            best_score[upd] = score[upd]
            best_nan[upd] = nan[upd]
            best_null[upd] = null[upd]
            best_id[upd] = ids[i]
    return best_id


def make_nearest_centroid_udf(cents_side, *, metric: str):
    """pandas_udf: embedding → cent_id of the nearest centroid.

    ``metric='l2'``  — argmin of ``vn2 + cn2 - 2*dot`` (ORDER BY d2, cent_id);
    ``metric='cos'`` — argmax of ``dot / (sqrt(vn2)*sqrt(cn2))``
    (ORDER BY ccos DESC, cent_id). ``cents_side``: a staged side-table dir
    (columns cent_id, ce) or a ``source_cents_spec`` deriving the centroids
    worker-side from the source embeddings parquet (r16 — no staging job).
    """
    if metric not in ("l2", "cos"):
        raise ValueError(f"unknown metric: {metric}")

    @pandas_udf(LongType())
    def nearest_centroid(emb: pd.Series) -> pd.Series:
        side = _load_cents(cents_side).sort_values("cent_id")
        return pd.Series(
            _nearest_id(_stack(emb), _stack(side["ce"]), side["cent_id"].to_numpy(), metric)
        )

    # the assignment feeds equi-join keys (IVF cell join); Catalyst's
    # IsNotNull join-key filter would otherwise substitute the (deterministic)
    # UDF into the pushed filter and evaluate the kernel TWICE per corpus row
    # — nondeterministic pins evaluation to one ArrowEvalPython pass
    return nearest_centroid.asNondeterministic()


def _argmin_d2(sub: np.ndarray, cents: np.ndarray, ks: np.ndarray) -> np.ndarray:
    """Per-row argmin-``k`` of the expanded-form squared distance
    ``sn2 + cn2 - 2*dot`` over the codebook entries, with the oracle
    tie-break (ascending-k scan, strict-inequality updates → lowest k wins
    ties; NaN sorts strictly above +inf, so it loses the argmin even to an
    overflow distance — (is_nan, d2) pair compare, same as
    make_nearest_centroid_udf)."""
    sn2 = _seq_dot(sub, sub)
    best_k = np.full(sub.shape[0], -1, dtype=np.int64)
    best_d2 = best_nan = None
    for i in range(cents.shape[0]):
        cn2 = _self_dot(cents[i])
        d2 = sn2 + cn2 - 2.0 * _dot_const(sub, cents[i])
        nan = np.isnan(d2)
        d2 = np.where(nan, 0.0, d2)
        if best_d2 is None:
            best_d2, best_nan, best_k[:] = d2.copy(), nan.copy(), ks[i]
        else:
            upd = better(nan, d2, best_nan, best_d2, largest=False)
            best_d2[upd] = d2[upd]
            best_nan[upd] = nan[upd]
            best_k[upd] = ks[i]
    return best_k


def make_pq_codes_udf(cb_side, *, n_sub: int, subdim: int):
    """pandas_udf: embedding → array of ``n_sub`` PQ codes (one per
    subspace), each the argmin-d2 codebook entry for that subvector
    (ORDER BY d2, k). ``cb_side``: a staged side-table dir (columns m, k,
    cv) or a ``source_pq_cb_spec`` deriving the codebook worker-side from
    the source embeddings parquet (r16 — no staging job).
    """

    @pandas_udf(ArrayType(LongType()))
    def pq_codes(emb: pd.Series) -> pd.Series:
        side = _load_pq_cb(cb_side)
        vecs = _stack(emb)
        codes = np.empty((vecs.shape[0], n_sub), dtype=np.int64)
        for m in range(n_sub):
            sub_cb = side[side["m"] == m].sort_values("k")
            codes[:, m] = _argmin_d2(
                vecs[:, m * subdim : (m + 1) * subdim],
                _stack(sub_cb["cv"]),
                sub_cb["k"].to_numpy(),
            )
        return pd.Series(list(codes))

    # same single-evaluation pin as make_nearest_centroid_udf: the codes
    # feed 4 equi-join keys, whose IsNotNull filters would re-run the kernel
    return pq_codes.asNondeterministic()


def make_ivf_scores_udf(cents_side, probes_side, *, nprobe: int):
    """pandas_udf: embedding → struct of (probe vec_ids, cosines) for the
    probes whose top-``nprobe`` cells contain this vector's cell — the
    whole IVF candidate search as ONE map-side Arrow pass (r16; replaces
    the probe×centroid crossJoin + ranking window + probe_cells broadcast
    + cell equi-join + pair cosine eval).

    Bit-compatibility with the joined shape, piece by piece:

    * the corpus cell is ``_nearest_id(..., metric='cos')`` — the exact
      assignment kernel the join shape used;
    * each probe's cell ranking reproduces ``row_number() OVER (ORDER BY
      pcos DESC, cent_id) <= nprobe`` where pcos carries the ``cosine()``
      UDF's contract (zero denominator OR NaN result → NULL, NULLS LAST
      under DESC): rank key = (is_null, -pcos, cent_id);
    * the emitted pair score is the same ``cosine()`` contract — NULL for
      a zero-norm side or NaN result, the plain double otherwise.

    Empty centroid or probe sets emit empty arrays (the joins' empty
    result). The ``vec_id != probe_id`` guard stays JVM-side.
    """
    out_t = StructType(
        [
            StructField("pids", ArrayType(LongType())),
            StructField("cosines", ArrayType(DoubleType())),
        ]
    )

    @pandas_udf(out_t)
    def ivf_scores(emb: pd.Series) -> pd.DataFrame:
        cside = _load_cents(cents_side).sort_values("cent_id")
        probes = _load_cents(probes_side).sort_values("cent_id")
        n = len(emb)
        cids = cside["cent_id"].to_numpy()
        pids = probes["cent_id"].to_numpy()
        if n == 0 or len(cids) == 0 or len(pids) == 0:
            empty: list = [] if n == 0 else [[]] * n
            return pd.DataFrame({"pids": empty, "cosines": empty})
        cents = _stack(cside["ce"])
        pvecs = _stack(probes["ce"])
        vecs = _stack(emb)
        vn2 = _seq_dot(vecs, vecs)
        cell = _nearest_id(vecs, cents, cids, "cos", vn2=vn2)
        enorm = np.sqrt(vn2)
        cn = np.sqrt(np.array([_self_dot(cents[i]) for i in range(cents.shape[0])]))
        out_ids: list[list] = [[] for _ in range(n)]
        out_cos: list[list] = [[] for _ in range(n)]
        for p in range(pvecs.shape[0]):
            pn = np.sqrt(_self_dot(pvecs[p]))
            # rank this probe's cells: (is_null, -pcos, cent_id)
            pdots = _dot_const(cents, pvecs[p])
            with np.errstate(divide="ignore", invalid="ignore"):
                pcos = pdots / (pn * cn)
            pnull = ((pn * cn) == 0.0) | np.isnan(pcos)
            order = sorted(
                range(len(cids)),
                key=lambda i: (bool(pnull[i]), -pcos[i] if not pnull[i] else 0.0, int(cids[i])),
            )
            probed = [int(cids[i]) for i in order[:nprobe]]
            # fold ONLY the candidate rows (r16 self-review find: folding
            # all n rows per probe re-did the brute-force work IVF exists
            # to avoid — the candidate mask costs an isin scan, the folds
            # then run on ~n·nprobe/n_cells rows; per-row fold values are
            # row-independent, so subsetting is bit-neutral)
            cand_idx = np.nonzero(np.isin(cell, probed))[0]
            if len(cand_idx) == 0:
                continue
            sub = vecs[cand_idx]
            num = _dot_const(sub, pvecs[p])
            den = pn * enorm[cand_idx]
            with np.errstate(divide="ignore", invalid="ignore"):
                c = num / den
            null = (den == 0.0) | np.isnan(c)
            pid = int(pids[p])
            for j, r in enumerate(cand_idx):
                out_ids[r].append(pid)
                out_cos[r].append(None if null[j] else float(c[j]))
        return pd.DataFrame({"pids": out_ids, "cosines": out_cos})

    # single-evaluation pin, same rationale as the other kernels
    return ivf_scores.asNondeterministic()


def make_probe_cosines_udf(probes_side):
    """pandas_udf: embedding → struct of (probe vec_ids, cosines) — the
    brute-force probe scoring as ONE map-side Arrow pass with the probes
    derived worker-side (r16; replaces the l2norm pass + probes broadcast
    + nested-loop pair join + second Arrow eval).

    Per (vector, probe): ``try_divide(seq_dot(pe, emb), pnorm * enorm)``
    reproduced bit-for-bit for every FINITE cosine — the numerator a
    sequential per-dimension fold (scalar-broadcast multiplies commute
    bit-exactly), the norms the same sqrt-of-self-fold ``l2norm``
    computed, and a ZERO denominator (zero-norm side) yielding NULL like
    try_divide's x/0. KNOWN ENVELOPE (r16 ADVICE, pinned in
    tests/test_quantize.py::test_probe_cosines_nan_envelope): a NaN
    cosine — reachable only from inf/inf after intermediate OVERFLOW of
    finite components (~1e155+ magnitudes; the corpus envelope admits any
    finite float32) — is emitted as NULL, because Arrow's from_pandas
    conversion of the ArrayType(DoubleType()) result coerces NaN inside
    lists to NULL. The old try_divide shape emitted NaN there, which
    sorts FIRST under the consumer's ORDER BY cosine DESC in both
    engines, while NULL sorts LAST — so on overflow-magnitude vectors
    the top-k may diverge from the oracle. Same class as the documented
    cosine() NaN-component envelope; fixtures never overflow.
    """
    out_t = StructType(
        [
            StructField("pids", ArrayType(LongType())),
            StructField("cosines", ArrayType(DoubleType())),
        ]
    )

    @pandas_udf(out_t)
    def probe_cosines(emb: pd.Series) -> pd.DataFrame:
        probes = _load_cents(probes_side)
        pids = probes["cent_id"].to_numpy()
        n = len(emb)
        if n == 0 or len(pids) == 0:
            empty: list = [] if n == 0 else [[]] * n
            return pd.DataFrame({"pids": empty, "cosines": empty})
        pvecs = _stack(probes["ce"])
        vecs = _stack(emb)
        enorm = np.sqrt(_seq_dot(vecs, vecs))
        pid_list = pids.tolist()
        cos_rows: list[list] = [[] for _ in range(n)]
        for i in range(pvecs.shape[0]):
            pnorm = np.sqrt(_self_dot(pvecs[i]))
            num = _dot_const(vecs, pvecs[i])
            den = pnorm * enorm
            with np.errstate(divide="ignore", invalid="ignore"):
                c = num / den
            zero = den == 0.0
            for r in range(n):
                cos_rows[r].append(None if zero[r] else float(c[r]))
        return pd.DataFrame({"pids": [pid_list] * n, "cosines": cos_rows})

    # single-evaluation pin, same rationale as the other kernels
    return probe_cosines.asNondeterministic()


def make_pq_adc_udf(cb_side, probes_side, *, n_sub: int, subdim: int):
    """pandas_udf: embedding → struct of (probe vec_ids, ADC distances) —
    the classic FAISS asymmetric-distance scan with the lookup table held
    IN the kernel instead of spread over per-subspace broadcast joins
    (r16, guide §8: the LUT is constant-sized — N_PROBES × n_sub × K
    doubles — so it belongs in a side channel, not 4 join subtrees whose
    probe chains each rebuilt the table and re-broadcast the codebook).

    Per corpus vector: assign codes with the SAME ``_argmin_d2`` scan the
    encode kernel uses, then total the per-subspace LUT entries in fixed
    m-order — ``pd2_0 + pd2_1 + pd2_2 + pd2_3`` exactly like the joined
    shape summed them, every term the expanded-form ``pn2 + cn2 - 2*dot``
    sequential fold — so the emitted doubles are bit-identical to the
    4-broadcast-join plan this replaces (verified at sf0.01 and sf0.1).

    ``cb_side``/``probes_side``: staged dirs or source specs (probes =
    ``source_cents_spec(sf_dir, N_PROBES, dim)`` — the same first-K-valid
    rows the probe scan selects). An empty codebook or probe set yields
    empty output arrays for every row — the joined shape's empty result.
    """
    out_t = StructType(
        [
            StructField("pids", ArrayType(LongType())),
            StructField("d2s", ArrayType(DoubleType())),
        ]
    )

    @pandas_udf(out_t)
    def pq_adc(emb: pd.Series) -> pd.DataFrame:
        side = _load_pq_cb(cb_side)
        probes = _load_cents(probes_side)
        pids = probes["cent_id"].to_numpy()
        n = len(emb)
        if n == 0 or len(pids) == 0 or len(side) == 0:
            empty_ids: list = [] if n == 0 else [[]] * n
            return pd.DataFrame({"pids": empty_ids, "d2s": empty_ids})
        pvecs = _stack(probes["ce"])
        vecs = _stack(emb)
        total = np.zeros((n, len(pids)), dtype=np.float64)
        for m in range(n_sub):
            sub_cb = side[side["m"] == m].sort_values("k")
            ks = sub_cb["k"].to_numpy()
            if len(ks) == 0:
                return pd.DataFrame({"pids": [[]] * n, "d2s": [[]] * n})
            cents = _stack(sub_cb["cv"])
            codes = _argmin_d2(vecs[:, m * subdim : (m + 1) * subdim], cents, ks)
            # per-probe LUT for this subspace: probe × codebook entry
            psub = pvecs[:, m * subdim : (m + 1) * subdim]
            pn2 = _seq_dot(psub, psub)
            lut = np.empty((len(pids), cents.shape[0]), dtype=np.float64)
            for i in range(cents.shape[0]):
                cn2 = _self_dot(cents[i])
                lut[:, i] = pn2 + cn2 - 2.0 * _dot_const(psub, cents[i])
            kpos = {int(kv): idx for idx, kv in enumerate(ks)}
            cols = np.array([kpos[int(c)] for c in codes], dtype=np.int64)
            total += lut[:, cols].T
        return pd.DataFrame(
            {"pids": [pids.tolist()] * n, "d2s": [row.tolist() for row in total]}
        )

    # single-evaluation pin, same rationale as the other kernels
    return pq_adc.asNondeterministic()
