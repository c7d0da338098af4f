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
side channel, not a join. Every side here is a ``source_cents_spec``: the
first K valid vectors of the source embeddings parquet, which every
executor can already read. Each Python worker loads a spec ONCE as
``(ids, float64 matrix)`` (process-level cache, refreshed on file
fingerprint change) and scores each Arrow batch against it. The corpus path
becomes scan → ArrowEvalPython → downstream: ZERO exchanges for assignment
at any scale, and K× less data through the Python boundary than the
crossJoin shape pushed through the shuffle.

Contract (the oracles are unchanged):

* inputs are in the corpus envelope (``queries.similarity._corpus``):
  finite float32 components, so with DIM = 64 every fold is at most
  64·(3.4e38)² ≈ 7.4e78 and no score is NaN or ±inf. A kernel handed a
  non-finite component raises ``ValueError`` instead of ranking it;
* scores come from one n×K strictly-sequential per-dimension fold — per
  pair the same adds, in the same order, as ``functions.embeddings._seq_dot``
  and DuckDB's ``list_dot_product``;
* squared L2 stays in expanded dot form ``vn2 + cn2 - 2*dot`` combined
  left-to-right, exactly like ``embeddings.seq_sqdist``;
* a side holds at least one vector and each vec_id once; loading one
  that does not raises ``ValueError`` naming its path and k;
* sides are sorted by id and ``np.argmin``/``np.argmax`` keep the first
  extreme, so the lowest id wins ties — the oracles' ``ORDER BY score
  [DESC], cent_id``;
* a ZERO cosine denominator (a zero vector) is DuckDB's NULL, which sorts
  LAST in both directions: it scores −inf before an argmax, and is emitted
  as NULL.
"""

from __future__ import annotations

import os

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

__all__ = [
    "make_ivf_scores_udf",
    "make_nearest_centroid_udf",
    "make_pq_adc_udf",
    "make_probe_cosines_udf",
    "source_cents_spec",
]

#: (path, fingerprint, k, dim) -> (ids, matrix). Entries are K-row
#: quantizers (a few KB); a spec's stale fingerprints are evicted.
_SIDE_CACHE: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}


def source_cents_spec(sf_dir: str, k: int, dim: int) -> tuple:
    """Side-spec: the first-``k`` valid vectors of the fixture's embeddings
    parquet — the rows ``_corpus(...).filter(vec_id < k)`` yields."""
    return (os.path.join(sf_dir, "embeddings.parquet"), k, dim)


def _fingerprint(path: str):
    """Cheap change detector for a parquet file or directory: (name, size,
    mtime_ns) per data file — ``_SUCCESS``/dot-metadata excluded, since a
    payload change always touches a data file. None when unreadable."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
        return tuple(
            (f, st.st_size, st.st_mtime_ns)
            for f in sorted(os.listdir(path))
            if not f.startswith(("_", "."))
            for st in (os.stat(os.path.join(path, f)),)
        )
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


def _load_source_vecs(src_path: str, k: int, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """First-k valid corpus vectors straight from the source dataset, as
    ``(ids, float64 matrix)`` sorted by id: vec_id < k AND the corpus
    envelope (non-NULL embedding, exactly ``dim`` components, all finite; a
    NULL component arrives as NaN through Arrow's list<float> → numpy
    conversion and fails the finite test exactly like the Spark leg's
    exists() predicate drops it). Cached per worker by (path, fingerprint,
    k, dim).

    Read volume: the ``vec_id < k`` filter is EXACT on any row order, and
    parquet row-group statistics prune the scan to the dataset head when
    vec_id is written in order (the fixtures are). On an UNSORTED source
    the stats cannot prune, so the batch loop additionally short-circuits
    via ``_first_k_batches`` — the scan stops at the batch where the
    k-th distinct head id appears instead of reading the whole file.

    Raises ValueError naming the path and k when a vec_id repeats among the
    rows read, or when none of them is in the envelope (an empty quantizer).
    The duplicate check covers the rows read only: on the fixtures' sorted
    layout that is the stats-pruned head, and on an unsorted source the
    scan may stop before a later duplicate."""
    key = (src_path, _fingerprint(src_path), k, dim)
    side = _SIDE_CACHE.get(key)
    if side is None:
        import pyarrow as pa
        import pyarrow.dataset as ds

        scanner = ds.dataset(src_path).scanner(
            filter=ds.field("vec_id") < k, columns=["vec_id", "embedding"]
        )
        t = pa.Table.from_batches(
            _first_k_batches(scanner.to_batches(), k),
            schema=scanner.projected_schema,
        )
        df = t.to_pandas().sort_values("vec_id")
        ids = df["vec_id"].to_numpy(np.int64)
        if (np.diff(ids) == 0).any():
            raise ValueError(f"{src_path}: vec_id repeats among the rows with vec_id < {k}")
        vecs = [None if e is None else np.asarray(e, np.float64) for e in df["embedding"]]
        keep = np.array(
            [v is not None and len(v) == dim and np.isfinite(v).all() for v in vecs], dtype=bool
        )
        if not keep.any():
            raise ValueError(
                f"{src_path}: no row with vec_id < {k} is a valid {dim}-dim vector "
                "(empty quantizer)"
            )
        side = (ids[keep], np.array([v for v, ok in zip(vecs, keep) if ok]))
        # evict only the SAME spec's stale fingerprints: two specs over one
        # source parquet with different k (ivf cents k=8 + probes k=5, pq
        # codebook k=16 + probes k=5) must coexist, or every batch evicts
        # its sibling and re-reads the dataset
        for stale in [s for s in _SIDE_CACHE if (s[0], s[2], s[3]) == (src_path, k, dim)]:
            del _SIDE_CACHE[stale]
        _SIDE_CACHE[key] = side
    return side


def _batch(emb: pd.Series) -> np.ndarray:
    """The Arrow batch as a float64 matrix, refused when any component is
    non-finite: the no-NaN/no-inf ranking contract above holds only inside
    the corpus envelope."""
    vecs = _stack(emb)
    if not np.isfinite(vecs).all():
        raise ValueError(
            "quantizer kernels take corpus-envelope vectors (finite components); "
            "filter the input through queries.similarity._corpus"
        )
    return vecs


def _fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """n×K dot matrix, ``out[i, j]`` the strictly-sequential per-dimension
    fold of ``a[i]·b[j]`` — the same adds in the same order as ``_seq_dot``
    on that pair."""
    acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    for d in range(a.shape[1]):
        acc += a[:, d, None] * b[None, :, d]
    return acc


def _d2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """n×K squared distances in expanded form ``an2 + bn2 - 2*dot``."""
    return _seq_dot(a, a)[:, None] + _seq_dot(b, b) - 2.0 * _fold(a, b)


def _cos(a: np.ndarray, an2: np.ndarray, b: np.ndarray, *, null: float) -> np.ndarray:
    """n×K cosines ``dot / (sqrt(an2)*sqrt(bn2))``; a zero denominator (the
    oracle's NULL) reads ``null``."""
    den = np.sqrt(an2)[:, None] * np.sqrt(_seq_dot(b, b))
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den == 0.0, null, _fold(a, b) / den)


def _cells(c: np.ndarray) -> np.ndarray:
    """A cosine matrix as Python floats, NaN (the NULL class) as None."""
    cells = c.astype(object)
    cells[np.isnan(c)] = None
    return cells


def make_nearest_centroid_udf(cents_side, *, metric: str):
    """pandas_udf: embedding → cent_id of the nearest centroid.

    ``metric='l2'``  — argmin of ``vn2 + cn2 - 2*dot`` (ORDER BY d2, cent_id);
    ``metric='cos'`` — argmax of ``dot / (sqrt(vn2)*sqrt(cn2))``
    (ORDER BY ccos DESC, cent_id). ``cents_side``: a ``source_cents_spec``.
    """
    if metric not in ("l2", "cos"):
        raise ValueError(f"unknown metric: {metric}")

    @pandas_udf(LongType())
    def nearest_centroid(emb: pd.Series) -> pd.Series:
        ids, cents = _load_source_vecs(*cents_side)
        vecs = _batch(emb)
        if metric == "l2":
            best = np.argmin(_d2(vecs, cents), axis=1)
        else:
            best = np.argmax(_cos(vecs, _seq_dot(vecs, vecs), cents, null=-np.inf), axis=1)
        return pd.Series(ids[best])

    # the assignment feeds equi-join keys (IVF cell join); Catalyst's
    # IsNotNull join-key filter would otherwise substitute the (deterministic)
    # UDF into the pushed filter and evaluate the kernel TWICE per corpus row
    # — nondeterministic pins evaluation to one ArrowEvalPython pass
    return nearest_centroid.asNondeterministic()


def _pairs_type(scores: str) -> StructType:
    return StructType(
        [
            StructField("pids", ArrayType(LongType())),
            StructField(scores, ArrayType(DoubleType())),
        ]
    )


def make_ivf_scores_udf(cents_side, probes_side, *, nprobe: int):
    """pandas_udf: embedding → struct of (probe vec_ids, cosines) for the
    probes whose top-``nprobe`` cells contain this vector's cell — the
    whole IVF candidate search as ONE map-side Arrow pass (r16; replaces
    the probe×centroid crossJoin + ranking window + probe_cells broadcast
    + cell equi-join + pair cosine eval).

    Bit-compatibility with the joined shape, piece by piece:

    * the corpus cell is the cosine argmax of ``make_nearest_centroid_udf``;
    * each probe's cell ranking reproduces ``row_number() OVER (ORDER BY
      pcos DESC, cent_id) <= nprobe``, NULL (zero denominator) last: a
      stable descending sort of the cosines with NULL as −inf;
    * the emitted pair score is the ``cosine()`` contract — NULL for a
      zero-norm side, the plain double otherwise.

    The ``vec_id != probe_id`` guard stays JVM-side.
    """

    @pandas_udf(_pairs_type("cosines"))
    def ivf_scores(emb: pd.Series) -> pd.DataFrame:
        _, cents = _load_source_vecs(*cents_side)
        pids, pvecs = _load_source_vecs(*probes_side)
        if len(emb) == 0:
            return pd.DataFrame({"pids": [], "cosines": []})
        vecs = _batch(emb)
        vn2 = _seq_dot(vecs, vecs)
        cell = np.argmax(_cos(vecs, vn2, cents, null=-np.inf), axis=1)
        pcos = _cos(pvecs, _seq_dot(pvecs, pvecs), cents, null=-np.inf)
        probed = np.argsort(-pcos, axis=1, kind="stable")[:, :nprobe]
        # mask[r, p]: probe p searches row r's cell. Only rows some probe
        # searches are folded — per-row fold values are row-independent,
        # so the subset is bit-neutral
        mask = (cell[:, None, None] == probed[None, :, :]).any(axis=2)
        cand = mask.any(axis=1)
        cos = np.full(mask.shape, np.nan)
        cos[cand] = _cos(vecs[cand], vn2[cand], pvecs, null=np.nan)
        pid_cells = pids.astype(object)
        return pd.DataFrame(
            {
                "pids": [pid_cells[m].tolist() for m in mask],
                "cosines": [row[m].tolist() for row, m in zip(_cells(cos), mask)],
            }
        )

    # single-evaluation pin, same rationale as the other kernels
    return ivf_scores.asNondeterministic()


def make_probe_cosines_udf(probes_side):
    """pandas_udf: embedding → struct of (probe vec_ids, cosines) — the
    brute-force probe scoring as ONE map-side Arrow pass with the probes
    derived worker-side (r16; replaces the l2norm pass + probes broadcast
    + nested-loop pair join + second Arrow eval).

    Per (vector, probe): ``try_divide(seq_dot(pe, emb), pnorm * enorm)``
    reproduced bit-for-bit — the numerator the sequential per-dimension
    fold, the norms the same sqrt-of-self-fold ``l2norm`` computes, and a
    ZERO denominator (zero-norm side) yielding NULL like try_divide's x/0.
    Inside the corpus envelope no cosine is NaN or ±inf (module docstring).
    """

    @pandas_udf(_pairs_type("cosines"))
    def probe_cosines(emb: pd.Series) -> pd.DataFrame:
        pids, pvecs = _load_source_vecs(*probes_side)
        n = len(emb)
        if n == 0:
            return pd.DataFrame({"pids": [], "cosines": []})
        vecs = _batch(emb)
        cos = _cos(vecs, _seq_dot(vecs, vecs), pvecs, null=np.nan)
        return pd.DataFrame({"pids": [pids.tolist()] * n, "cosines": _cells(cos).tolist()})

    # single-evaluation pin, same rationale as the other kernels
    return probe_cosines.asNondeterministic()


def make_pq_adc_udf(cb_side, probes_side, *, n_sub: int, subdim: int):
    """pandas_udf: embedding → struct of (probe vec_ids, ADC distances) —
    the classic FAISS asymmetric-distance scan with the lookup table held
    IN the kernel instead of spread over per-subspace broadcast joins
    (r16, guide §8: the LUT is constant-sized — N_PROBES × n_sub × K
    doubles — so it belongs in a side channel, not 4 join subtrees whose
    probe chains each rebuilt the table and re-broadcast the codebook).

    The codebook of subspace ``m`` is columns ``m*subdim .. (m+1)*subdim``
    of the ``cb_side`` matrix (the first-K valid vectors' subvectors). Per
    corpus vector: each subspace's code is the argmin-d2 codebook row
    (ORDER BY d2, k), then the per-subspace LUT entries are totalled in
    fixed m-order — ``pd2_0 + pd2_1 + pd2_2 + pd2_3`` exactly like the
    joined shape summed them, every term the expanded-form
    ``pn2 + cn2 - 2*dot`` sequential fold — so the emitted doubles are
    bit-identical to the 4-broadcast-join plan this replaces.
    """

    @pandas_udf(_pairs_type("d2s"))
    def pq_adc(emb: pd.Series) -> pd.DataFrame:
        _, cb = _load_source_vecs(*cb_side)
        pids, pvecs = _load_source_vecs(*probes_side)
        n = len(emb)
        if n == 0:
            return pd.DataFrame({"pids": [], "d2s": []})
        vecs = _batch(emb)
        total = np.zeros((n, len(pids)), dtype=np.float64)
        for m in range(n_sub):
            cols = slice(m * subdim, (m + 1) * subdim)
            codes = np.argmin(_d2(vecs[:, cols], cb[:, cols]), axis=1)
            total += _d2(pvecs[:, cols], cb[:, cols])[:, codes].T
        return pd.DataFrame({"pids": [pids.tolist()] * n, "d2s": total.tolist()})

    # single-evaluation pin, same rationale as the other kernels
    return pq_adc.asNondeterministic()
