"""Seeded synthetic inputs for the benchmark.

The benchmark reads and writes only inside its checkout, so it cannot read
the shared sf0.1 test fixtures. Instead it writes a base fixture with the
same schemas and value distributions as those fixtures (events: uniform
vessel ids, sorted microsecond timestamps over 30 days, exponential
``value``, ``{"k": n}`` props; documents: 30-word vocabulary, 10-100
tokens, 5% near-duplicates ending in `` dup``; embeddings: unit-norm
64-d gaussians), then grows it with the package's own scale tools
(``tools/gen_scale.py``): time-growth replication for the event workloads,
uniform key-remapped replication for the curation workload.

Every random draw comes from ``numpy.random.default_rng(seed)``, so one seed
gives byte-identical inputs and another seed gives different ones.
"""

from __future__ import annotations

import contextlib
import io
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DIM = 64

#: Relational tables the queries of this benchmark never read. They are
#: written empty so every fixture directory has the full table set that
#: ``tests/oracle.duck_connection`` and ``tools/gen_scale`` expect.
EMPTY_SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
}


@dataclass(frozen=True)
class Sizes:
    """Base fixture size and how the package's scale tool grows it."""

    events: int
    vessels: int
    documents: int
    vectors: int
    growth: str  # "time" (gen_scale.scale_fixture_time) or "uniform"
    factor: int


def events_table(rng: np.random.Generator, n: int, vessels: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, vessels, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # 5% near-duplicates: an earlier document's text plus one extra token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def write_base(dst: str, seed: int, sizes: Sizes) -> None:
    """Write the unscaled base fixture (all ten tables) to ``dst``."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "events": events_table(rng, sizes.events, sizes.vessels),
        "documents": documents_table(rng, sizes.documents),
        "embeddings": embeddings_table(rng, sizes.vectors),
    }
    for name, cols in EMPTY_SCHEMAS.items():
        tables[name] = pa.schema(cols).empty_table()
    for name, table in tables.items():
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"))


def generate(root: str, seed: int, sizes: Sizes) -> str:
    """Write the workload's fixture under ``root``; return its directory."""
    from tools import gen_scale

    base = os.path.join(root, "base")
    out = os.path.join(root, "fixture")
    write_base(base, seed, sizes)
    # gen_scale reports each table on stdout; the benchmark's stdout ends
    # with its one result line, so keep the tool's chatter off it
    with contextlib.redirect_stdout(io.StringIO()):
        if sizes.growth == "time":
            gen_scale.scale_fixture_time(base, out, sizes.factor)
        else:
            gen_scale.scale_fixture(base, out, sizes.factor)
    return out


def table_rows(fixture: str) -> dict[str, int]:
    """Row count of each non-empty table, for the run's notes."""
    rows = {}
    for name in ("events", "documents", "embeddings"):
        path = os.path.join(fixture, f"{name}.parquet")
        rows[name] = pq.ParquetFile(path).metadata.num_rows
    return rows
