"""Custom Python DataSource (Spark 4 DataSource API): a WKT posit reader.

The reference ingests text-serialized temporal points (EWKT lines,
``meos/examples/04_to_file.rs:146-148``; WKB via ``tgeompointFromBinary``,
``meos-polars/examples/ais_to_db.rs:160``). This connector is the
Spark-native equivalent of "a file format the engine doesn't know": it
registers a first-class ``spark.read.format("wktposits")`` source that
scans a directory of ``mmsi;POINT(lon lat)@ts+00`` lines.

Scale shape: ``partitions()`` returns one InputPartition per file, so the
scan parallelizes across executors exactly like a built-in file source —
each Python worker reads only its file. Output is genuinely Arrow-batched
(``read`` yields ``pyarrow.RecordBatch``) with the line grammar applied as
ONE vectorized regex extract per chunk — the same F1 grammar as
``functions/serde.py``, ~20× the old per-line strptime loop (r12 scale
sweep found that loop at 14.9× on the ×10 fixture).
"""

from __future__ import annotations

import os
import re

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

#: chunked-read size for the vectorized scan (bounds worker memory per batch)
_CHUNK_BYTES = 8 << 20

_LINE_RE = re.compile(
    # mmsi admits a sign: int64 keys are signed and the writer renders a
    # negative id faithfully — an unsigned pattern would silently drop the
    # vessel via the malformed-line path while the oracle keeps it
    # (r10 review find; latent while fixture user_ids are non-negative)
    r"^(-?\d+);POINT\(([-0-9.]+) ([-0-9.]+)\)@"
    r"(\d{4}-\d{2}-\d{2} [0-9:.]+)\+00$"
)

SCHEMA = StructType(
    [
        StructField("mmsi", LongType()),
        StructField("lon", DoubleType()),
        StructField("lat", DoubleType()),
        StructField("ts", TimestampNTZType()),
        StructField("src_file", StringType()),
    ]
)


class _FilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class WktPositsReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self._dir = options["path"]

    def partitions(self):  # one partition per file → executor-parallel scan
        files = sorted(
            os.path.join(self._dir, f)
            for f in os.listdir(self._dir)
            if f.endswith(".txt")
        )
        return [_FilePartition(p) for p in files]

    def read(self, partition: _FilePartition):
        """Vectorized scan: chunked readlines → one C-level regex extract →
        one vectorized timestamp parse → one Arrow RecordBatch per chunk.

        The r8/r9 scale sweeps already measured the old per-line
        strptime loop as the slowest source path (5.7-5.8× at ×10), and
        the r12 sweep caught it at 14.9× on the refreshed fixture — a
        1M-line file cost ~30 s of row-at-a-time Python. The batch form
        does the same grammar work ~20× faster and keeps the scan's
        malformed-line envelope bit-identical:

        * lines the F1 regex rejects skip (str.extract yields NaN);
        * timestamps the regex admits but strptime's ``.%f`` rejects —
          no fraction, 7+ fraction digits, stray dots, doubled colons —
          skip via the strict shape pattern below (strptime's %H/%M/%S
          accept 1-2 digits, %f accepts 1-6 — pinned in
          tests/test_invariants.py; pandas alone would ADMIT 7-digit
          fractions strptime rejects), and out-of-range fields (25:00)
          skip via errors='coerce', exactly where strptime raised
          ValueError (review find, r7: one such line used to kill the
          whole job).
        """
        import pandas as pd
        import pyarrow as pa

        base = os.path.basename(partition.path)
        strict_ts = re.compile(r"^\d{4}-\d{2}-\d{2} \d{1,2}:\d{1,2}:\d{1,2}\.\d{1,6}$")
        with open(partition.path, encoding="utf-8") as fh:
            while True:
                lines = fh.readlines(_CHUNK_BYTES)
                if not lines:
                    break
                m = pd.Series(lines, dtype="object").str.strip().str.extract(_LINE_RE)
                ok = m[0].notna() & m[3].str.match(strict_ts, na=False)
                ts = pd.to_datetime(
                    m[3].where(ok), format="%Y-%m-%d %H:%M:%S.%f", errors="coerce"
                )
                ok &= ts.notna()
                if not ok.any():
                    continue
                keep = m[ok]
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(keep[0].astype("int64"), pa.int64()),
                        pa.array(keep[1].astype("float64"), pa.float64()),
                        pa.array(keep[2].astype("float64"), pa.float64()),
                        pa.Array.from_pandas(ts[ok]).cast(pa.timestamp("us")),
                        pa.array([base] * len(keep), pa.string()),
                    ],
                    names=["mmsi", "lon", "lat", "ts", "src_file"],
                )


class WktPositsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "wktposits"

    def schema(self) -> StructType:
        return SCHEMA

    def reader(self, schema: StructType) -> WktPositsReader:
        return WktPositsReader(self.options)


def register_wkt_source(spark) -> None:
    """Register the format with the session. Re-registering is allowed:
    Spark replaces the entry without raising, so a repeat call is a no-op
    in effect and any error is a real one."""
    spark.dataSource.register(WktPositsDataSource)
