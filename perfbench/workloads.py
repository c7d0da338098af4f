"""The benchmark's workloads: which registered queries run, over which inputs.

Each workload runs in its own fresh local session. Golden-tagged queries are
left out: their oracles are VALUES literals that hold only on the sf0.01
test fixture, not on generated inputs.
"""

from __future__ import annotations

from dataclasses import dataclass

from inputs import Sizes


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    sizes: Sizes


WORKLOADS = {
    # The paper's batch dataflow over a fleet that grows in time: scan,
    # per-vessel sort/window and trajectory assembly, the 3-D box path of
    # each trajectory, the JSON-lines trip sink, and the same assembly as a
    # stateful stream (applyInPandasWithState, availableNow). 72k events
    # in one row group, so each scan is a single task. Every query
    # shuffles the events by vessel; almost half of a warm pass is driver
    # time outside Spark jobs. No staging, so it is the bypass workload for
    # curation changes.
    "trips": Workload(
        queries=(
            "flagship_trip_pipeline",
            "traj_stbox_z_path",
            "snk_jsonl_trips",
            "stream_stateful_assembly",
        ),
        sizes=Sizes(events=18000, vessels=45, documents=100, vectors=100,
                    growth="time", factor=4),
    ),
    # Text and vector curation: the MinHash signature stage and its staging
    # write, the Python Arrow JPEG kernel, the product-quantizer UDFs and
    # the regex PII scrub. About two thirds of executor time is in Python
    # workers. Bypass workload for trajectory, sink and streaming changes.
    "curation": Workload(
        queries=(
            "dedup_minhash_lsh",
            "mm_jpeg_features",
            "sim_pq_ann",
            "text_pii_scrub",
        ),
        sizes=Sizes(events=400, vessels=20, documents=375, vectors=250,
                    growth="uniform", factor=4),
    ),
}
