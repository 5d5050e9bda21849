"""The benchmark's workloads and the seeded choices made for each run.

A batch workload is a list of registered query names; one pass builds and
executes each to the noop sink. ``stream_fold`` is a list of streaming
folds; one pass drains each over its micro-batched feed and materializes
the final answer. The seed permutes query order per pass and picks the
micro-batch cut points of every feed; the tables themselves are fixed
(``datagen.py``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class Fold:
    fn: str            # function in ds_mapreduce_spark.streaming.jobs
    feed: str          # catalog table split into the micro-batch feed
    twin: str          # registered batch query the fold must equal


@dataclass(frozen=True)
class Workload:
    """Why each workload is there: README.md and BENCHMARK.json."""

    name: str
    items: tuple[str, ...]        # query names, or fold function names
    tables: tuple[str, ...]       # catalog tables the workload reads
    folds: tuple[Fold, ...] = ()

    @property
    def streaming(self) -> bool:
        return bool(self.folds)


FOLDS = (
    Fold("run_streaming_heavy_hitters", "events", "events_heavy_hitter_profile"),
    Fold("run_streaming_mv_maintenance", "orders", "incremental_agg_maintenance"),
)

WORKLOADS = {w.name: w for w in (
    Workload(
        "sql_analytics",
        ("wordcount", "q1_pricing_summary", "q3_shipping_priority",
         "q5_local_supplier_volume"),
        ("documents", "lineitem", "orders", "customer", "supplier", "nation",
         "region"),
    ),
    Workload(
        "corpus_dedup",
        ("dedup_minhash_lsh", "dedup_semdedup_trained"),
        ("documents", "embeddings"),
    ),
    Workload(
        "media_codecs",
        ("multimodal_jpeg_roundtrip", "multimodal_h264_annexb_roundtrip"),
        ("documents",),
    ),
    Workload(
        "stream_fold",
        tuple(f.fn for f in FOLDS),
        tuple(dict.fromkeys(f.feed for f in FOLDS)),
        FOLDS,
    ),
)}

#: micro-batches per feed
N_BATCHES = 3


def pass_order(items: tuple[str, ...], seed: int, n_passes: int) -> list[list[str]]:
    """The item order of each pass: a seeded permutation per pass."""
    rng = np.random.default_rng([seed, 1])
    return [[items[i] for i in rng.permutation(len(items))] for _ in range(n_passes)]


def cut_points(n_rows: int, seed: int, feed: str, k: int = N_BATCHES) -> list[int]:
    """Row offsets [0, c1, ..., n_rows] splitting a feed into k non-empty
    micro-batches: each inner cut sits within a quarter batch of the even
    split, drawn from the seed (distinct per feed)."""
    if n_rows < 4 * k:
        raise ValueError(f"feed {feed!r} has {n_rows} rows, too few for {k} batches")
    rng = np.random.default_rng([seed, 2, *feed.encode()])
    step = n_rows / k
    jitter = rng.uniform(-step / 4, step / 4, k - 1)
    inner = [int(round(step * (i + 1) + j)) for i, j in enumerate(jitter)]
    return [0, *inner, n_rows]
