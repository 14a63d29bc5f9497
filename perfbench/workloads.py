"""The benchmark's workloads: which registered queries one pass runs, and at
which input scale. Why each exists is in BENCHMARK.json and NOTES.md."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    sf: float


WORKLOADS: dict[str, Workload] = {
    # a one-slot pinned shingle table (ngram_jaccard_pairs) and a
    # mapInPandas worker; no streams and no writes
    "similarity_pins": Workload(
        queries=("q_ngram_jaccard_pairs", "q_media_features"),
        sf=0.01,
    ),
    # the minhash ingest store (land -> band -> ids renames); no cache()
    # pins and no Python workers
    "stream_ingest": Workload(
        queries=("q_stream_ingest_dedup",),
        sf=0.01,
    ),
}
