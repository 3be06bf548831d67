"""Aggregated QUERIES/ORACLE registries for the LLM-pipeline operators —
merged into the driver contract by __spark_entry__.py."""

from __future__ import annotations

from duckdb_wasm_spark.operators import (
    dedup,
    graph,
    multimodal,
    pipeline,
    selection,
    similarity,
    sketches,
    temporal,
    text,
)

QUERIES: dict = {}
ORACLE: dict[str, str] = {}
for _m in (text, dedup, similarity, multimodal, pipeline, temporal, sketches, graph, selection):
    QUERIES.update(_m.QUERIES)
    ORACLE.update(_m.ORACLE)
