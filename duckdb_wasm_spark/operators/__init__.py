"""LLM-data-pipeline operators over the `documents` and `embeddings` tables.

Modules
-------
  text        token counting, text statistics/quality, language-ID
              heuristic, document fingerprinting, vocabulary top-k
  dedup       exact dedup, n-gram Jaccard near-dup, banded MinHash-LSH,
              SimHash, embedding-cosine near-dup via random-hyperplane
              LSH, connected-component clustering
  similarity  embedding search: brute-force cosine top-k (the
              baseline), IVF (seeded, multi-probe, Lloyd-trained,
              k-means|| seeding), product quantization (ADC, rerank,
              IVF-PQ, residual codes), MMR re-ranking, and embedding
              audits (projection, PCA, quantization, truncation)
  selection   data selection: SemDeDup, DSIR importance resampling,
              perplexity bucketing, cluster silhouette
  sketches    probabilistic sketches next to their exact answers:
              HyperLogLog (and its merge), KMV distinct and Jaccard,
              Count-Min heavy hitters, Bloom decontamination,
              histogram quantiles
  graph       iterative graph analytics over the order graph:
              PageRank, common neighbors, degree distribution
  multimodal  binary-payload column plumbing (decode stubbed, Spark-side
              schema/batching real) via Arrow-batched mapInPandas:
              metadata, features, thumbnail resize, frame sampling
  pipeline    curation compositions (quality cut → dedup), corpus
              rollups, deterministic sampling (balanced cap, token
              budget, stratified train/val/test split)
  temporal    as-of join and range join — registered queries plus the
              reusable `asof_join` / `range_join` DataFrame APIs

Shared primitives live in `_text`: tokens, n-grams and the md5 →
60-bit hash fold, each as a Spark Column (Spark SQL text where a
caller builds `F.expr` strings) and as DuckDB SQL.

Cross-engine determinism: every operator ships a DuckDB oracle built
from the SAME primitives — md5 for hashing, left-fold
`aggregate`/`list_reduce` for float reductions, integer bit ops for
signatures — so results hash-match bit-for-bit (the registry's
correctness gate). Approximate operators (the LSH family, the sketches)
are deterministic too: their "randomness" is md5-derived, so the oracle
reproduces the same approximation.

Scale stance (100 TB): no driver-side collects; candidate generation is
always banded/bucketed joins (inverted-index style), never all-pairs —
the one all-pairs query (`sim_topk_brute`) is the restricted-query-set
correctness baseline for the ANN path, not the scale path.
"""
