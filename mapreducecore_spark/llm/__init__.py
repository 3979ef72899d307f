"""LLM-data-pipeline operator implementations, each core written once
for Spark and once for the DuckDB oracles: MinHash signatures, LSH
bands and the oversized-bucket match rule (minhash.py, behind every
near-dup query), the vector math
(similarity.py, behind every ANN/k-means query) and the curation rules
(curation.py: quality score, normalized content hash, doc-id split).
Also SimHash and multimodal decode. The query registry in queries/
wraps these."""
