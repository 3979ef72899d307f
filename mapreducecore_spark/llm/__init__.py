"""LLM-data-pipeline operator implementations: MinHash signatures and
LSH bands (minhash.py, the one core behind every near-dup query and its
DuckDB oracle), SimHash, sign-LSH/IVF similarity and multimodal decode.
The query registry in queries/ wraps these."""
