"""Curation rules — the one implementation of the stopword list, the
heuristic quality score and its gate, the normalized content hash and
the doc-id split behind every curation query, in Spark SQL and in its
DuckDB oracles.

Contract, identical on both engines (tests/test_curation_core.py):
- `n_stop(toks)` counts the tokens that are in STOPWORDS;
- the quality of n tokens holding s stopwords is
  round(min(n / 50, 1) * (1 - 0.5 * s / max(n, 1)), 6) (`quality`, one
  SQL text for both engines; QUALITY / QUALITY_DUCK over the strtok
  tokens of `text`). A document passes the gate at quality >= 0.3
  (GATE), so at >= 15 tokens when none is a stopword;
- the content hash is the md5 of `text` lowercased, each run of space,
  tab, CR and LF made one space, then trimmed (NORM_HASH /
  NORM_HASH_DUCK);
- a doc's coin is the first 8 hex digits of md5(doc_id) over 2^32, a
  DOUBLE in [0, 1) (COIN / COIN_DUCK; Spark divides by a DOUBLE
  literal, since `4294967296.0` is a DECIMAL in Spark SQL); its split
  is train below 0.8, val below 0.9, test above (`split_case`).
"""

from __future__ import annotations

from mapreducecore_spark.llm.minhash import TOKS, TOKS_DUCK

STOPWORDS = ("the", "a", "of", "and", "to")
_SW = ", ".join(f"'{w}'" for w in STOPWORDS)


def n_stop(toks: str) -> str:
    """Spark SQL: the number of stopwords in array expression `toks`."""
    return f"size(filter({toks}, x -> array_contains(array({_SW}), x)))"


def n_stop_duck(toks: str) -> str:
    return f"len(list_filter({toks}, x -> list_contains([{_SW}], x)))"


def quality(n_tokens: str, stops: str) -> str:
    """The quality score of `n_tokens` tokens holding `stops`
    stopwords; the same SQL text runs on both engines."""
    return (
        f"ROUND(LEAST(CAST({n_tokens} AS DOUBLE) / 50.0, 1.0)"
        f" * (1.0 - 0.5 * CAST({stops} AS DOUBLE) / GREATEST({n_tokens}, 1)), 6)"
    )


QUALITY = quality(f"size({TOKS})", n_stop(TOKS))
QUALITY_DUCK = quality(f"len({TOKS_DUCK})", n_stop_duck(TOKS_DUCK))
GATE = "quality >= 0.3"

_WS = "[ \t\n\r]+"
NORM_HASH = f"md5(trim(regexp_replace(lower(text), '{_WS}', ' ')))"
NORM_HASH_DUCK = f"md5(trim(regexp_replace(lower(text), '{_WS}', ' ', 'g')))"

COIN = (
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    " / 4294967296D"
)
COIN_DUCK = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " / 4294967296.0"
)


def split_case(u: str) -> str:
    """The 80/10/10 split of coin expression `u`, on both engines."""
    return f"CASE WHEN {u} < 0.8 THEN 'train' WHEN {u} < 0.9 THEN 'val' ELSE 'test' END"
