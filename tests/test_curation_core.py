"""The curation core (llm/curation.py) gives equal values on Spark and
DuckDB: stopword count, quality score, gate, normalized content hash,
doc-id coin and split, over edge strings the generated test documents
never hold (empty text, tab/CR/LF runs, uppercase, non-ASCII, stopwords only,
more than 50 tokens) and doc ids whose coin sits next to 0.8 or 0.9.
A static check keeps each rule's constants in the core alone."""

from __future__ import annotations

import hashlib
import os

import duckdb

from mapreducecore_spark.llm.curation import (
    COIN,
    COIN_DUCK,
    GATE,
    NORM_HASH,
    NORM_HASH_DUCK,
    QUALITY,
    QUALITY_DUCK,
    n_stop,
    n_stop_duck,
    split_case,
)
from mapreducecore_spark.llm.minhash import TOKS, TOKS_DUCK

# Coins on either side of the split points (first 100k ids, checked below).
_BELOW_08, _ABOVE_08, _BELOW_09, _ABOVE_09 = 57276, 87925, 92071, 78240

_WORDS = " ".join(f"w{i}" for i in range(60))
_EDGE = [
    "",
    " \t\r\n ",
    "Alpha\t\tBeta\r\n\r\ngamma \n delta",
    "alpha beta gamma delta",
    "ALPHA BETA GAMMA DELTA",
    "Éclair ÀÉÎÕÜ naïve Ñandú ΑΘΗΝΑ Москва",
    "the a of and to the a of",
    "The A Of and to",
    _WORDS,
    _WORDS + " the of and",
    " ".join(f"w{i}" for i in range(15)),
    " ".join(f"w{i}" for i in range(14)),
]
_IDS = [_BELOW_08, _ABOVE_08, _BELOW_09, _ABOVE_09, 0, 1, 123456789012]
_ROWS = [(d, t) for d in _IDS for t in _EDGE]

_EXPRS = [  # (column, Spark SQL, DuckDB SQL)
    ("n_stop", n_stop(TOKS), n_stop_duck(TOKS_DUCK)),
    ("quality", QUALITY, QUALITY_DUCK),
    ("h", NORM_HASH, NORM_HASH_DUCK),
    ("u", COIN, COIN_DUCK),
    ("split", split_case(COIN), split_case(COIN_DUCK)),
]


def _coin(doc_id: int) -> float:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) / 2**32


def _canon(row):
    return tuple(v.hex() if isinstance(v, float) else v for v in row)


def test_boundary_ids_straddle_the_split_points():
    assert _coin(_BELOW_08) < 0.8 <= _coin(_ABOVE_08)
    assert _coin(_BELOW_09) < 0.9 <= _coin(_ABOVE_09)
    assert max(abs(_coin(d) - p) for d, p in [
        (_BELOW_08, 0.8), (_ABOVE_08, 0.8), (_BELOW_09, 0.9), (_ABOVE_09, 0.9)
    ]) < 1e-4


def test_core_expressions_are_equal_on_both_engines(spark):
    sdf = spark.createDataFrame(_ROWS, "doc_id bigint, text string")
    got = sdf.selectExpr("doc_id", "text", *(f"{s} AS {c}" for c, s, _ in _EXPRS))
    spark_rows = sorted(_canon(r) for r in got.selectExpr("*", f"{GATE} AS gate").collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", _ROWS)
    cols = ", ".join(f"{d} AS {c}" for c, _, d in _EXPRS)
    duck_rows = sorted(
        _canon(r)
        for r in con.sql(
            f"SELECT *, {GATE} AS gate FROM (SELECT doc_id, text, {cols} FROM documents)"
        ).fetchall()
    )
    con.close()

    assert len(spark_rows) == len(_ROWS)
    assert spark_rows == duck_rows
    by_text = {(r[0], r[1]): r[2:] for r in spark_rows}
    for d in _IDS:
        _, q, h, u, split, _ = by_text[(d, "")]
        assert float.fromhex(q) == 0.0 and h == hashlib.md5(b"").hexdigest()
        assert u == _coin(d).hex()
        assert split == ("train" if _coin(d) < 0.8 else "val" if _coin(d) < 0.9 else "test")
    n, q, *_, gate = by_text[(0, "the a of and to the a of")]
    assert (n, float.fromhex(q), gate) == (8, 0.08, False)
    assert float.fromhex(by_text[(0, _WORDS)][1]) == 1.0
    # 15 tokens with no stopword pass the gate; 14 do not
    assert by_text[(0, _EDGE[10])][-1] is True and by_text[(0, _EDGE[11])][-1] is False
    # case and whitespace runs do not change the content hash
    assert len({by_text[(0, t)][2] for t in _EDGE[2:5]}) == 1


def test_rule_constants_live_only_in_the_core():
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "mapreducecore_spark"
    )
    core = os.path.join(root, "llm", "curation.py")
    for needle in ("/ 50.0", "[ \\t\\n\\r]+", "4294967296"):
        holders = []
        for dirpath, _, files in os.walk(root):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    with open(p, encoding="utf-8") as fh:
                        if needle in fh.read():
                            holders.append(p)
        assert holders == [core], (needle, holders)
