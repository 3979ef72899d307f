from __future__ import annotations

import collections
import glob
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mapreducecore_spark.functions.text import tokenize  # noqa: E402
from mapreducecore_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# The reference's own test inputs, when its checkout sits next to this one.
REF_INPUT_GLOB = os.path.join(
    os.path.dirname(REPO), "reference", "test", "input", "testdata_*.txt"
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mapreducecore-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def mr_corpus(tmp_path_factory) -> tuple[list[str], dict[str, int]]:
    """Text inputs for the MapReduce tests and their exact word counts.

    The reference's inputs when present, counted by the strtok oracle;
    otherwise a seeded ~0.4 MB three-file corpus (perfbench.corpus:
    delimiter runs, non-ASCII words, lines longer than a small split),
    whose generator supplies the counts."""
    ref = sorted(glob.glob(REF_INPUT_GLOB))
    if ref:
        counts: collections.Counter[str] = collections.Counter()
        for p in ref:
            with open(p, encoding="utf-8", errors="surrogateescape") as f:
                for line in f:
                    counts.update(tokenize(line.rstrip("\n")))
        return ref, dict(counts)
    from perfbench import corpus

    c = corpus.generate(str(tmp_path_factory.mktemp("mr_corpus")), seed=7, target_mb=0.3)
    return c.paths, c.word_counts


def _curation_documents():
    """120 docs over sources src1..src3 (the DSIR target is src1; each
    source has its own 40-word vocabulary plus a shared 20-word pool).
    Every 7th doc has 8 tokens and fails the quality gate (a doc passes
    at >= 15 tokens that are not stopwords); every 11th is stopword-
    heavy. Batch docs (doc_id % 10 == 0) include a case/whitespace
    variant of a corpus doc (20 of 21), a within-batch copy (40 of 30)
    and a one-token edit of a corpus doc (50 of 51)."""
    import random

    import pandas as pd

    rng = random.Random(2023)
    vocab = {
        s: [f"{stem}{k}" for k in range(40)]
        for s, stem in (("src1", "river"), ("src2", "stone"), ("src3", "cloud"))
    }
    shared = [f"word{k}" for k in range(20)]

    def words(src, n):
        return " ".join(
            rng.choice(shared if rng.random() < 0.25 else vocab[src]) for _ in range(n)
        )

    docs = {}
    for i in range(120):
        src = f"src{1 + i % 3}"
        text = words(src, 8 if i % 7 == 3 else 16 + (i * 5) % 30)
        if i % 11 == 5:
            text = " ".join(w + " the of" for w in text.split()[:12])
        docs[i] = (text, src)
    docs[20] = ("  " + docs[21][0].upper().replace(" ", " \t\n "), docs[21][1])
    docs[40] = docs[30]
    docs[50] = (" ".join(docs[51][0].split()[:-1] + ["stray"]), docs[51][1])
    df = pd.DataFrame(
        [(i, t, "en", s, len(t)) for i, (t, s) in sorted(docs.items())],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    return df.astype({"doc_id": "int64", "n_chars": "int64"})


@pytest.fixture(scope="session")
def curation_dir(sf_dir, tmp_path_factory) -> str:
    """A tmp sf_dir whose crafted documents table gives every curation
    composition a non-empty result (the generated test documents
    leave corpus_curation_pipeline_v2/_v3 empty); other tables are sf_dir's."""
    import shutil

    root = tmp_path_factory.mktemp("curation_sf")
    for name in "region nation customer supplier part orders lineitem events embeddings".split():
        shutil.copy(f"{sf_dir}/{name}.parquet", root / f"{name}.parquet")
    _curation_documents().to_parquet(root / "documents.parquet", index=False)
    return str(root)


def _lsh_star_documents() -> list[tuple[int, str]]:
    """(doc_id, text) rows on both sides of the LSH star guard
    (llm/minhash.py MAX_BUCKET = 200). Each cluster is byte-identical
    text, so its docs share one bucket in every band; the batch is
    doc_id % 10 == 0, as in the incremental queries.
    - 1000..1200: 201 docs, guarded; its rep 1000 is a batch doc.
    - 2000..2199: exactly 200 docs, not guarded; rep 2000 is a batch doc.
    - 3001..3223: 201 corpus docs (+22 batch), guarded also in an index
      built from the corpus docs alone (the streaming queries').
    - 4001..4222: exactly 200 corpus docs (+22 batch), guarded over all
      docs but not in a corpus-only index.
    - a near-dup pair across batch and corpus (5000, 5001) that shares
      a band, and a batch doc with fewer than 3 tokens (5010)."""

    def cluster(word: str, ids: range) -> list[tuple[int, str]]:
        return [(i, " ".join(f"{word}{k}" for k in range(8))) for i in ids]

    return (
        cluster("wide", range(1000, 1201))
        + cluster("edge", range(2000, 2200))
        + cluster("olds", range(3001, 3224))
        + cluster("oldf", range(4001, 4223))
        + [
            (5000, "near one two three four five six seven"),
            (5001, "near one two three four five six eight"),
            (5010, "too short"),
        ]
    )


@pytest.fixture(scope="session")
def lsh_docs() -> list[tuple[int, str]]:
    return _lsh_star_documents()
