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
