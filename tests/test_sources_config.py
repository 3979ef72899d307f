"""Tests for the config source (S6), the config-driven job (S1/S2 via
mapreduce.run) and the columnar file sources/sinks (S7)."""

from __future__ import annotations

from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

from mapreducecore_spark.catalog import load_tables
from mapreducecore_spark.config import JobSpec, SpecError, read_and_validate_spec
from mapreducecore_spark.functions.text import wordcount_mapper, wordcount_reducer
from mapreducecore_spark.mapreduce import register_tasks, run
from mapreducecore_spark.sources import (
    read_csv,
    read_json,
    write_csv,
    write_json,
)

REF_CONFIG_FORMAT = """\
n_workers=6
worker_ipaddr_ports=localhost:50051,localhost:50052,localhost:50053,localhost:50054,localhost:50055,localhost:50056
input_files={inputs}
output_dir={out}
n_output_files=8
map_kilobytes={kb}
user_id={user_id}
"""


def _write_config(path, inputs, out, kb=500, user_id="cs6210") -> str:
    path.write_text(
        REF_CONFIG_FORMAT.format(inputs=",".join(inputs), out=out, kb=kb, user_id=user_id)
    )
    return str(path)


def _read_parts(out_dir: Path) -> list[list[str]]:
    return [p.read_text(encoding="utf-8").splitlines() for p in sorted(out_dir.glob("part-*"))]


def test_parse_reference_config_format(tmp_path, mr_corpus):
    """Round-trips the reference's own config.ini shape
    (test/config.ini:1-7 / mapreduce_spec.h:30-83)."""
    inp = mr_corpus[0][:2]
    assert len(inp) == 2
    cfg = _write_config(tmp_path / "config.ini", inp, tmp_path / "output")
    spec = read_and_validate_spec(cfg)
    assert spec.input_files == inp
    assert spec.n_workers == 6
    assert len(spec.worker_ipaddr_ports) == 6
    assert spec.n_output_files == 8
    assert spec.map_kilobytes == 500
    assert spec.user_id == "cs6210"
    assert spec.master_url == "local[6]"


@pytest.mark.parametrize(
    "mutation,msg",
    [
        ({"n_workers": 0}, "n_workers"),
        ({"n_output_files": -1}, "n_output_files"),
        ({"map_kilobytes": 0}, "map_kilobytes"),
        ({"user_id": ""}, "user_id"),
        ({"input_files": []}, "input_files"),
        ({"worker_ipaddr_ports": ["only:1"]}, "worker address count"),
        ({"input_files": ["/does/not/exist.txt"]}, "does not exist"),
        ({"input_files": [str(Path(__file__).parent)]}, "is a directory"),
        ({"input_files": ["/data/part-0.txt.gz"]}, "compressed: /data/part-0.txt.gz"),
    ],
)
def test_spec_validation_rejects(mutation, msg, mr_corpus):
    """Mirrors validate_mr_spec's rejection set (mapreduce_spec.h:87-157)."""
    from mapreducecore_spark.config import validate_spec

    inp = mr_corpus[0][:1]
    base = dict(
        n_workers=2,
        worker_ipaddr_ports=["a:1", "b:2"],
        input_files=inp,
        output_dir="/tmp/out",
        n_output_files=4,
        map_kilobytes=100,
        user_id="u",
    )
    base.update(mutation)
    with pytest.raises(SpecError, match=msg):
        validate_spec(JobSpec(**base))


def test_text_scan_split_invariance(spark, mr_corpus, tmp_path):
    """Every line consumed exactly once regardless of split size —
    the file_shard.h newline-alignment contract (SURVEY §5 item 3):
    run() writes the same files at every map_kilobytes, including a
    split smaller than the longest line."""
    paths, oracle = mr_corpus
    assert oracle, "empty input proves nothing"
    longest = max(len(line) for p in paths for line in Path(p).read_bytes().splitlines())
    kbs = (4, 64, 8 * 1024)
    assert kbs[0] * 1024 < longest, "no line straddles the smallest split"
    register_tasks("split_wordcount", wordcount_mapper, wordcount_reducer)
    outputs = []
    for kb in kbs:
        out = tmp_path / f"out_{kb}"
        run(spark, _write_config(tmp_path / f"c{kb}.ini", paths, out, kb, "split_wordcount"))
        outputs.append(_read_parts(out))
    assert outputs[0] == outputs[1] == outputs[2]
    got = dict(ln.split(" ", 1) for part in outputs[0] for ln in part)
    assert {k: int(v) for k, v in got.items()} == oracle


def test_run_leaves_session_conf_unchanged(spark, mr_corpus, tmp_path):
    """run() sets the shard size for its job only: the session conf is
    identical afterwards, also when the job raises."""

    def failing_mapper(line):
        raise RuntimeError("mapper failed")

    register_tasks("conf_ok", wordcount_mapper, wordcount_reducer)
    register_tasks("conf_fail", failing_mapper, wordcount_reducer)
    paths = mr_corpus[0][:1]
    before = spark.conf.getAll
    run(spark, _write_config(tmp_path / "ok.ini", paths, tmp_path / "ok", 64, "conf_ok"))
    assert spark.conf.getAll == before
    with pytest.raises(Py4JJavaError):
        run(spark, _write_config(tmp_path / "no.ini", paths, tmp_path / "no", 64, "conf_fail"))
    assert spark.conf.getAll == before


def test_csv_json_roundtrip(spark, sf_dir, tmp_path):
    """S7: columnar tables survive CSV and JSON round-trips with
    explicit schemas (no inference scans)."""
    nation = load_tables(spark, sf_dir)["nation"]
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"

    csv_path = str(tmp_path / "nation_csv")
    write_csv(nation, csv_path)
    back_csv = read_csv(spark, csv_path, schema)
    assert sorted(map(tuple, back_csv.collect())) == sorted(map(tuple, nation.collect()))

    json_path = str(tmp_path / "nation_json")
    write_json(nation, json_path)
    back_json = read_json(spark, json_path, schema)
    assert sorted(map(tuple, back_json.select("n_nationkey", "n_name", "n_regionkey").collect())) == sorted(
        map(tuple, nation.collect())
    )


def test_write_parquet_observed_metrics_ride_the_write(spark, tmp_path):
    from mapreducecore_spark.sources.io import write_parquet_observed

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c")], "k INT, v STRING"
    )
    out = str(tmp_path / "obs")
    m = write_parquet_observed(df, out)
    assert m == {"n_rows": 3, "n_null_first_col": 1}
    assert spark.read.parquet(out).count() == 3


def test_cli_job_runs_reference_config(spark, tmp_path, capsys, mr_corpus):
    """python -m mapreducecore_spark <config>: the reference demo's
    entry shape (test/main.cc) — INI spec in, key-sorted partition
    files out."""
    from mapreducecore_spark.__main__ import run_cli_job

    out = tmp_path / "cli_output"
    cfg = _write_config(tmp_path / "config.ini", mr_corpus[0][:2], out)
    assert run_cli_job(spark, cfg) == 0
    assert "wrote" in capsys.readouterr().out
    files = sorted(p for p in out.iterdir() if p.name.startswith("part-"))
    assert len(files) == 8
    # Each partition file is key-sorted "key value" lines.
    total = 0
    for p in files:
        keys = [ln.split(" ")[0] for ln in p.read_text().splitlines()]
        assert keys == sorted(keys)
        total += len(keys)
    assert total > 0


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    """S7 extension: ORC write/read round-trip preserves rows and schema
    (the other columnar format Spark ships a native source for)."""
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = str(tmp_path / "nation_orc")
    src.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
