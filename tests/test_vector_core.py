"""The vector core (llm/similarity.py) gives bit-identical doubles on
Spark and DuckDB: inner product, cosine, rounded squared L2 and the
Lloyd centroid mean, over the sf0.001 embeddings plus a zero vector
(cosine NULL on both engines) and a one-member cluster (its mean is
the member itself)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreducecore_spark.catalog import load_tables
from mapreducecore_spark.llm.similarity import (
    COS_DUCK,
    COS_SPARK,
    IP_DUCK,
    IP_SPARK,
    VECTORS_DUCK,
    centroid_means,
    centroid_means_duck,
    l2sq,
    vectors,
)

_ZERO = -1  # vec_id of the crafted all-zero vector
_REFS = (0, 1, _ZERO)  # each vector is scored against these
_SINGLETON = 99  # cluster holding only vec_id 0
_CLUSTER = f"CASE WHEN vec_id = 0 THEN {_SINGLETON} ELSE abs(vec_id) % 5 END"


def _spark_vecs(spark, sf_dir):
    zero = spark.createDataFrame([(_ZERO, [0.0] * 64)], "vec_id bigint, emb array<double>")
    return vectors(load_tables(spark, sf_dir)["embeddings"]).unionByName(zero)


_DUCK_VECS = f"""vecs AS (
      {VECTORS_DUCK}
      UNION ALL SELECT {_ZERO}, list_transform(range(64), i -> CAST(0 AS DOUBLE))
    )"""


def test_pairwise_math_is_bit_identical(spark, sf_dir, duck):
    v = _spark_vecs(spark, sf_dir)
    refs = v.filter(F.col("vec_id").isin(*_REFS)).selectExpr("vec_id AS ref", "emb AS r_emb")
    got = v.crossJoin(refs).selectExpr(
        "vec_id",
        "ref",
        f"{IP_SPARK.format(a='emb', b='r_emb')} AS ip",
        f"{COS_SPARK.format(a='emb', b='r_emb')} AS cos",
        f"{l2sq(IP_SPARK, 'emb', 'r_emb')} AS d2",
    )
    spark_rows = {(r.vec_id, r.ref): (r.ip, r.cos, r.d2) for r in got.collect()}
    duck_rows = {
        (a, b): (ip, cos, d2)
        for a, b, ip, cos, d2 in duck.sql(
            f"""
            WITH {_DUCK_VECS}
            SELECT v.vec_id, r.vec_id,
                   {IP_DUCK.format(a="v.emb", b="r.emb")},
                   {COS_DUCK.format(a="v.emb", b="r.emb")},
                   {l2sq(IP_DUCK, "v.emb", "r.emb")}
            FROM vecs v CROSS JOIN vecs r
            WHERE r.vec_id IN {_REFS}
            """
        ).fetchall()
    }
    assert len(spark_rows) == 3 * 501
    assert spark_rows.keys() == duck_rows.keys()
    for key, (ip, cos, d2) in spark_rows.items():
        d_ip, d_cos, d_d2 = duck_rows[key]
        assert (ip.hex(), d2.hex()) == (d_ip.hex(), d_d2.hex()), key
        if _ZERO in key:
            assert cos is None and d_cos is None, key
        else:
            assert cos.hex() == d_cos.hex(), key


def test_centroid_mean_is_bit_identical(spark, sf_dir, duck):
    v = _spark_vecs(spark, sf_dir)
    members = v.withColumn("cluster", F.expr(_CLUSTER))
    spark_means = {
        r.cluster: r.c_emb for r in centroid_means(members, ["cluster"], "emb").collect()
    }
    members_duck = f"(SELECT {_CLUSTER} AS cluster, emb FROM vecs)"
    duck_means = dict(
        duck.sql(
            f"WITH {_DUCK_VECS} {centroid_means_duck(members_duck, ['cluster'], 'emb')}"
        ).fetchall()
    )
    assert sorted(spark_means) == sorted(duck_means) == [0, 1, 2, 3, 4, _SINGLETON]
    for c, mean in spark_means.items():
        assert [x.hex() for x in mean] == [x.hex() for x in duck_means[c]], c
    vec0 = v.filter("vec_id = 0").first().emb
    assert spark_means[_SINGLETON] == vec0
