"""Relational queries whose oracles return no rows on the generated
test data (`join_left_anti` at every scale, `set_except` at sf0.01),
compared on a crafted customer/supplier/orders set where they return
rows: one customer has no orders, and one customer nation has no
supplier. The other tables are symlinked from the test scale's."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from mapreducecore_spark.queries import REGISTRY, _load_all

_load_all()

_NO_ORDERS_CUSTKEY = 1  # this customer's orders are dropped
_NO_SUPPLIER_NATION = 0  # one customer lives here; no supplier does


@pytest.fixture(scope="module")
def relational_dir(tmp_path_factory, sf_dir) -> str:
    d = str(tmp_path_factory.mktemp("relational_sf"))
    for name in "region nation part lineitem events documents embeddings".split():
        os.symlink(os.path.join(sf_dir, f"{name}.parquet"), os.path.join(d, f"{name}.parquet"))

    def with_nations(tbl, col, nations):
        i = tbl.schema.get_field_index(col)
        return tbl.set_column(i, col, pa.array(nations, pa.int32()))

    # Suppliers live in nations 1..24; every customer lives in a
    # supplier nation, except the last one.
    supplier = pq.read_table(os.path.join(sf_dir, "supplier.parquet"))
    supp_nations = [1 + i % 24 for i in range(supplier.num_rows)]
    supplier = with_nations(supplier, "s_nationkey", supp_nations)
    customer = pq.read_table(os.path.join(sf_dir, "customer.parquet"))
    nations = [supp_nations[i % len(supp_nations)] for i in range(customer.num_rows)]
    nations[-1] = _NO_SUPPLIER_NATION
    customer = with_nations(customer, "c_nationkey", nations)
    orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
    orders = orders.filter(pc.not_equal(orders["o_custkey"], _NO_ORDERS_CUSTKEY))
    for name, tbl in (("supplier", supplier), ("customer", customer), ("orders", orders)):
        pq.write_table(tbl, os.path.join(d, f"{name}.parquet"))
    return d


@pytest.mark.parametrize(
    "name, expect",
    [
        ("join_left_anti", {"c_custkey": _NO_ORDERS_CUSTKEY}),
        ("set_except", {"nationkey": _NO_SUPPLIER_NATION}),
    ],
)
def test_crafted_relational_parity(name, expect, spark, relational_dir):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, relational_dir)
    con = duckdb.connect()
    try:
        for t in ("customer", "supplier", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{relational_dir}/{t}.parquet'")
        rel = con.sql(spec.oracle)
        cols, duck_rows = rel.columns, rel.fetchall()
    finally:
        con.close()
    assert sorted(sdf.columns) == sorted(cols)
    (col, value), = expect.items()
    assert [r[cols.index(col)] for r in duck_rows] == [value], name
    spark_rows = [tuple(r[c] for c in cols) for r in sdf.collect()]
    assert sorted(spark_rows) == sorted(duck_rows), name
