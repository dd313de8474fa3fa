"""Declared schemas of the fixture tables (TESTDATA.md layouts).

A ``spark.read.parquet`` without a schema starts a Spark job to read
the footers at plan-build time; these layouts are fixed, so every
fixture reader passes its schema and builds without one.  Timestamps
are ``timestamp_ntz``: the files store wall-clock timestamps
(``isAdjustedToUTC = false``), which is what Spark infers from them.
``tests/test_fixture_schemas.py`` checks each constant against the
inferred schema of the files.
"""

from __future__ import annotations

REGION = "r_regionkey int, r_name string"
NATION = "n_nationkey int, n_name string, n_regionkey int"
CUSTOMER = ("c_custkey bigint, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string")
SUPPLIER = ("s_suppkey bigint, s_name string, s_nationkey int, "
            "s_acctbal double")
PART = ("p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double")
ORDERS = ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
          "o_totalprice double, o_orderdate timestamp_ntz, "
          "o_orderpriority string")
LINEITEM = ("l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp_ntz")
EVENTS = ("event_id bigint, ts timestamp_ntz, user_id bigint, "
          "event_type string, value double, props string")
DOCUMENTS = ("doc_id bigint, text string, lang string, source string, "
             "n_chars bigint")
EMBEDDINGS = "vec_id bigint, embedding array<float>, label int"

SCHEMAS = {
    "region": REGION, "nation": NATION, "customer": CUSTOMER,
    "supplier": SUPPLIER, "part": PART, "orders": ORDERS,
    "lineitem": LINEITEM, "events": EVENTS, "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
