"""local_df (r14 optimization): the arrow-path local frame must be
value- and schema-identical to spark.createDataFrame, land as a
LocalRelation (no pickled-RDD re-evaluation per action), and fall back
to the legacy path whenever it cannot guarantee identity."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import types as T

from vector_knowledge_base_spark.sources.localframe import local_df


CASES = [
    ([(1, "a"), (2, None)], "doc_id long, tag string"),
    ([(None, "x")], "k int, va string"),
    ([(1, [1.0, 2.0]), (2, None)], "id int, v array<double>"),
    ([("a", ["x", "y"]), ("b", [])], "s string, t array<string>"),
    ([(b"ab", True), (None, None)], "b binary, ok boolean"),
    ([], "x long, y string"),
    ([(0, 0.123456), (1, -2.5)], "doc_id long, score double"),
    ([(datetime.date(2024, 1, 2), 1)], "d date, n int"),
]


@pytest.mark.parametrize("data,schema", CASES)
def test_value_and_schema_parity(spark, data, schema):
    legacy = spark.createDataFrame(data, schema)
    arrow = local_df(spark, data, schema)
    assert arrow.collect() == legacy.collect()
    assert [(f.name, f.dataType) for f in arrow.schema.fields] == [
        (f.name, f.dataType) for f in legacy.schema.fields
    ]


def test_lands_as_local_relation(spark):
    df = local_df(spark, [(1, "a")], "doc_id long, tag string")
    plan = df._jdf.queryExecution().optimizedPlan().getClass().getName()
    assert plan.endswith("LocalRelation")


def test_timestamp_falls_back_with_identical_values(spark):
    data = [("doc1", datetime.datetime(2024, 1, 1, 12, 0))]
    schema = "document_id string, upload_date timestamp"
    legacy = spark.createDataFrame(data, schema)
    routed = local_df(spark, data, schema)
    assert routed.collect() == legacy.collect()
    assert routed.schema == legacy.schema


def test_non_nullable_schema_falls_back(spark):
    st = T.StructType([T.StructField("x", T.LongType(), nullable=False)])
    df = local_df(spark, [(1,)], st)
    assert df.schema["x"].nullable is False
    assert df.collect() == spark.createDataFrame([(1,)], st).collect()


def test_bad_row_width_matches_legacy_error(spark):
    with pytest.raises(Exception):
        local_df(spark, [(1, "a", "extra")], "x long, y string").collect()


def test_type_mismatch_still_rejected(spark):
    # the legacy verifier rejects a float in a long column; the arrow
    # path must not silently truncate it either
    with pytest.raises(Exception):
        local_df(spark, [(1.5,)], "x long").collect()


def test_known_good_fixture_schemas_take_arrow_path_zero_fallbacks(spark):
    """r15 (VERDICT r14 item #8): ``local_df`` swallows every arrow-path
    exception by design, so a typo in the fast path would silently
    regress every call site to the pickled-RDD plan. Pin: the fixture
    schemas the engine actually uses land as LocalRelation with ZERO
    fallbacks recorded."""
    from vector_knowledge_base_spark.sources import localframe

    cases = [
        ([(1, "a", 0.5)], "doc_id long, text string, score double"),
        ([("m", 3)], "metric string, value long"),
        ([(0, [0.1, 0.2])], "query_id int, query_vec array<double>"),
        ([(1, 2.0)], "doc_id long, rrf_score double"),
        ([("s", 0, 7, 0.25)], "regime string, query_id long, doc_id long, score double"),
        ([(True, b"x", datetime.date(2024, 1, 2))], "ok boolean, blob binary, d date"),
        ([], "empty_col string"),
    ]
    before = localframe.FALLBACKS["count"]
    for rows, schema in cases:
        df = local_df(spark, rows, schema)
        plan = df._jdf.queryExecution().optimizedPlan().getClass().getName()
        assert plan.endswith("LocalRelation"), (schema, plan)
    assert localframe.FALLBACKS["count"] == before, localframe.FALLBACKS["last"]
    # and a deliberate fallback IS counted
    local_df(spark, [("doc1", datetime.datetime(2024, 1, 1))],
             "document_id string, upload_date timestamp")
    assert localframe.FALLBACKS["count"] == before + 1


def test_fallback_counter_exact_under_threads(spark):
    """local_df runs on worker threads too (the overlap pool): N
    fallbacks forced from a thread pool must count exactly N, with
    ``last`` holding one whole message."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from vector_knowledge_base_spark.sources import localframe

    n = 64
    schema = "document_id string, upload_date timestamp"
    row = [("doc1", datetime.datetime(2024, 1, 1))]
    before = localframe.FALLBACKS["count"]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads as often as possible
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            list(pool.map(lambda _: local_df(spark, row, schema), range(n)))
    finally:
        sys.setswitchinterval(interval)
    assert localframe.FALLBACKS["count"] == before + n
    assert localframe.FALLBACKS["last"].startswith("TypeError: ")
