"""Arrow-path local DataFrames (r14 optimization round, guide §4).

``spark.createDataFrame(list_of_tuples, schema)`` builds a PICKLED-RDD
plan (``LogicalRDD`` over ``sc.parallelize(rows, defaultParallelism)``):
every later action re-evaluates it through Python workers — measured
0.4–4.2 s per action at local[32] (worst with ``.coalesce(1)``, which
chains all 32 pickled slices through ONE worker round-trip sequence).
The pandas/pyarrow input path instead lands as a ``LocalRelation`` —
rows live in the JVM plan, actions cost ~10 ms, and executors never see
a Python worker for them. Engine code builds many small driver-side
frames (txlog fixture commits, serving parity result frames, audit
metric frames, broadcast query sides), so the difference multiplies
across every bench row and every facade verb.

``local_df(spark, rows, schema)`` routes list data through one
``pyarrow.Table`` (types derived from the DECLARED Spark schema, so
values are identical to what ``createDataFrame`` would produce) and
falls back to plain ``createDataFrame`` for anything it cannot prove
value-faithful (no schema, Row inputs, timestamp/decimal/map fields,
ragged rows). At 100 TB the same change matters for a different reason:
a broadcast query side or plan table born as a LocalRelation serializes
once from the JVM, instead of re-running a Python stage per action.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

# schema-string → (StructType, [pyarrow types]) — parsing DDL and
# mapping types costs a py4j round-trip; fixtures reuse a handful of
# schemas thousands of times across a bench/sweep run
_SCHEMA_CACHE: dict[str, tuple] = {}

# Fallback observability (r15, VERDICT r14 item #5/#8): the arrow path
# swallows every exception by design (the legacy verifier IS the
# fallback), which means a typo in the fast path silently forfeits the
# optimization on the affected site. This counter makes that visible:
# tests assert zero fallbacks over the known-good fixture schemas, so
# a regression to the pickled path fails loudly in CI instead of
# showing up as a mystery slowdown.
FALLBACKS: dict = {"count": 0, "last": None}
# local_df runs on the overlap pool's threads too; the read-modify-write
# of the counter and the paired "last" write must not interleave
_FALLBACKS_LOCK = threading.Lock()


def _arrow_fields(schema):
    """[(name, pyarrow type, value-checker)] for a StructType, or raise
    for fields the arrow path must not silently coerce (timestamps
    carry session-tz semantics on the legacy path; decimals/maps/
    structs differ in null/precision handling). The checkers mirror the
    legacy type verifier strictly — pyarrow would otherwise truncate a
    float into an int column that ``createDataFrame`` rejects."""
    import datetime

    import pyarrow as pa
    from pyspark.sql import types as T

    def _is_int(x):
        return isinstance(x, int) and not isinstance(x, bool)

    def _is_float(x):
        return isinstance(x, float)

    def _is_str(x):
        return isinstance(x, str)

    def _is_bool(x):
        return isinstance(x, bool)

    def _is_bytes(x):
        return isinstance(x, (bytes, bytearray))

    def _is_date(x):
        return isinstance(x, datetime.date) and not isinstance(
            x, datetime.datetime
        )

    def conv(dt):
        if isinstance(dt, T.LongType):
            return pa.int64(), _is_int
        if isinstance(dt, T.IntegerType):
            return pa.int32(), _is_int
        if isinstance(dt, T.ShortType):
            return pa.int16(), _is_int
        if isinstance(dt, T.ByteType):
            return pa.int8(), _is_int
        if isinstance(dt, T.DoubleType):
            return pa.float64(), _is_float
        if isinstance(dt, T.FloatType):
            return pa.float32(), _is_float
        if isinstance(dt, T.StringType):
            return pa.string(), _is_str
        if isinstance(dt, T.BooleanType):
            return pa.bool_(), _is_bool
        if isinstance(dt, T.BinaryType):
            return pa.binary(), _is_bytes
        if isinstance(dt, T.DateType):
            return pa.date32(), _is_date
        if isinstance(dt, T.ArrayType):
            inner_t, inner_chk = conv(dt.elementType)

            def chk(x, _c=inner_chk):
                return isinstance(x, (list, tuple)) and all(
                    v is None or _c(v) for v in x
                )

            return pa.list_(inner_t), chk
        raise TypeError(f"local_df: no arrow mapping for {dt}")

    return [(f.name, *conv(f.dataType)) for f in schema.fields]


def _parse_schema(spark: SparkSession, schema):
    from pyspark.sql import types as T

    if isinstance(schema, T.StructType):
        return schema
    if isinstance(schema, str):
        cached = _SCHEMA_CACHE.get(schema)
        if cached is not None:
            return cached
        st = T._parse_datatype_string(schema)
        if not isinstance(st, T.StructType):
            raise TypeError(f"local_df: schema {schema!r} is not a struct")
        _SCHEMA_CACHE[schema] = st
        return st
    raise TypeError(f"local_df: unsupported schema {type(schema)}")


def local_df(spark: SparkSession, data, schema=None) -> DataFrame:
    """Drop-in for ``spark.createDataFrame(data, schema)`` on local row
    lists with an explicit schema: same values, same schema, but the
    plan is a LocalRelation (Arrow path) instead of a pickled RDD.
    Falls back to ``createDataFrame`` whenever the arrow path cannot
    guarantee value identity."""
    try:
        return _arrow_local_df(spark, data, schema)
    except Exception as e:  # noqa: BLE001 — fall back to the legacy path
        with _FALLBACKS_LOCK:
            FALLBACKS["count"] += 1
            FALLBACKS["last"] = f"{type(e).__name__}: {str(e)[:200]}"
        if schema is None:
            return spark.createDataFrame(data)
        return spark.createDataFrame(data, schema)


def _arrow_local_df(spark: SparkSession, data, schema) -> DataFrame:
    import pyarrow as pa

    if schema is None:
        raise TypeError("local_df: schema required for the arrow path")
    st = _parse_schema(spark, schema)
    if any(not f.nullable for f in st.fields):
        # the arrow path lands every field nullable=true; a declared
        # non-nullable schema must keep its exact nullability
        raise TypeError("local_df: non-nullable fields need the legacy path")
    fields = _arrow_fields(st)
    rows = data if isinstance(data, (list, tuple)) else list(data)
    n_cols = len(fields)
    for r in rows:
        # Row is a tuple subclass; reject dict-like / scalar rows
        if not isinstance(r, (tuple, list)) or len(r) != n_cols:
            raise TypeError("local_df: rows must be width-matched tuples")
    cols = list(zip(*rows)) if rows else [[] for _ in fields]
    arrays = []
    for col, (_, typ, chk) in zip(cols, fields):
        vals = list(col)
        for v in vals:
            if v is not None and not chk(v):
                raise TypeError(
                    f"local_df: value {v!r} needs the legacy verifier"
                )
        arrays.append(pa.array(vals, type=typ))
    table = pa.Table.from_arrays(arrays, names=[n for n, _, _ in fields])
    df = spark.createDataFrame(table)
    got = [(f.name, f.dataType) for f in df.schema.fields]
    want = [(f.name, f.dataType) for f in st.fields]
    if got != want:
        raise TypeError(f"local_df: arrow schema drift {got} != {want}")
    return df
