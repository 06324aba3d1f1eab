"""Property-based tests (hypothesis) for the reference-fidelity JSON
encoder: every generated flat row must encode to parseable JSON that
round-trips the values under the documented reference semantics
(GenericRecordJsonEncoder.java:42-216)."""

import json
import math

import pyarrow as pa
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from arangodb_java_parquet_spark.functions.docjson import (
    _encode_scalar, _escape_string, _vec_column_strs)


def _encode_one(v, dt):
    """One value of Spark type ``dt`` through the recursive Arrow encoder
    (the encoder the reference mode runs on every batch)."""
    return _vec_column_strs(pa.array([v], to_arrow_type(dt)),
                            dt).to_pylist()[0]


# pure-python property tests for the per-value encoder (fast path for
# hypothesis: no Spark job per example)

text = st.text(max_size=50)


@given(text)
@settings(max_examples=200, deadline=None)
def test_escaped_strings_parse_as_json(s):
    encoded = '"%s"' % _escape_string(s)
    assert json.loads(encoded) == s


@given(st.binary(max_size=40))
@settings(max_examples=200, deadline=None)
def test_bytes_wrapper_roundtrips_iso88591(b):
    doc = json.loads(_encode_scalar(b, "bytes"))
    # {"bytes": "<ISO-8859-1>"} wrapper; decoding is byte-preserving
    assert doc["bytes"].encode("ISO-8859-1") == b


@given(st.floats(allow_nan=True, allow_infinity=True))
@settings(max_examples=200, deadline=None)
def test_float_encoding_reference_semantics(f):
    out = _encode_scalar(f, "float")
    if math.isnan(f):
        assert out == '"NaN"'
    elif math.isinf(f):
        assert out in ('"Infinity"', '"-Infinity"')
    else:
        assert json.loads(out) == f


@given(st.floats(allow_nan=True, allow_infinity=True, width=32))
@settings(max_examples=200, deadline=None)
def test_float32_encoding_roundtrips_to_same_float32(f):
    import numpy as np
    out = _encode_scalar(f, "float32")
    if math.isnan(f):
        assert out == '"NaN"'
    elif math.isinf(f):
        assert out in ('"Infinity"', '"-Infinity"')
    else:
        # shortest-for-float32 digits: parsing back as float32 is lossless
        assert np.float32(json.loads(out)) == np.float32(f)


def test_java_double_tostring_notation():
    """Known Java Double.toString outputs — the notation bands and digit
    layout of GenericRecordJsonEncoder's buffer.append(double) fallback."""
    from arangodb_java_parquet_spark.functions.docjson import (
        _java_double_str, _java_float32_str)
    cases = {1.0: "1.0", -1.5: "-1.5", 1e7: "1.0E7",
             9999999.0: "9999999.0", 1e10: "1.0E10", 0.001: "0.001",
             1e-4: "1.0E-4", 12345.678: "12345.678", 100.0: "100.0",
             2.5e-3: "0.0025", 6.02214076e23: "6.02214076E23",
             1.23e-300: "1.23E-300"}
    for v, expected in cases.items():
        assert _java_double_str(v) == expected, v
    assert _java_double_str(0.0) == "0.0"
    assert _java_double_str(-0.0) == "-0.0"
    # Float.toString: digits come from the 32-bit value, not the widened 64
    f32 = {1.1: "1.1", 3.4028235e38: "3.4028235E38", 100.5: "100.5",
           1.17549435e-38: "1.1754944E-38", 0.001: "0.001", 1e-4: "1.0E-4"}
    for v, expected in f32.items():
        assert _java_float32_str(v) == expected, v


@given(st.integers(min_value=-2**63, max_value=2**63 - 1))
@settings(max_examples=200, deadline=None)
def test_int_encoding(i):
    assert json.loads(_encode_one(i, T.LongType())) == i


@given(st.text(max_size=30))
@settings(max_examples=100, deadline=None)
def test_control_ranges_always_escaped(s):
    encoded = _escape_string(s)
    for ch in encoded:
        cp = ord(ch)
        # after escaping, no raw control chars or U+2000-U+20FF remain
        assert not (cp <= 0x1F or 0x7F <= cp <= 0x9F or 0x2000 <= cp <= 0x20FF)


def test_nested_struct_array_map_encoding():
    """Recursive fidelity semantics (GenericRecordJsonEncoder.java:54-108):
    schema-ordered structs, ", "-joined arrays, maps with keys serialized
    like values, bytes wrapper and NaN quoting at depth."""
    dt = T.StructType([
        T.StructField("name", T.StringType()),
        T.StructField("scores", T.ArrayType(T.DoubleType())),
        T.StructField("attrs", T.MapType(T.StringType(), T.LongType())),
        T.StructField("raw", T.BinaryType()),
        T.StructField("inner", T.StructType([
            T.StructField("x", T.LongType()),
            T.StructField("y", T.StringType())])),
    ])
    v = {"name": 'a"b', "scores": [1.5, None, float("nan")],
         "attrs": [("k1", 7), ("k2", None)], "raw": b"\x9f",
         "inner": {"x": None, "y": "z"}}
    out = _encode_one(v, dt)
    assert out == (
        '{"name": "a\\"b", "scores": [1.5, null, "NaN"], '
        '"attrs": {"k1": 7, "k2": null}, '
        '"raw": {"bytes": "\\u009F"}, '
        '"inner": {"x": null, "y": "z"}}')
    # null struct / null array / null map at depth
    assert _encode_one(None, dt) == "null"
    assert _encode_one({"name": None, "scores": None, "attrs": None,
                        "raw": None, "inner": None}, dt) == \
        ('{"name": null, "scores": null, "attrs": null, "raw": null, '
         '"inner": null}')


def test_spark_encode_nested_rows(spark):
    """Nested rows through the full mapInArrow path: parse as JSON, field
    order preserved at every level, NULL vs NaN distinguished inside
    arrays (the Arrow-validity-bitmap property pandas cannot give)."""
    from arangodb_java_parquet_spark.functions.docjson import (
        DOC_COL, encode_documents)
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("vec", T.ArrayType(T.DoubleType())),
        T.StructField("meta", T.StructType([
            T.StructField("lang", T.StringType()),
            T.StructField("score", T.DoubleType())])),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    ])
    rows = [
        (1, [0.5, None, float("nan")], ("en", 0.25), {"a": "b"}),
        (2, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema).coalesce(1).orderBy("id")
    docs = [r[0] for r in
            encode_documents(df, mode="reference").collect()]
    assert json.loads(docs[1]) == {"id": 2, "vec": None, "meta": None,
                                   "tags": None}
    d0 = docs[0] if '"id": 1' in docs[0] else docs[1]
    assert '"vec": [0.5, null, "NaN"]' in d0
    parsed = json.loads(d0.replace('"NaN"', "0"))
    assert list(parsed.keys()) == ["id", "vec", "meta", "tags"]
    assert list(parsed["meta"].keys()) == ["lang", "score"]
    assert parsed["tags"] == {"a": "b"}


def test_spark_encode_nested_across_arrow_batches(spark):
    """Nested rows through encode_documents(mode="reference") with three
    records per Arrow batch, so every task encodes several batches (and
    the last one short). Null structs, null/empty/NaN float arrays, empty
    and null maps, binary and U+2003 must encode exactly as the literal
    reference documents below."""
    from arangodb_java_parquet_spark.functions.docjson import (
        encode_documents)
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("meta", T.StructType([
            T.StructField("src", T.StringType()),
            T.StructField("rank", T.IntegerType())])),
        T.StructField("emb", T.ArrayType(T.FloatType())),
        T.StructField("tags", T.MapType(T.StringType(), T.LongType())),
        T.StructField("blob", T.BinaryType()),
        T.StructField("title", T.StringType()),
    ])
    nan = float("nan")
    rows = [
        (1, ("a", 1), [0.5, nan, -1.25], {"k": 1}, b"\x00\xff",
         "em\u2003space"),
        (2, None, None, None, None, None),
        (3, ("b", None), [], {}, b"", "plain"),
        (4, None, [None, 2.0], {"x": None}, b"\x7f", "tab\there"),
        (5, ("c\u2003", 5), [nan], None, None, "\u2003"),
        (6, ("d", 6), None, {}, b"\x9f\x20", ""),
        (7, None, [], {"y": 7, "z": 8}, None, 'q"uote'),
        (8, ("e", 8), [3.4028235e38, 1e-4], None, b"abc", None),
    ]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        df = spark.createDataFrame(rows, schema).repartition(2, "id")
        assert df.rdd.glom().map(len).collect() == [4, 4]
        docs = sorted(r[0] for r in
                      encode_documents(df, mode="reference").collect())
    finally:
        spark.conf.set(key, before)
    assert docs == [
        '{"id": 1, "meta": {"src": "a", "rank": 1}, '
        '"emb": [0.5, "NaN", -1.25], "tags": {"k": 1}, '
        '"blob": {"bytes": "\\u0000\xff"}, "title": "em\\u2003space"}',
        '{"id": 2, "meta": null, "emb": null, "tags": null, "blob": null, '
        '"title": null}',
        '{"id": 3, "meta": {"src": "b", "rank": null}, "emb": [], '
        '"tags": {}, "blob": {"bytes": ""}, "title": "plain"}',
        '{"id": 4, "meta": null, "emb": [null, 2.0], "tags": {"x": null}, '
        '"blob": {"bytes": "\\u007F"}, "title": "tab\\there"}',
        '{"id": 5, "meta": {"src": "c\\u2003", "rank": 5}, '
        '"emb": ["NaN"], "tags": null, "blob": null, "title": "\\u2003"}',
        '{"id": 6, "meta": {"src": "d", "rank": 6}, "emb": null, '
        '"tags": {}, "blob": {"bytes": "\\u009F "}, "title": ""}',
        '{"id": 7, "meta": null, "emb": [], "tags": {"y": 7, "z": 8}, '
        '"blob": null, "title": "q\\"uote"}',
        '{"id": 8, "meta": {"src": "e", "rank": 8}, '
        '"emb": [3.4028235E38, 1.0E-4], "tags": null, '
        '"blob": {"bytes": "abc"}, "title": null}',
    ]


def test_spark_encode_float32_column(spark):
    """FloatType columns format from the 32-bit shortest digits."""
    from arangodb_java_parquet_spark.functions.docjson import (
        encode_documents)
    schema = T.StructType([T.StructField("f", T.FloatType())])
    df = spark.createDataFrame([(1.1,), (None,)], schema).coalesce(1)
    docs = sorted(r[0] for r in
                  encode_documents(df, mode="reference").collect())
    assert '{"f": 1.1}' in docs
    assert '{"f": null}' in docs


def test_spark_encode_random_rows_parse(spark):
    """One Spark-side sweep: random-ish rows through the full mapInArrow
    path parse as JSON with reference field order."""
    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("i", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("b", T.BinaryType()),
    ])
    rows = [
        ("x y\x00z", 1, 1.25, b"\x00\xff"),
        ("", 0, float("nan"), b""),
        (None, None, None, None),
        ('"quoted"\\back', -2**62, -0.0, bytes(range(16))),
    ]
    from arangodb_java_parquet_spark.functions.docjson import encode_documents
    df = spark.createDataFrame(rows, schema).coalesce(1)
    docs = [r[0] for r in encode_documents(df, mode="reference").collect()]
    for d in docs:
        parsed = json.loads(d)
        assert list(parsed.keys()) == ["s", "i", "d", "b"]


def test_map_nonstring_keys_serialized_like_values():
    """Reference map dispatch serializes KEYS through the same recursive
    serializer as values (GenericRecordJsonEncoder.java:90-108: serialize(
    entry.getKey()) with no string-coercion) — so a long-keyed map emits
    unquoted numeric keys and a double-keyed map emits "NaN"-quoted keys,
    faithfully reproducing the reference's non-standard JSON. (Arrow and
    Spark both reject null map keys, so a null shows up as a value.)"""
    long_map = T.MapType(T.LongType(), T.StringType())
    assert _encode_one([(7, "a"), (8, None)], long_map) == \
        '{7: "a", 8: null}'
    dbl_map = T.MapType(T.DoubleType(), T.LongType())
    assert _encode_one([(float("nan"), 1), (2.5, None)], dbl_map) == \
        '{"NaN": 1, 2.5: null}'
    # struct-keyed map: keys recurse like any value
    skey = T.MapType(
        T.StructType([T.StructField("k", T.LongType())]), T.LongType())
    assert _encode_one([({"k": 3}, 9)], skey) == '{{"k": 3}: 9}'


def test_deeply_nested_bytes_and_nan():
    """bytes wrapper ({"bytes": "<ISO-8859-1>"}) and NaN/Infinity quoting
    must survive arbitrary nesting depth (the reference dispatches per
    element recursively: GenericRecordJsonEncoder.java:72-108,113-118,
    174-176), including inside map VALUES and map KEYS."""
    dt = T.ArrayType(T.MapType(
        T.StringType(),
        T.StructType([
            T.StructField("payload", T.BinaryType()),
            T.StructField("scores", T.ArrayType(T.DoubleType()))])))
    v = [[("a", {"payload": b"\x00\xff", "scores": [float("-inf"), 1.0]})],
         [("b", None)]]
    assert _encode_one(v, dt) == (
        '[{"a": {"payload": {"bytes": "\\u0000\u00ff"}, '
        '"scores": ["-Infinity", 1.0]}}, {"b": null}]')
    # binary as a map KEY gets the same wrapper treatment
    bkey = T.MapType(T.BinaryType(), T.LongType())
    assert _encode_one([(b"\x01", 5)], bkey) == \
        '{{"bytes": "\\u0001"}: 5}'


@given(st.recursive(
    st.one_of(st.none(), st.integers(min_value=-2**31, max_value=2**31),
              st.text(max_size=8), st.binary(max_size=6),
              st.floats(allow_nan=True, allow_infinity=True, width=32)),
    lambda leaf: st.lists(leaf, max_size=3), max_leaves=8))
@settings(max_examples=120, deadline=None)
def test_recursive_array_nesting_never_crashes(v):
    """Any depth of array nesting over any scalar leaf must encode without
    raising, and encode null-for-None at every level: byte for byte what a
    per-value recursive loop over the same value produces."""

    def dtype_for(x):
        if isinstance(x, list):
            inner = dtype_for(x[0]) if x else T.LongType()
            return T.ArrayType(inner)
        if isinstance(x, bool) or x is None:
            return T.LongType()
        if isinstance(x, int):
            return T.LongType()
        if isinstance(x, float):
            return T.FloatType()
        if isinstance(x, bytes):
            return T.BinaryType()
        return T.StringType()

    def conform(x, dt):
        """Only keep elements matching the sampled element dtype."""
        if x is None:
            return None
        if isinstance(dt, T.ArrayType):
            if not isinstance(x, list):
                return None
            return [conform(e, dt.elementType) for e in x]
        ok = {T.LongType: int, T.FloatType: float,
              T.BinaryType: bytes, T.StringType: str}[type(dt)]
        return x if isinstance(x, ok) and not isinstance(x, bool) else None

    def reference(x, dt):
        if x is None:
            return "null"
        if isinstance(dt, T.ArrayType):
            return "[%s]" % ", ".join(reference(e, dt.elementType)
                                      for e in x)
        if isinstance(dt, T.StringType):
            return '"%s"' % _escape_string(x)
        if isinstance(dt, T.LongType):
            return str(x)
        return _encode_scalar(
            x, "bytes" if isinstance(dt, T.BinaryType) else "float32")

    dt = dtype_for(v)
    x = conform(v, dt)
    out = _encode_one(x, dt)
    assert isinstance(out, str) and out
    assert out == reference(x, dt)


def test_converters_top_level_only_reference_parity(spark):
    """Reference parity (GenericRecordJsonEncoder.java:28-32 via
    ParquetArangoLoader.java:74-76): the converter registry is consulted
    for TOP-LEVEL fields only — a timestamp inside a struct or array is
    serialized raw even with a 'timestamp' converter registered. The
    nested=True generalization converts it; top-level behavior is
    identical in both modes."""
    import datetime
    import json

    from pyspark.sql import functions as F

    from arangodb_java_parquet_spark.functions.docjson import (
        apply_type_converters, encode_documents)

    ts = datetime.datetime(2024, 3, 1, 12, 30, 45)
    df = spark.createDataFrame(
        [(1, ts, (ts, "x"), [ts], {"k": ts}), (2, None, None, None, None)],
        "id long, top timestamp, "
        "st struct<inner:timestamp, tag:string>, "
        "arr array<timestamp>, mp map<string,timestamp>")
    conv = {"timestamp": lambda c: F.unix_timestamp(c)}

    flat = apply_type_converters(df, conv)  # default: top-level-only
    assert dict(flat.dtypes)["top"] == "bigint"
    assert dict(flat.dtypes)["st"] == "struct<inner:timestamp,tag:string>"
    assert dict(flat.dtypes)["arr"] == "array<timestamp>"

    deep = apply_type_converters(df, conv, nested=True)
    dts = dict(deep.dtypes)
    assert dts["top"] == "bigint"
    assert dts["st"] == "struct<inner:bigint,tag:string>"
    assert dts["arr"] == "array<bigint>"
    assert dts["mp"] == "map<string,bigint>"

    r1, r2 = deep.orderBy("id").collect()
    epoch = int(ts.replace(tzinfo=datetime.timezone.utc).timestamp())
    assert r1.top == r1.st.inner == r1.arr[0] == r1.mp["k"] == epoch
    assert r1.st.tag == "x"
    # null containers survive the rebuild as nulls, not structs-of-null
    assert r2.st is None and r2.arr is None and r2.mp is None

    # both modes agree on top-level conversion inside the encoder API
    doc_flat = json.loads(encode_documents(
        df.select("id", "top").filter("id = 1"), converters=conv)
        .collect()[0][0])
    doc_deep = json.loads(encode_documents(
        df.select("id", "top").filter("id = 1"), converters=conv,
        nested_converters=True).collect()[0][0])
    assert doc_flat == doc_deep == {"id": 1, "top": epoch}


def test_converters_exact_complex_match_beats_recursion(spark):
    """An exact simpleString match on a complex type takes precedence
    over recursing into it (lets a user convert a whole struct/array)."""
    from pyspark.sql import functions as F

    from arangodb_java_parquet_spark.functions.docjson import (
        apply_type_converters)

    df = spark.createDataFrame([([1, 2, 3],)], "xs array<bigint>")
    conv = {"array<bigint>": lambda c: F.size(c)}
    out = apply_type_converters(df, conv, nested=True)
    assert out.collect()[0].xs == 3


def test_vectorized_ns_timestamp_floor_division_matches_row_path():
    """pc.divide truncates toward zero; the vectorized ns->us path must
    FLOOR like python's `value // 1000` (epoch microseconds round down),
    or pre-epoch timestamps with sub-microsecond residue serialize one
    microsecond late."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from arangodb_java_parquet_spark.functions.docjson import (
        _vec_column_strs)

    ns_vals = [-1500, -1001, -1000, -999, -1, 0, 1, 999, 1000, 1500]
    arr = pa.array(ns_vals, pa.timestamp("ns"))
    out = _vec_column_strs(arr, T.TimestampType()).to_pylist()
    assert out == [str(v // 1000) for v in ns_vals]
