"""Row -> JSON document encoding, the Spark re-expression of the reference's
``GenericRecordJsonEncoder`` (GenericRecordJsonEncoder.java:42-216).

Two modes (SURVEY.md §1.3, §7 "hard parts"):

* ``mode="spark"`` (default, fast path): ``to_json(struct("*"))`` — a JVM-side
  whole-stage-codegen expression; field order follows the schema, nested
  struct/array/map supported natively. Documented divergences from the
  reference encoder: binary columns are base64 (not the ``{"bytes": ...}``
  ISO-8859-1 wrapper), NaN/Infinity doubles are emitted as to_json emits them
  (JSON has no NaN), timestamps/dates are ISO strings (the reference emits raw
  epoch numbers unless a converter is registered).

* ``mode="reference"`` (fidelity path): an Arrow-batched ``mapInArrow``
  transform that reproduces the reference encoder's output for FULL nested
  schemas (struct / array / map, recursively — the reference serializer's
  isRecord/isArray/isMap dispatch at GenericRecordJsonEncoder.java:54-108).
  One recursive Arrow encoder serves flat and nested rows alike: a row is
  encoded as a struct of its columns.
    - output field order = schema field order, ``"name": value`` pairs joined
      with ``", "`` (GenericRecordJsonEncoder.java:60-71)
    - arrays as ``[e1, e2]`` (GenericRecordJsonEncoder.java:73-89)
    - maps as ``{key: value, ...}`` with keys serialized exactly like values
      (GenericRecordJsonEncoder.java:90-108) — string keys are quoted+escaped;
      a non-string-keyed Spark map is emitted with raw keys, faithfully
      reproducing the reference's fallback (which never quotes non-strings).
      Entry order is the data's own entry order (the reference iterates a
      HashMap, whose order is unspecified — any order is reference-valid).
    - bytes -> ``{"bytes": "<ISO-8859-1-decoded, escaped>"}`` wrapper at any
      nesting depth (GenericRecordJsonEncoder.java:113-117,174-176)
    - NaN / ±Infinity quoted as JSON strings ("NaN", "Infinity",
      "-Infinity") (GenericRecordJsonEncoder.java:118-124)
    - string escaping of ", \\, \\b \\f \\n \\r \\t plus \\uXXXX
      (uppercase hex) for U+0000–U+001F, U+007F–U+009F and U+2000–U+20FF
      (GenericRecordJsonEncoder.java:178-216)
    - finite float/double formatting follows Java's
      ``Double.toString``/``Float.toString`` rules (the reference's
      ``buffer.append(datum)`` fall-through at
      GenericRecordJsonEncoder.java:136): decimal notation for
      1e-3 <= |v| < 1e7, otherwise computerized scientific notation
      (``1.0E10``), shortest round-trip digits, float32 formatted from its
      own 32-bit shortest representation (``1.1``, not
      ``1.100000023841858``). Digit selection is Python/NumPy shortest
      round-trip — byte-identical to Java's output except for pathological
      values where distinct shortest representations exist (e.g. extreme
      subnormals) or where Java's pre-19 legacy formatter carries extra
      digits; values are always numerically round-trip-equal.
    - unconverted timestamp/date columns emit raw epoch numbers, matching the
      reference's fall-through for unregistered logical types
      (GenericRecordJsonEncoder.java:133-137): timestamps as epoch
      microseconds, dates as days since epoch.
    - circular references (GenericRecordJsonEncoder.java:55-58) cannot occur
      in Spark data — the guard has no Spark analog.

The fidelity path runs in a Python worker (opt-in); the default path stays
entirely JVM-side. Inside the worker, Arrow C++ kernels encode whole
columns and Python formats only the exceptional values (escaped strings,
out-of-band or non-finite floats, binary). Null-vs-NaN exactness: the
fidelity path reads Arrow validity bitmaps at every depth, so SQL NULL ->
``null`` and NaN -> ``"NaN"`` with no pandas conflation.
"""

from __future__ import annotations

import math
from decimal import Decimal
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOC_COL = "__doc__"

# ---------------------------------------------------------------------------
# fast path: to_json
# ---------------------------------------------------------------------------


def encode_documents(df: DataFrame, mode: str = "spark",
                     converters: dict | None = None,
                     nested_converters: bool = False) -> DataFrame:
    """Return a single-column (``__doc__`` string) DataFrame of JSON documents.

    ``converters`` maps a Spark DataType *simpleString* (e.g. ``"timestamp"``,
    ``"date"``, ``"binary"``, ``"decimal(18,2)"``) to a ``Column -> Column``
    function applied to every top-level field of that type before encoding —
    the Spark analog of the reference's per-LogicalType converter registry
    (ParquetArangoLoader.java:34,74-76; applied top-level-only by default,
    matching GenericRecordJsonEncoder.java:28-32).
    ``nested_converters=True`` recurses into struct/array/map instead — see
    apply_type_converters for the fidelity-vs-generalization contract.
    """
    if converters:
        df = apply_type_converters(df, converters, nested=nested_converters)
    if mode == "spark":
        return df.select(F.to_json(F.struct(*df.columns)).alias(DOC_COL))
    if mode == "reference":
        return _encode_reference_fidelity(df)
    raise ValueError(f"unknown encode mode: {mode!r}")


def apply_type_converters(df: DataFrame, converters: dict,
                          nested: bool = False) -> DataFrame:
    """Apply ``{type_simple_string: Column->Column}`` to matching fields.

    Default ``nested=False`` is TOP-LEVEL-ONLY on purpose: the reference
    consults its logical-type converter registry per top-level Avro field
    only (GenericRecordJsonEncoder.java:28-32 via
    ParquetArangoLoader.java:74-76), so a timestamp buried inside a
    struct/array/map is serialized RAW even when a timestamp converter is
    registered — exact parity, property-pinned in
    tests/test_encoder_properties.py.

    ``nested=True`` is the generalization a Spark user actually wants at
    scale: the converter recurses through struct fields, array elements
    and map values (matching on each nested type's simpleString; an
    exact match on a complex type's own simpleString takes precedence
    over recursion). Null structs/arrays/maps stay null."""
    if not nested:
        cols: list[Column] = []
        for field in df.schema.fields:
            fn = converters.get(field.dataType.simpleString())
            col = F.col(field.name)
            cols.append(fn(col).alias(field.name) if fn else col)
        return df.select(*cols)
    return df.select(*[
        _convert_nested(F.col(f.name), f.dataType, converters)
        .alias(f.name) for f in df.schema.fields])


def _convert_nested(col: Column, dtype, converters: dict) -> Column:
    """Recursive converter application (the ``nested=True`` mode)."""
    from pyspark.sql import types as T
    fn = converters.get(dtype.simpleString())
    if fn is not None:
        return fn(col)
    if isinstance(dtype, T.StructType):
        rebuilt = F.struct(*[
            _convert_nested(col.getField(f.name), f.dataType, converters)
            .alias(f.name) for f in dtype.fields])
        return F.when(col.isNotNull(), rebuilt)
    if isinstance(dtype, T.ArrayType):
        return F.transform(
            col, lambda x: _convert_nested(x, dtype.elementType, converters))
    if isinstance(dtype, T.MapType):
        return F.when(col.isNotNull(), F.map_from_arrays(
            F.map_keys(col),
            F.transform(F.map_values(col),
                        lambda v: _convert_nested(v, dtype.valueType,
                                                  converters))))
    return col


# ---------------------------------------------------------------------------
# fidelity path: exact reference-encoder semantics
# ---------------------------------------------------------------------------

_ESCAPES = {'"': '\\"', "\\": "\\\\", "\b": "\\b", "\f": "\\f",
            "\n": "\\n", "\r": "\\r", "\t": "\\t"}


def _escape_string(s: str) -> str:
    """Reference string escaping (GenericRecordJsonEncoder.java:178-216):
    named escapes plus uppercase \\uXXXX for the three control ranges."""
    out = []
    for ch in s:
        esc = _ESCAPES.get(ch)
        if esc is not None:
            out.append(esc)
            continue
        cp = ord(ch)
        if cp <= 0x1F or 0x7F <= cp <= 0x9F or 0x2000 <= cp <= 0x20FF:
            out.append("\\u%04X" % cp)
        else:
            out.append(ch)
    return "".join(out)


def _java_number_str(shortest: str, negative: bool) -> str:
    """Format shortest-round-trip decimal digits the way Java's
    ``Double.toString`` does (the spec both legacy and Ryū implement):
    plain decimal for 1e-3 <= v < 1e7, else ``D.DDDEk`` scientific with a
    bare integer exponent; at least one digit on each side of the point."""
    d = Decimal(shortest)
    tup = d.as_tuple()
    k = (len(tup.digits) - 1) + tup.exponent  # value = d_0.d_1d_2... * 10^k
    digits = "".join(map(str, tup.digits)).rstrip("0") or "0"
    sign = "-" if negative else ""
    if -3 <= k <= 6:  # exactly the 1e-3 <= v < 1e7 band for nonzero v
        if k >= 0:
            ip = digits[:k + 1].ljust(k + 1, "0")
            fp = digits[k + 1:] or "0"
            return f"{sign}{ip}.{fp}"
        return sign + "0." + "0" * (-k - 1) + digits
    frac = digits[1:] or "0"
    return f"{sign}{digits[0]}.{frac}E{k}"


def _java_double_str(f: float) -> str:
    if f == 0.0:
        return "-0.0" if math.copysign(1.0, f) < 0 else "0.0"
    return _java_number_str(repr(abs(f)), f < 0)


def _java_float32_str(f: float) -> str:
    """Java ``Float.toString``: digits are the shortest round-trip for the
    32-bit value (numpy's dragon4 shortest), same notation bands."""
    import numpy as np
    v = np.float32(f)
    if v == np.float32(0.0):
        return "-0.0" if math.copysign(1.0, float(v)) < 0 else "0.0"
    return _java_number_str(
        np.format_float_positional(abs(v), unique=True, trim="-")
        if 1e-3 <= abs(float(v)) < 1e7 else
        np.format_float_scientific(abs(v), unique=True, trim="-"),
        float(v) < 0)


def _encode_scalar(v, kind: str) -> str:
    """Per-value formatter for what the Arrow kernels leave to Python:
    binary values and floats outside Java's plain-decimal band."""
    if v is None:
        return "null"
    if kind == "bytes":
        # {"bytes": "<ISO-8859-1-decoded>"} wrapper
        # (GenericRecordJsonEncoder.java:113-117,174-176)
        return '{"bytes": "%s"}' % _escape_string(bytes(v).decode("ISO-8859-1"))
    f = float(v)
    if math.isnan(f):
        return '"NaN"'  # quoted (GenericRecordJsonEncoder.java:118-124)
    if math.isinf(f):
        return '"Infinity"' if f > 0 else '"-Infinity"'
    return _java_float32_str(f) if kind == "float32" else _java_double_str(f)


def _kind_of(dt: T.DataType) -> str:
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.FloatType):
        return "float32"
    if isinstance(dt, T.DoubleType):
        return "float"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    raise TypeError(
        f"reference-fidelity encoder: unsupported scalar type {dt} "
        "(register a type converter to pre-map it, or use mode='spark')")


# Characters whose presence forces the python escape fallback for a string
# value: the named escapes plus the three \uXXXX control ranges
# (GenericRecordJsonEncoder.java:178-216).
# Built from chr() so the class reads as codepoints (RE2 has no
# \uXXXX; literal characters inside a class are fine).
_NEEDS_ESCAPE_RE = ('["\\\\'
                    + chr(0x00) + "-" + chr(0x1F)
                    + chr(0x7F) + "-" + chr(0x9F)
                    + chr(0x2000) + "-" + chr(0x20FF) + "]")


_TS_TO_MICROS = {"s": 1_000_000, "ms": 1_000, "us": 1}


def _patch(out, mask, replacements):
    """replace_with_mask with a plain-bool mask and python replacements."""
    import pyarrow as pa
    import pyarrow.compute as pc
    return pc.replace_with_mask(out, mask,
                                pa.array(replacements, pa.string()))


def _join_lists(arr, items, open_: str, close: str):
    """``<open_>item, item<close>`` per row of list array ``arr``, given
    the encoded strings of its flattened ``items``. The rebuilt list keeps
    ``arr``'s null mask, or a null list would join to an empty one."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    lengths = pc.fill_null(pc.list_value_length(arr), 0).to_numpy()
    offsets = pa.array(np.concatenate([[0], np.cumsum(lengths)]), pa.int32())
    lists = pa.ListArray.from_arrays(offsets, items, mask=pc.is_null(arr))
    return pc.fill_null(pc.binary_join_element_wise(
        pa.scalar(open_), pc.binary_join(lists, ", "), pa.scalar(close),
        pa.scalar("")), "null")


def _vec_column_strs(arr, dtype):
    """Serialized strings for one Arrow array of Spark type ``dtype``, no
    nulls in the output (SQL NULL -> the 4-char string ``null``).

    Recursive over struct / array / map (the reference serializer's
    isRecord/isArray/isMap dispatch, GenericRecordJsonEncoder.java:53-108):
    a container encodes its children as whole arrays, then joins their
    strings with Arrow string kernels. A row is a struct of its columns.

    Scalars: the overwhelmingly common cases run as Arrow C++ kernels
    (integer casts, bool if_else, quote-wrapping for strings with no
    escapable characters, numpy shortest-repr for floats inside Java's
    plain-decimal band); only the EXCEPTIONAL values — strings containing
    escapes, non-finite or out-of-band floats, binary — drop to the
    per-value python formatter, patched back in with ``replace_with_mask``.
    Python therefore touches O(exceptional) values, not O(rows), at any
    nesting depth."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(dtype, T.StructType):
        # field order = schema order (GenericRecordJsonEncoder.java:60-71)
        pieces = [pa.scalar("{")]
        for i, f in enumerate(dtype.fields):
            sep = '"%s": ' if i == 0 else ', "%s": '
            pieces += [pa.scalar(sep % _escape_string(f.name)),
                       _vec_column_strs(arr.field(i), f.dataType)]
        docs = pc.binary_join_element_wise(*pieces, pa.scalar("}"),
                                           pa.scalar(""))
        return pc.if_else(pc.is_null(arr), pa.scalar("null"), docs)
    if isinstance(dtype, T.ArrayType):
        items = _vec_column_strs(arr.flatten(), dtype.elementType)
        return _join_lists(arr, items, "[", "]")
    if isinstance(dtype, T.MapType):
        # keys serialized like values (GenericRecordJsonEncoder.java:100-103);
        # list_flatten has no map kernel, so flatten the entries through a
        # list<struct<key, value>> view of the same buffers
        t = arr.type
        arr = arr.view(pa.list_(pa.struct([t.key_field, t.item_field])))
        entries = arr.flatten()
        items = pc.binary_join_element_wise(
            _vec_column_strs(entries.field(0), dtype.keyType),
            _vec_column_strs(entries.field(1), dtype.valueType), ": ")
        return _join_lists(arr, items, "{", "}")

    kind = _kind_of(dtype)
    if kind == "int":
        return pc.fill_null(pc.cast(arr, pa.string()), "null")
    if kind == "bool":
        return pc.fill_null(
            pc.if_else(arr, pa.scalar("true"), pa.scalar("false")), "null")
    if kind == "date":
        return pc.fill_null(
            pc.cast(pc.cast(arr, pa.int32()), pa.string()), "null")
    if kind == "timestamp":
        unit = arr.type.unit
        ints = pc.cast(arr, pa.int64(), safe=False)
        if unit == "ns":
            # FLOOR division to epoch microseconds: pc.divide truncates
            # toward zero, which would round pre-epoch timestamps with
            # sub-microsecond residue the other way.
            thousand = pa.scalar(1000, pa.int64())
            q = pc.divide(ints, thousand)
            r = pc.subtract(ints, pc.multiply(q, thousand))
            ints = pc.if_else(pc.less(r, pa.scalar(0, pa.int64())),
                              pc.subtract(q, pa.scalar(1, pa.int64())), q)
        else:
            ints = pc.multiply(ints, pa.scalar(_TS_TO_MICROS[unit],
                                               pa.int64()))
        return pc.fill_null(pc.cast(ints, pa.string()), "null")
    if kind == "string":
        quoted = pc.binary_join_element_wise(
            pa.scalar('"'), arr, pa.scalar('"'), pa.scalar(""))
        out = pc.fill_null(quoted, "null")
        esc = pc.fill_null(
            pc.match_substring_regex(arr, _NEEDS_ESCAPE_RE), False)
        if pc.any(esc).as_py():
            idx = np.nonzero(esc.to_numpy(zero_copy_only=False))[0]
            reps = ['"%s"' % _escape_string(s)
                    for s in arr.take(pa.array(idx)).to_pylist()]
            out = _patch(out, esc, reps)
        return out
    if kind in ("float", "float32"):
        vals = arr.to_numpy(zero_copy_only=False)  # null -> nan (masked next)
        absv = np.abs(vals)
        in_band = np.isfinite(vals) & (absv >= 1e-3) & (absv < 1e7)
        # numpy's astype(str) is shortest-round-trip per element width
        # (float32 formats from its own 32-bit shortest digits), and
        # python/Java plain-decimal notation coincide inside the band
        strs = vals.astype(str)
        out = pa.array(strs, pa.string())
        fallback = ~in_band
        if fallback.any():
            null_np = pc.is_null(arr).to_numpy(zero_copy_only=False)
            reps = ["null" if null_np[i]
                    else _encode_scalar(float(vals[i]), kind)
                    for i in np.nonzero(fallback)[0]]
            out = _patch(out, pa.array(fallback), reps)
        return out
    # bytes: per-value python for this column
    return pa.array([_encode_scalar(v, kind) for v in arr.to_pylist()],
                    pa.string())


def _encode_reference_fidelity(df: DataFrame) -> DataFrame:
    from arangodb_java_parquet_spark.shipping import ensure_package_shipped
    ensure_package_shipped(df.sparkSession)
    row_type = df.schema

    def encode_batches(it: Iterator) -> Iterator:
        import pyarrow as pa
        for batch in it:
            docs = _vec_column_strs(batch.to_struct_array(), row_type)
            yield pa.RecordBatch.from_arrays([docs], [DOC_COL])

    return df.mapInArrow(encode_batches, schema=f"{DOC_COL} string")
