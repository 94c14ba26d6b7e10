"""Codec layer: message envelope <-> typed rows, as pure DataFrame ops.

decode_envelope re-expresses the reference's RowDeserializationSchema
(src/main/java/org/apache/rocketmq/flink/source/reader/deserializer/
RowDeserializationSchema.java):

- three body layouts (lines 150-197): single-VARBINARY passthrough,
  all-header-fields, delimited text;
- multi-line bodies: body split on lineDelimiter, each line a row
  (lines 203-246);
- header fields resolved from the user-property bag by column name
  (lines 248-272);
- six dirty-data strategies across format-error / missing-field /
  extra-field classes (lines 284-397), driven by the lengthCheck preset
  (lines 538-569, defaults SKIP/SKIP/CUT at 460-462).

encode_rows re-expresses RocketMQRowDataConverter.convert
(src/main/java/org/apache/rocketmq/flink/sink/table/
RocketMQRowDataConverter.java:107-224): key-column routing, dynamic
tag/property columns (the fork feature), body-column exclusion, delimited
body assembly.

Everything is built-in pyspark.sql.functions — the decode path stays
inside whole-stage codegen end to end, which is what makes it viable on a
100 TB scan (no Python hop per row).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rocketmq_flink_spark.config import (
    DirtyPolicy,
    normalize_options,
    parse_bool,
    parse_csv,
)
from rocketmq_flink_spark.functions.types import coerce_string, stringify

NULL_SENTINEL = "\\N"


def _unescape(s: str) -> str:
    """Unescape Java-style literals in delimiter options ("\\n", "\\u0001"),
    mirroring StringEscapeUtils.unescapeJava in the reference
    (RowDeserializationSchema.java:103-104)."""
    if "\\" not in s:
        return s
    return s.encode("latin-1", "backslashreplace").decode("unicode_escape")


def _quote(delim: str) -> str:
    """Literal-quote a delimiter for Java-regex split."""
    return re.escape(delim)


def _as_struct_type(schema) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    return T.StructType.fromDDL(schema)


def decode_envelope(
    df: DataFrame,
    schema,
    options: dict | None = None,
    metadata_columns: list[str] | None = None,
) -> DataFrame:
    """Decode an envelope DataFrame (with `value` binary + `props` map
    columns) into typed rows per the declared schema.

    Parameters
    ----------
    df : envelope DataFrame (see schema.ENVELOPE_SCHEMA; only the columns
        actually referenced need to exist).
    schema : StructType or DDL string — the declared physical schema.
    options : connector options (fieldDelimiter, lineDelimiter, encoding,
        lengthCheck, nullValues, headerFields, ...).
    metadata_columns : envelope metadata columns to append after the
        physical columns (reference: SupportsReadingMetadata).
    """
    opts = normalize_options(options or {})
    struct = _as_struct_type(schema)
    policy = DirtyPolicy.from_length_check(opts.get("lengthCheck"))
    header_names = set(parse_csv(opts.get("headerFields")))
    null_values = parse_csv(opts.get("nullValues")) or [NULL_SENTINEL]
    encoding = opts["encoding"]
    field_delim = _unescape(opts["fieldDelimiter"])
    line_delim = _unescape(opts["lineDelimiter"])
    meta_cols = list(metadata_columns or [])

    header_fields = [f for f in struct.fields if f.name in header_names]
    data_fields = [f for f in struct.fields if f.name not in header_names]

    def header_col(f: T.StructField) -> Column:
        return coerce_string(
            F.col("props").getItem(f.name), f, null_values, encoding
        ).alias(f.name)

    # Layout 1: single VARBINARY data column -> raw body passthrough
    # (RowDeserializationSchema.java:191-197).
    if len(data_fields) == 1 and isinstance(data_fields[0].dataType, T.BinaryType):
        out_cols = []
        for f in struct.fields:
            if f.name == data_fields[0].name:
                out_cols.append(F.col("value").alias(f.name))
            else:
                out_cols.append(header_col(f))
        return df.select(*out_cols, *meta_cols)

    # Layout 2: every column is a header field -> row built from props
    # (RowDeserializationSchema.java:168-180).
    if not data_fields:
        return df.select(*[header_col(f) for f in struct.fields], *meta_cols)

    # Layout 3: delimited text. Split body into lines (multi-line bodies
    # become multiple rows), then each line into fields.
    if field_delim == "" and len(data_fields) > 1:
        # an empty regex would split per CHARACTER — silent garbage for
        # any multi-column schema, so fail loudly instead
        raise ValueError(
            "fieldDelimiter resolved to an empty string but the schema has "
            f"{len(data_fields)} data fields; set a non-empty fieldDelimiter"
        )
    body = F.decode(F.col("value"), encoding)
    lines = F.split(body, _quote(line_delim))
    # Two deliberate plan choices, each measured ~4x on the round-trip
    # bench:
    # - project ONLY the columns needed after the line explode (props
    #   for header fields, plus requested metadata): Catalyst does not
    #   prune the binary body out of the Generate on its own;
    # - emit (line, fields[]) FROM the generator itself: the dirty-data
    #   Filter references the generator's output, which predicate
    #   pushdown cannot cross, so the field split runs exactly once per
    #   line instead of being re-inlined into every filter condition.
    carry = [
        c
        for c in df.columns
        if c in set(meta_cols) | ({"props"} if header_fields else set())
    ]
    line_fields = F.explode(
        F.transform(
            lines,
            lambda line: F.struct(
                line.alias("line"),
                F.split(line, _quote(field_delim)).alias("fields"),
            ),
        )
    )
    exploded = (
        df.select(*[F.col(c) for c in carry], line_fields.alias("_lf"))
        .where(F.col("_lf.line") != "")
        .select(
            *[F.col(c) for c in carry], F.col("_lf.fields").alias("_fields")
        )
    )

    n_expected = len(data_fields)
    n_actual = F.size(F.col("_fields"))
    err_missing = n_actual < F.lit(n_expected)
    err_extra = n_actual > F.lit(n_expected)

    typed_cols: dict[str, Column] = {}
    err_conds: list[Column] = []
    for i, f in enumerate(data_fields):
        raw = F.try_element_at(F.col("_fields"), F.lit(i + 1))
        typed = coerce_string(raw, f, null_values, encoding)
        typed_cols[f.name] = typed
        if not isinstance(f.dataType, (T.StringType, T.BinaryType)):
            is_sentinel = raw.isin(*null_values) if null_values else F.lit(False)
            err_conds.append(raw.isNotNull() & ~is_sentinel & typed.isNull())

    any_format_err = None
    for cond in err_conds:
        any_format_err = cond if any_format_err is None else (any_format_err | cond)

    # Stage typed values AND policy flags in ONE projection, then filter
    # on the boolean flag columns. Putting the raw coercion expressions
    # in the Filter itself would evaluate every coercion (timestamp
    # parses especially) once for the predicate and again for the
    # projection — measured ~4x slower on the round-trip bench.
    stage_cols = [
        header_col(f) if f.name in header_names else typed_cols[f.name].alias(f.name)
        for f in struct.fields
    ]
    flag_cols = [
        err_missing.alias("_err_missing"),
        err_extra.alias("_err_extra"),
        (any_format_err if any_format_err is not None else F.lit(False)).alias(
            "_err_format"
        ),
    ]
    staged = exploded.select(*stage_cols, *flag_cols, *meta_cols)

    filters: list[Column] = []
    if policy.on_missing in ("SKIP", "SKIP_SILENT"):
        filters.append(~F.col("_err_missing"))
    if policy.on_extra in ("SKIP", "SKIP_SILENT"):
        filters.append(~F.col("_err_extra"))
    if policy.on_format_error in ("SKIP", "SKIP_SILENT") and err_conds:
        filters.append(~F.col("_err_format"))

    exception_wraps: list[tuple[Column, str]] = []
    if policy.on_missing == "EXCEPTION":
        exception_wraps.append(
            (F.col("_err_missing"), "row has fewer fields than schema")
        )
    if policy.on_extra == "EXCEPTION":
        exception_wraps.append(
            (F.col("_err_extra"), "row has more fields than schema")
        )
    if policy.on_format_error == "EXCEPTION" and err_conds:
        exception_wraps.append((F.col("_err_format"), "unparseable field value"))

    out_cols = []
    for f in struct.fields:
        col: Column = F.col(f.name)
        if f.name not in header_names:
            # EXCEPTION policies fold the raise into every projected data
            # column so the check is evaluated wherever the row is.
            for cond, msg in exception_wraps:
                col = F.when(
                    cond, F.raise_error(F.lit(msg)).cast(f.dataType)
                ).otherwise(col)
        out_cols.append(col.alias(f.name))

    result = staged
    for flt in filters:
        result = result.where(flt)
    return result.select(*out_cols, *meta_cols)


def _empty_props() -> Column:
    """The `props` of a message without properties: an empty map, not a
    null one. The sink stores both as an empty map, but a null map (or
    array) costs time quadratic in the rows per Arrow batch on the
    JVM -> Python sink hop: a burst written as one task took +0.2 s at
    15k rows and +1.4 s at 30k (4-core VM); an empty map costs nothing
    extra."""
    return F.create_map().cast(T.MapType(T.StringType(), T.StringType()))


def encode_rows(
    df: DataFrame,
    options: dict | None = None,
    born_ts_col: str | None = None,
    topic_col: Column | str | None = None,
) -> DataFrame:
    """Encode typed rows into the message envelope for the sink.

    Column routing per RocketMQRowDataConverter:
    - key columns -> `keys` (comma-joined), excluded from the body unless
      writeKeysToBody (lines 112-124);
    - dynamic tag column -> `tags`, excluded unless
      dynamicTagColumnWriteIncluded (lines 125-135);
    - dynamic property columns -> `props` map, always excluded from the
      body (fork feature, lines 139-152 and 190-200);
    - body = remaining columns stringified and joined by fieldDelimiter,
      encoded with `encoding` (lines 207-217). NULLs are written as the
      null sentinel so field positions survive the round trip.

    `topic_col` is the TopicSelector surface (legacy/common/selector/
    TopicSelector.java:21-26): a per-row topic expression — see
    functions.selectors for the Default/Simple selector equivalents. The
    multi-topic sink routes each row to its envelope topic.
    """
    opts = normalize_options(options or {})
    field_delim = _unescape(opts["fieldDelimiter"])
    encoding = opts["encoding"]
    key_columns = parse_csv(opts.get("keyColumns"))
    write_keys_to_body = parse_bool(opts.get("writeKeysToBody"))
    dynamic_tag = parse_bool(opts.get("isDynamicTag"))
    tag_col = opts.get("dynamicTagColumn")
    tag_included = parse_bool(opts.get("dynamicTagColumnWriteIncluded"))
    dynamic_props = parse_bool(opts.get("isDynamicProperty"))
    prop_columns = parse_csv(opts.get("dynamicPropertyColumns"))
    static_tag = opts.get("tag")
    if static_tag == "*":  # '*' is a subscription wildcard, not a message tag
        static_tag = None

    schema = df.schema
    fields_by_name = {f.name: f for f in schema.fields}

    excluded: set[str] = set()
    if key_columns and not write_keys_to_body:
        excluded |= set(key_columns)
    if dynamic_tag and tag_col and not tag_included:
        excluded.add(tag_col)
    if dynamic_props:
        excluded |= set(prop_columns)

    body_fields = [f for f in schema.fields if f.name not in excluded]
    if field_delim == "" and len(body_fields) > 1:
        raise ValueError(
            "fieldDelimiter resolved to an empty string but the body has "
            f"{len(body_fields)} columns; the encoded row could never be "
            "split back — set a non-empty fieldDelimiter"
        )

    def wire(f: T.StructField) -> Column:
        return F.coalesce(stringify(F.col(f.name), f), F.lit(NULL_SENTINEL))

    value = F.encode(
        F.concat_ws(field_delim, *[wire(f) for f in body_fields]), encoding
    )

    keys = (
        F.concat_ws(",", *[wire(fields_by_name[c]) for c in key_columns])
        if key_columns
        else F.lit(None).cast(T.StringType())
    )
    if dynamic_tag and tag_col:
        tags = F.col(tag_col).cast(T.StringType())
    elif static_tag:
        tags = F.lit(static_tag)
    else:
        tags = F.lit(None).cast(T.StringType())

    if dynamic_props and prop_columns:
        props = F.map_from_arrays(
            F.array(*[F.lit(c) for c in prop_columns]),
            F.array(*[F.col(c).cast(T.StringType()) for c in prop_columns]),
        )
    else:
        props = _empty_props()

    born_ts = (
        F.col(born_ts_col).cast(T.TimestampType())
        if born_ts_col
        else F.current_timestamp()
    )

    if topic_col is not None:
        topic = (
            F.col(topic_col) if isinstance(topic_col, str) else topic_col
        ).cast(T.StringType())
    else:
        topic = F.lit(opts.get("topic", ""))

    return df.select(
        topic.alias("topic"),
        keys.alias("keys"),
        tags.alias("tags"),
        props.alias("props"),
        value.alias("value"),
        born_ts.alias("born_ts"),
    )


def decode_simple_key_value(
    df: DataFrame,
    key_field: str = "key",
    value_field: str = "value",
    encoding: str = "UTF-8",
) -> DataFrame:
    """SimpleKeyValueDeserializationSchema (D7): message keys + UTF-8
    body as two string columns
    (legacy/common/serialization/SimpleKeyValueDeserializationSchema.java:25-66).
    The tuple variant (D8, SimpleTupleDeserializationSchema.java:26-40)
    is the same projection with positional names."""
    return df.select(
        F.col("keys").alias(key_field),
        F.decode(F.col("value"), encoding).alias(value_field),
    )


def encode_simple_key_value(
    df: DataFrame,
    key_field: str = "key",
    value_field: str = "value",
    encoding: str = "UTF-8",
) -> DataFrame:
    """SimpleKeyValueSerializationSchema (D9): two string columns back to
    the envelope (keys + encoded body); deserialize∘serialize = identity
    (the reference's SimpleKeyValueSerializationSchemaTest)."""
    return df.select(
        F.col(key_field).cast(T.StringType()).alias("keys"),
        F.lit(None).cast(T.StringType()).alias("tags"),
        _empty_props().alias("props"),
        F.encode(F.col(value_field).cast(T.StringType()), encoding).alias("value"),
        F.current_timestamp().alias("born_ts"),
    )
