"""Distributed proto conversion over binary columns.

This is the engine's scale path (SURVEY §3.1/§3.2 "Spark version"):
data never touches the driver. A DataFrame with a ``binary`` column
of serialized messages (the Kafka value shape, ``docs/faq.md:20-25``
in the reference) decodes into typed columns on executors, and typed
columns serialize back to proto bytes for a Kafka/file sink.

Implementation: ``mapInPandas`` (Arrow-batched, one Python worker per
partition), one per-batch loop per direction (:func:`_decode_cells` /
:func:`_encode_cells`). Each batch runs the numpy batch kernel
(``conversion/vectorized.py`` / ``vectorized_decode.py``); the row
kernels (:func:`compile_row_to_wire`, and the Message path
:func:`compile_wire_to_row`) are the semantics oracle and take a batch
the batch kernel cannot (compiler returned None, or ``Unvectorizable``).

Spark's built-in ``from_protobuf`` / ``to_protobuf`` would be the
zero-Python alternative but requires the external spark-protobuf jar
and compiled descriptor sets; this path has no such dependency and
supports the engine's config policies (uint64/timestamp/enum
rendering) during decode itself.

Scale notes:

* no shuffle — both directions are narrow per-partition maps;
* Arrow batching amortizes serialization (``mapInPandas``), and the
  compiled converters are built once per partition, not per row;
* predicate/column pruning still applies to everything upstream of
  the binary column scan.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion.encode import row_builder
from protarrow_spark.conversion.vectorized import (
    Unvectorizable,
    compile_batch_to_wire,
)
from protarrow_spark.conversion.vectorized_decode import compile_wire_to_batch
from protarrow_spark.proto.message import parse
from protarrow_spark.proto.model import MessageType
from protarrow_spark.schema import message_type_to_schema

#: A malformed record raises one of these from the row decoder; in
#: permissive mode the row decodes to all nulls.
_DECODE_ERRORS = (ValueError, TypeError, IndexError, struct.error)

#: A contract-violating row raises one of these from the row encoder;
#: in permissive mode its cell is null. Deliberately NOT
#: AttributeError: a contract violation is a bad VALUE
#: (range/type/overflow); an AttributeError is an encoder bug and must
#: fail the task, not hide as a dead letter.
_ENCODE_ERRORS = (ValueError, TypeError, OverflowError, struct.error)


def _decode_cells(decode_batch, decode_row, wires, n_fields, permissive):
    """One batch of wire cells -> ``n_fields`` decoded columns.

    The batch kernel runs unless it did not compile (None) or raises
    ``Unvectorizable`` on this batch; then the row kernel decodes it.
    In permissive mode a None or malformed cell decodes to an all-null
    row (the batch kernel nulls the same rows itself)."""
    if decode_batch is not None:
        try:
            return decode_batch(wires)[0]
        except Unvectorizable:
            pass
    rows = []
    for w in wires:
        try:
            rows.append(decode_row(bytes(w)))  # bytes(None): TypeError
        except _DECODE_ERRORS:
            if not permissive:
                raise
            rows.append((None,) * n_fields)
    return [list(c) for c in zip(*rows)] if rows else [[]] * n_fields


def _encode_cells(encode_batch, encode_row, cols, permissive):
    """One batch of field columns -> its wire cells.

    The batch kernel runs unless it did not compile (None), raises
    ``Unvectorizable`` on this batch, or (permissive only) raises on a
    contract-violating value; then the row kernel encodes it, nulling
    each violating row in permissive mode."""
    if encode_batch is not None:
        try:
            return encode_batch(cols)
        except Unvectorizable:
            pass
        except _ENCODE_ERRORS:
            if not permissive:
                raise
    cells = []
    for rec in zip(*cols):
        try:
            cells.append(encode_row(rec))
        except _ENCODE_ERRORS:
            if not permissive:
                raise
            cells.append(None)
    return cells


def decode_proto_bytes(
    df: DataFrame,
    bytes_col: str,
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    keep_cols: list[str] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """Binary proto column -> typed columns per ``mtype``'s schema.

    ``keep_cols`` are passed through unchanged (e.g. a Kafka key /
    offset). Runs entirely on executors.

    ``on_error``: ``"raise"`` (default) aborts the task on a
    malformed record — the strict mode a backfill wants; ``"null"``
    is PERMISSIVE mode (the ``from_json`` convention): a record whose
    bytes cannot be parsed yields all-null decoded columns while its
    ``keep_cols`` pass through, so one bad Kafka record cannot kill a
    100 TB ingest — count the nulls downstream and route them to a
    dead-letter sink.
    """
    import pandas as pd

    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    schema = message_type_to_schema(mtype, config)
    keep = list(keep_cols or [])
    passthrough = [df.schema[c] for c in keep]
    decoded_fields = list(schema.fields)
    permissive = on_error == "null"
    if permissive:
        # Corrupt records surface as all-null decoded columns, so the
        # contract's non-null scalars must relax to nullable here.
        decoded_fields = [
            T.StructField(f.name, f.dataType, True, f.metadata)
            for f in decoded_fields
        ]
    out_schema = T.StructType(passthrough + decoded_fields)
    out_names = [f.name for f in out_schema.fields]
    src = df.select(*keep, bytes_col)
    decoded_names = [f.name for f in schema.fields]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode_batch = compile_wire_to_batch(mtype, config, permissive=permissive)
        decode_row = compile_wire_to_row(mtype, config)
        for batch in batches:
            cols = _decode_cells(
                decode_batch,
                decode_row,
                list(batch[bytes_col]),
                len(decoded_names),
                permissive,
            )
            out = {c: batch[c].reset_index(drop=True) for c in keep}
            out.update(zip(decoded_names, cols))
            yield pd.DataFrame(out, columns=out_names)

    return src.mapInPandas(decode, out_schema)


def encode_proto_bytes(
    df: DataFrame,
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    output_col: str = "proto",
    keep_cols: list[str] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """Typed columns -> serialized proto binary column.

    The sink shape: feed the result to Kafka / parquet with one
    ``binary`` column. Columns of ``df`` must match
    ``message_type_to_schema(mtype, config)`` (use
    :func:`protarrow_spark.conversion.cast_dataframe` first when they
    don't). Runs entirely on executors.

    ``on_error``: ``"raise"`` (default) aborts the task on a row that
    violates the contract (e.g. uint32 out of range, wrong cell type);
    ``"null"`` is PERMISSIVE mode, mirroring the decode convention: the
    violating row's ``output_col`` is null while its ``keep_cols`` pass
    through — one contract-breaking row cannot kill a 100 TB export;
    count the nulls downstream and route them to a dead-letter sink.
    """
    import pandas as pd

    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    permissive = on_error == "null"
    keep = list(keep_cols or [])
    passthrough = [df.schema[c] for c in keep]
    out_schema = T.StructType(
        passthrough + [T.StructField(output_col, T.BinaryType(), nullable=permissive)]
    )
    out_names = [f.name for f in out_schema.fields]
    field_names = [f.name for f in message_type_to_schema(mtype, config).fields]
    src = df.select(*keep, *field_names)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # permissive batches compile with permissive=True: range
        # violations null exactly the violating rows in the batch
        # kernel, with no row-wise re-encode of the whole batch
        encode_batch = compile_batch_to_wire(mtype, config, permissive=permissive)
        encode_row = compile_row_to_wire(mtype, config)
        for batch in batches:
            out = {c: batch[c].reset_index(drop=True) for c in keep}
            out[output_col] = _encode_cells(
                encode_batch,
                encode_row,
                [batch[c] for c in field_names],
                permissive,
            )
            yield pd.DataFrame(out, columns=out_names)

    return src.mapInPandas(encode, out_schema)


def proto_roundtrip(
    df: DataFrame,
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
) -> DataFrame:
    """encode -> wire bytes -> decode, fully distributed. Useful as a
    self-check operator: output equals input modulo the config's
    documented lossiness (ns truncation etc.).

    Fused into ONE ``mapInPandas`` hop: chaining the public
    ``encode_proto_bytes`` -> ``decode_proto_bytes`` plans two Python
    runners per task (double the Arrow JVM<->Python transfer and
    double the worker pool); the fused map runs the same two per-batch
    loops with a single hop. In production the two directions are
    separate jobs (produce vs consume), so the fused form is also the
    honest cost model for each side."""
    import pandas as pd

    schema = message_type_to_schema(mtype, config)
    out_names = [f.name for f in schema.fields]
    src = df.select(*out_names)

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        encode_batch = compile_batch_to_wire(mtype, config)
        encode_row = compile_row_to_wire(mtype, config)
        decode_batch = compile_wire_to_batch(mtype, config)
        decode_row = compile_wire_to_row(mtype, config)
        for batch in batches:
            wires = _encode_cells(
                encode_batch, encode_row, [batch[c] for c in out_names], False
            )
            cols = _decode_cells(
                decode_batch, decode_row, wires, len(out_names), False
            )
            yield pd.DataFrame(dict(zip(out_names, cols)), columns=out_names)

    return src.mapInPandas(roundtrip, schema)


# ---------------------------------------------------------------------------
# Unified codec entry points: built-in spark-protobuf when present,
# native wire codec otherwise (SURVEY Phase 2's unification promise;
# the reference ecosystem's documented integration pattern is
# from_protobuf over a Kafka binary column, docs/faq.md:13-35).
# ---------------------------------------------------------------------------


def spark_protobuf_available(spark) -> bool:
    """True when Spark's built-in protobuf connector can actually run:
    the python wrapper imports AND the external spark-protobuf jar's
    classes load in the JVM (the wrapper ships with pyspark, the jar
    does not — ``--packages org.apache.spark:spark-protobuf_2.13``)."""
    try:
        from pyspark.sql.protobuf.functions import from_protobuf  # noqa: F401
    except Exception:
        return False
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.protobuf.ProtobufDataToCatalyst"
        )
        return True
    except Exception:
        return False


def decode_proto_column(
    df: DataFrame,
    bytes_col: str,
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    *,
    desc_file_path: str | None = None,
    message_full_name: str | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Decode a binary proto column with the best available engine.

    Dispatch: when the spark-protobuf jar is live
    (:func:`spark_protobuf_available`) AND the caller supplies the
    compiled descriptor-set file + message full name the built-in
    ``from_protobuf`` runs — zero Python in the row path, Catalyst
    expression all the way. Otherwise (this environment: no jar, no
    protoc) the native Arrow-batched wire codec
    (:func:`decode_proto_bytes`) decodes with identical wire
    semantics.

    Caveat the caller owns: the built-in path uses spark-protobuf's
    fixed type mapping (enums as strings, uint64 as LongType); the
    native path applies this engine's config policies
    (uint64 decimal/long, enum int/string, timestamp flavors). At the
    default config the two differ only on uint64 (decimal vs
    wrapped-long) and enum rendering — pass
    ``ProtarrowSparkConfig(uint64_type="long", enum_type="string")``
    for drop-in parity.
    """
    spark = df.sparkSession
    if (
        desc_file_path is not None
        and message_full_name is not None
        and spark_protobuf_available(spark)
    ):
        from pyspark.sql.protobuf.functions import from_protobuf

        keep = list(keep_cols or [])
        decoded = df.select(
            *keep,
            from_protobuf(bytes_col, message_full_name, desc_file_path).alias(
                "__msg"
            ),
        )
        return decoded.select(*keep, "__msg.*")
    return decode_proto_bytes(df, bytes_col, mtype, config, keep_cols)


def encode_proto_column(
    df: DataFrame,
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    *,
    desc_file_path: str | None = None,
    message_full_name: str | None = None,
    output_col: str = "proto",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Encode typed columns to a binary proto column — built-in
    ``to_protobuf`` when live (jar + descriptor set), else the native
    wire codec (:func:`encode_proto_bytes`). Same dispatch + type-
    mapping caveats as :func:`decode_proto_column`."""
    spark = df.sparkSession
    if (
        desc_file_path is not None
        and message_full_name is not None
        and spark_protobuf_available(spark)
    ):
        from pyspark.sql.protobuf.functions import to_protobuf

        keep = list(keep_cols or [])
        field_names = [
            f.name for f in message_type_to_schema(mtype, config).fields
        ]
        return df.select(
            *keep,
            to_protobuf(
                F.struct(*field_names), message_full_name, desc_file_path
            ).alias(output_col),
        )
    return encode_proto_bytes(df, mtype, config, output_col, keep_cols)


# ---------------------------------------------------------------------------
# Compiled fast path: Spark row tuple -> wire bytes WITHOUT building a
# Message. Composes the existing per-field decoders (Spark cell ->
# proto value, decode.py) with the wire writers (message.py), so every
# conversion policy lives in exactly one place; what it skips is the
# dynamic Message object: allocation, attribute-protocol setattr, and
# serialize()'s per-field dict probing. ~1.5x on the encode half of
# the codec, bit-identical output (differential-tested against the
# Message path over the golden corpora + the random full matrix).
#
# One deliberate divergence, unreachable from valid input: a row with
# TWO non-null members of the same oneof writes both tags (the
# Message path keeps only the later one). parse() applies last-wins
# either way, so even then the decoded result is identical.
# ---------------------------------------------------------------------------


def compile_row_to_wire(
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
):
    """Compile ``row-tuple (schema field order) -> serialized bytes``."""
    from protarrow_spark.conversion.decode import _field_decoder
    from protarrow_spark.proto.message import _write_field

    index_of = {f.name: i for i, f in enumerate(mtype.fields)}
    compiled = [
        (
            field,
            index_of[field.name],
            _field_decoder(field, config, (mtype.full_name,)),
        )
        for field in mtype.fields_number_order
    ]

    def encode_row(rec) -> bytes:
        out = bytearray()
        for field, idx, conv in compiled:
            v = conv(rec[idx])
            if v is None:
                continue
            if (field.is_map or field.repeated) and not v:
                continue
            _write_field(out, field, v)
        return bytes(out)

    return encode_row




def compile_wire_to_row(
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
):
    """Compile ``serialized bytes -> row tuple (schema field order)``.

    The Message path: :func:`~protarrow_spark.proto.message.parse`
    into a Message, then the compiled ``row_builder`` converter. It is
    the semantics oracle the batch kernels are differential-tested
    against, and the per-batch fallback when they cannot run."""
    build = row_builder(mtype, config)
    return lambda data: build(parse(data, mtype))
