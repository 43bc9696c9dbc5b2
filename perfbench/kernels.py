"""Codec kernel phase: the vectorized proto codec timed with no JVM.

For each message shape of the round-trip queries, the query itself is
built with ``proto_roundtrip`` swapped for a recorder, which yields the
query's own pre-encode DataFrame, message type and codec config; the
frame's Arrow batches are then captured exactly as ``mapInPandas`` hands
them to the codec. From there Spark is out of the loop:
``compile_batch_to_wire`` and ``compile_wire_to_batch`` run on those
pandas batches in this process, and their outputs are checked byte for byte (encode) and value for
value (decode) against the row kernels ``compile_row_to_wire`` and
``compile_wire_to_row``. A compiler that returns None, or a batch that
raises ``Unvectorizable``, sends that shape down the row path, which is
then what gets timed.
"""

from __future__ import annotations

import datetime as dt
import math
import pickle
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion.distributed import (
    compile_row_to_wire,
    compile_wire_to_row,
)
from protarrow_spark.conversion.vectorized import Unvectorizable, compile_batch_to_wire
from protarrow_spark.conversion.vectorized_decode import compile_wire_to_batch
from protarrow_spark.proto.model import MessageType
from protarrow_spark.queries import QUERIES
from protarrow_spark.queries import conversion as cq
from protarrow_spark.schema import message_type_to_schema

from metrics import CODEC_SHAPES

#: minimum timed span per shape and direction
MIN_TIMED_S = 0.15


class _RoundtripCalled(Exception):
    """Carries the (frame, message type, config) a query passed to
    ``proto_roundtrip``, and stops the query's construction there."""


def _record(df, mtype, config=ProtarrowSparkConfig()):
    raise _RoundtripCalled(df, mtype, config)


def roundtrip_input(spark, data_dir: str, shape: str):
    """(frame, message type, config) that the shape's registered query
    hands to ``proto_roundtrip``, taken by building the query with a
    recorder bound in its module in place of ``proto_roundtrip``."""
    name = CODEC_SHAPES[shape]
    real, cq.proto_roundtrip = cq.proto_roundtrip, _record
    try:
        QUERIES[name](spark, data_dir)
    except _RoundtripCalled as call:
        return call.args
    finally:
        cq.proto_roundtrip = real
    raise RuntimeError(f"{name} did not call proto_roundtrip")


@dataclass
class Captured:
    mtype: MessageType
    config: ProtarrowSparkConfig
    batches: list[pd.DataFrame]


def capture_batches(spark, data_dir: str, shape: str) -> Captured:
    """The shape's pre-encode batches, as the codec's mapInPandas sees them."""
    df, mtype, config = roundtrip_input(spark, data_dir, shape)
    names = [f.name for f in message_type_to_schema(mtype, config).fields]
    src = df.select(*names)

    def capture(batches):  # nested, so it is shipped by value to the workers
        for batch in batches:
            yield pd.DataFrame({"blob": [pickle.dumps(batch)]})

    rows = src.mapInPandas(capture, "blob binary").collect()
    # bytes written by this benchmark's own Python workers just above
    return Captured(mtype, config, [pickle.loads(r.blob) for r in rows])


def _canon(v):
    """Comparable form of one decoded cell, for either kernel's output.
    NaT is the batch kernel's null timestamp, None the row kernel's; both
    become the same Arrow null on the way back to Spark."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, dict):
        return ("dict", tuple(sorted((_canon(k), _canon(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, np.generic):
        return _canon(v.item())
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _decode_diff(shape, names, decoded, expected) -> str | None:
    """First column where the batch decode differs from the row decode."""
    for cols, rows in zip(decoded, expected):
        for i, name in enumerate(names):
            if [_canon(v) for v in cols[i]] != [_canon(r[i]) for r in rows]:
                return f"{shape}.{name}: batch decode differs from the row decode"
    return None


@dataclass
class KernelResult:
    shape: str
    rows: int
    encode_rows_per_s: float
    decode_rows_per_s: float
    encode_row_path: bool
    decode_row_path: bool
    mismatch: str | None


def _timed(fn, min_s: float = MIN_TIMED_S) -> float:
    """Seconds per call of ``fn``, repeated until ``min_s`` has passed."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        spent = time.perf_counter() - t0
        if spent >= min_s:
            return spent / reps


def run_shape(shape: str, captured: Captured) -> KernelResult:
    mtype, config, batches = captured.mtype, captured.config, captured.batches
    names = [f.name for f in message_type_to_schema(mtype, config).fields]
    rows = sum(len(b) for b in batches)
    encode_row = compile_row_to_wire(mtype, config)
    decode_row = compile_wire_to_row(mtype, config)
    encode_batch = compile_batch_to_wire(mtype, config)
    decode_batch = compile_wire_to_batch(mtype, config)

    def encode_rows():
        return [[encode_row(rec) for rec in zip(*(b[c] for c in names))] for b in batches]

    def encode_vec():
        return [list(encode_batch([b[c] for c in names])) for b in batches]

    reference = wires = encode_rows()
    if encode_batch is not None:
        try:
            wires = encode_vec()
        except Unvectorizable:
            encode_batch = None
    mismatch = None
    if wires != reference:
        mismatch = f"{shape}: batch encode is not byte-identical to the row encode"

    def decode_rows():
        return [[decode_row(w) for w in ws] for ws in wires]

    def decode_vec():
        return [decode_batch(ws)[0] for ws in wires]

    expected = decode_rows()
    if decode_batch is not None:
        try:
            decoded = decode_vec()
        except Unvectorizable:
            decode_batch = None
        else:
            mismatch = mismatch or _decode_diff(shape, names, decoded, expected)
    encode = encode_rows if encode_batch is None else encode_vec
    decode = decode_rows if decode_batch is None else decode_vec
    return KernelResult(
        shape,
        rows,
        rows / _timed(encode),
        rows / _timed(decode),
        encode_batch is None,
        decode_batch is None,
        mismatch,
    )
