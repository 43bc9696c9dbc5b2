"""Vectorized (numpy) wire DECODE for flat messages.

The symmetric half of :mod:`protarrow_spark.conversion.vectorized`
(the r8 batch encoder): ``compile_wire_to_row`` parses each row into a
Message in Python, then converts it — a varint loop, a field lookup
and an attribute store per field occurrence. At 100 TB the executor-side codec IS the conversion
surface, so this module compiles a BATCH decoder that parses every row
of an Arrow batch simultaneously, TRANSPOSED: one loop step advances
every row's cursor past one field occurrence, with the per-step work
(varint reads, fixed-width gathers, tag grouping, sign/zigzag
mapping) done as numpy array ops. The only per-row Python left is one
slice per string/bytes cell and the object-mode converters the row
path also pays (Decimal, enum-name lookup).

Wire streams of a flat message are highly regular — every row emits
fields in number order, skipping defaults — so at each step almost all
rows sit on the SAME tag and the per-step ``np.unique`` grouping
degenerates to one or two groups. Step count ~= field count, not row
count.

Value-compatibility contract: for every supported message shape the
decoded cells are IDENTICAL to ``compile_wire_to_row`` — the Message
path ``row_builder(parse(data))``, the semantics oracle (differential-
tested in tests/test_vectorized_decode.py over the random matrix, the
config modes, and a corrupt-bytes fuzz: rows where the row path raises
must raise here in strict mode and null identically in permissive
mode).

Scope: scalar kinds (all config modes) + google.protobuf.Timestamp
message fields + REPEATED scalars (packed and expanded, r9) + ONEOF
groups of supported members (later-member-wins sibling clearing, r9)
+ MAP fields with scalar keys/values (bounded entry-slice sub-loop,
r9) + plain NESTED MESSAGE fields to any depth (r9: occurrences
collect body slices, concatenation == parse_into merge, recursive
batch decode; every level slices the Timestamp body STRICTLY like
parse_into, so a subfield that overruns the body is malformed). r10
closes the final quarter: non-Timestamp WKTs (wrappers/Duration/Date/
TimeOfDay/Empty — nested-style slice collection, then the sub-decoded columns
combine into the scalar cell form), REPEATED MESSAGE fields (one
standalone item slice per occurrence, decoded as a flat item batch),
MESSAGE-VALUED MAPS (value slices merge per entry by concatenation),
and RECURSIVE types under ``skip_recursive_messages`` (a late-bound
strict validator parses the subtree for error parity, then prunes to
``()`` like the row converter — repeated recursive items and
recursive map values route through the same validator). With that,
every shape the row path supports in skip mode decodes vectorized;
only raise-mode recursion returns None (the row path raises at
compile). Runtime surprises (wire values
outside the shapes the numpy dtypes can mirror exactly, e.g. >=2^63
varints in a uint32 field from corrupt bytes) raise
:class:`Unvectorizable` and the caller falls back per batch — the row
path stays the semantics oracle.

Reference parity: the reference's decode direction is
``arrow_to_proto.py:608-656`` (columnar extraction from pyarrow
buffers); this is the same columnar idea for the Spark distributed
codec (wire bytes -> pandas columns).
"""

from __future__ import annotations

from typing import Callable

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion.vectorized import Unvectorizable, _SPLITTABLE_WKTS
from protarrow_spark.proto.model import (
    DATE,
    DURATION,
    EMPTY,
    TIME_OF_DAY,
    TIMESTAMP,
    WRAPPER_TYPES,
    Field,
    Kind,
    MessageType,
)

_WT_VARINT, _WT_I64, _WT_LEN, _WT_I32 = 0, 1, 2, 5

#: datetime.datetime(1,1,1)..(9999,12,31 23:59:59.999999) as
#: microseconds since epoch — the row path's datetime arithmetic
#: raises OverflowError outside this window (in BOTH error modes:
#: OverflowError is not in the permissive catch list), and
#: datetime64[us] would wrap silently, so the batch path must
#: range-check and raise the same way.
_DT_US_MIN = -62_135_596_800_000_000
_DT_US_MAX = 253_402_300_799_999_999

_VARINT_KINDS = {
    Kind.INT32,
    Kind.INT64,
    Kind.UINT32,
    Kind.UINT64,
    Kind.SINT32,
    Kind.SINT64,
    Kind.BOOL,
    Kind.ENUM,
}
_FIXED_WIDTH = {
    Kind.DOUBLE: 8,
    Kind.FIXED64: 8,
    Kind.SFIXED64: 8,
    Kind.FLOAT: 4,
    Kind.FIXED32: 4,
    Kind.SFIXED32: 4,
}
_LEN_KINDS = {Kind.STRING, Kind.BYTES}


def _is_timestamp_field(field: Field) -> bool:
    return (
        field.kind is Kind.MESSAGE
        and not field.repeated
        and not field.is_map
        and field.message is not None
        and field.message.full_name == TIMESTAMP.full_name
    )


def _read_varints_at(buf, cur, limit, active):
    """Vectorized ``_read_varint`` for every ``active`` row: read the
    varint at buf[cur[i]] bounded by limit[i]. Returns
    ``(val uint64, newcur, err)`` where err marks rows that overran
    their limit or exceeded 10 bytes (the row path's
    'varint too long'). Non-active rows pass through untouched."""
    import numpy as np

    n = len(cur)
    val = np.zeros(n, dtype=np.uint64)
    p = cur.copy()
    err = np.zeros(n, dtype=bool)
    idx = np.flatnonzero(active)
    shift = 0
    while len(idx):
        oob = p[idx] >= limit[idx]
        if oob.any():
            err[idx[oob]] = True
            idx = idx[~oob]
            if not len(idx):
                break
        b = buf[p[idx]].astype(np.uint64)
        # shift <= 63 always (loop exits below); uint64 << drops
        # overflow bits mod 2^64, matching the row path's & (2^64-1)
        val[idx] |= (b & np.uint64(0x7F)) << np.uint64(shift)
        p[idx] += 1
        more = (b & np.uint64(0x80)) != 0
        idx = idx[more]
        shift += 7
        if shift > 63 and len(idx):
            err[idx] = True  # varint too long
            break
    return val, p, err


def _read_fixed_at(buf, cur, limit, active, width):
    """Vectorized fixed-width little-endian read. Returns
    ``(val uint64, newcur, err)``; err marks rows whose payload
    overruns their limit (the row path's struct.unpack IndexError /
    _check_bounds)."""
    import numpy as np

    n = len(cur)
    val = np.zeros(n, dtype=np.uint64)
    err = np.zeros(n, dtype=bool)
    p = cur.copy()
    idx = np.flatnonzero(active)
    oob = p[idx] + width > limit[idx]
    if oob.any():
        err[idx[oob]] = True
        idx = idx[~oob]
    if len(idx):
        acc = np.zeros(len(idx), dtype=np.uint64)
        base = p[idx]
        for j in range(width):
            acc |= buf[base + j].astype(np.uint64) << np.uint64(8 * j)
        val[idx] = acc
        p[idx] += width
    return val, p, err


def _skip_at(buf, cur, limit, active, wt):
    """Vectorized ``_skip`` for one wire type. Returns (newcur, err).
    Groups (wt 3/4) error like the row path raises."""
    import numpy as np

    n = len(cur)
    err = np.zeros(n, dtype=bool)
    if wt == _WT_VARINT:
        _, p, err = _read_varints_at(buf, cur, limit, active)
        return p, err
    if wt in (_WT_I64, _WT_I32):
        width = 8 if wt == _WT_I64 else 4
        p = cur.copy()
        idx = np.flatnonzero(active)
        oob = p[idx] + width > limit[idx]
        err[idx[oob]] = True
        ok = idx[~oob]
        p[ok] += width
        return p, err
    if wt == _WT_LEN:
        ln, p, verr = _read_varints_at(buf, cur, limit, active)
        err |= verr
        idx = np.flatnonzero(active & ~err)
        # a declared length may exceed int64 only via a corrupt 10-byte
        # varint; comparing in int64 after capping keeps it an error
        lni = np.minimum(ln[idx], np.uint64(1 << 62)).astype(np.int64)
        oob = p[idx] + lni > limit[idx]
        err[idx[oob]] = True
        ok = idx[~oob]
        p[ok] += lni[~oob]
        return p, err
    # groups / reserved wire types: the row path raises
    err[active] = True
    return cur.copy(), err


def _convert_numeric(kind, u, live, field, enum_name_mode, u64_decimal):
    """uint64 raw wire values -> cell values for one numeric kind,
    identical to the row path's reader+converter composition. ``live``
    masks the elements whose values must be exactly representable
    (dead elements are nulled by the caller); a live value outside
    what the numpy formulation can mirror raises Unvectorizable so the
    row path decides."""
    import numpy as np

    if kind is Kind.INT64:
        return u.view(np.int64)
    if kind is Kind.ENUM:
        signed = u.view(np.int64)
        if enum_name_mode:
            by_number = field.enum.by_number
            fb = field.enum.fallback_name
            return np.array(
                [by_number.get(int(x), fb) for x in signed], dtype=object
            )
        return signed
    if kind is Kind.INT32:
        low = (u & np.uint64(0xFFFFFFFF)).astype(np.int64)
        return np.where(low >= (1 << 31), low - (1 << 32), low)
    if kind is Kind.UINT32:
        if (u[live] >= np.uint64(1 << 63)).any():
            # corrupt wire can put any varint in a uint32 field; the
            # row path keeps the unbounded int
            raise Unvectorizable("uint32 varint >= 2^63")
        return u.astype(np.int64)
    if kind in (Kind.UINT64, Kind.FIXED64):
        if u64_decimal:
            import decimal

            return np.array(
                [decimal.Decimal(int(x)) for x in u], dtype=object
            )
        return u.view(np.int64)  # reinterpret wrap, like the row
        # path's v - 2^64 if v > I64_MAX
    if kind in (Kind.SINT32, Kind.SINT64):
        half = (u >> np.uint64(1)).astype(np.int64)
        return half ^ -(u & np.uint64(1)).astype(np.int64)
    if kind is Kind.BOOL:
        return u != 0
    if kind is Kind.DOUBLE:
        return u.view(np.float64)
    if kind is Kind.FLOAT:
        return (
            (u & np.uint64(0xFFFFFFFF))
            .astype(np.uint32)
            .view(np.float32)
            .astype(np.float64)
        )
    if kind is Kind.FIXED32:
        return u.astype(np.int64)
    if kind is Kind.SFIXED32:
        low = u.astype(np.int64)
        return np.where(low >= (1 << 31), low - (1 << 32), low)
    if kind is Kind.SFIXED64:
        return u.view(np.int64)
    raise Unvectorizable(f"kind {kind}")  # pragma: no cover


#: datetime.date(1,1,1) — the engine's unset-Date cell (encode.py
#: DATE_SENTINEL); kept a local constant like vectorized.py's.
import datetime as _datetime

_DATE_SENTINEL = _datetime.date(1, 1, 1)

#: |seconds| bound keeping sec*1e9 + nano inside int64 (long_nanos
#: forms; the row path computes in unbounded Python ints)
_SEC_NANO_BOUND = 9_200_000_000
#: |seconds| bound keeping sec*1e6 + nano//1e3 inside int64 /
#: timedelta64[us] (the row path's datetime.timedelta covers more —
#: hand those rows to it)
_SEC_US_BOUND = 9_200_000_000_000


def _int_col(col, n):
    """A sub-decoder int column (np.int64 array, or object array with
    None at permissive-nulled rows) -> plain int64 (nulls as 0 — their
    rows are dead and masked by the caller)."""
    import numpy as np
    import pandas as pd

    if isinstance(col, np.ndarray) and col.dtype != object:
        return col.astype(np.int64, copy=False)
    return pd.Series(col).pipe(lambda s: s.where(s.notna(), 0)).to_numpy(dtype=np.int64)


def _wkt_values(mtype, sub_cols, m, live, config):
    """Sub-decoded WKT columns -> (form, payload) cell values, value-
    identical to encode.py's WKT converters applied to the parsed
    Message (``_duration_converter`` / ``_date_converter`` /
    ``_time_of_day_converter`` / wrapper ``m.value``).

    ``form``: how the caller materializes cells —
    ``obj`` int64 array, ``td64us``/``dt64us`` microsecond arrays,
    ``list`` ready python objects (None slots = conversion failures the
    caller attributes via its own bad-marking), ``empty`` unit structs,
    ``col`` a pass-through wrapper value column.
    Guards mirror the singular-Timestamp precedent: values the numpy
    formulation cannot hold exactly raise :class:`Unvectorizable` (the
    row path decides); datetime-range violations raise OverflowError in
    BOTH modes like the row path's datetime arithmetic."""
    import numpy as np

    name = mtype.full_name
    if name == TIMESTAMP.full_name:
        sec = _int_col(sub_cols[0], m)
        nano = _int_col(sub_cols[1], m)
        if config.timestamp_type == "long_nanos":
            if m and (np.abs(sec[live]) > _SEC_NANO_BOUND).any():
                raise Unvectorizable("long_nanos overflow risk")
            return "obj", sec * 1_000_000_000 + nano
        us = sec * 1_000_000 + np.floor_divide(nano, 1_000)
        over = live & (
            (sec > 260_000_000_000)
            | (sec < -260_000_000_000)
            | (us < _DT_US_MIN)
            | (us > _DT_US_MAX)
        )
        if over.any():
            raise OverflowError("timestamp out of datetime range")
        return "dt64us", us
    if name == DURATION.full_name:
        sec = _int_col(sub_cols[0], m)
        nano = _int_col(sub_cols[1], m)
        if config.duration_type == "long_nanos":
            if m and (np.abs(sec[live]) > _SEC_NANO_BOUND).any():
                raise Unvectorizable("long_nanos overflow risk")
            return "obj", sec * 1_000_000_000 + nano
        if m and (np.abs(sec[live]) > _SEC_US_BOUND).any():
            # datetime.timedelta holds more than timedelta64[us]
            raise Unvectorizable("duration beyond int64 micros")
        us = sec * 1_000_000 + np.floor_divide(nano, 1_000)
        return "td64us", us
    if name == DATE.full_name:
        y = _int_col(sub_cols[0], m)
        mo = _int_col(sub_cols[1], m)
        d = _int_col(sub_cols[2], m)
        out: list = [None] * m
        for k in np.flatnonzero(live):
            if y[k] == 0:
                out[k] = _DATE_SENTINEL
                continue
            try:
                out[k] = _datetime.date(int(y[k]), int(mo[k]), int(d[k]))
            except ValueError:
                # the row path's datetime.date() raise — a bad VALUE;
                # caller nulls the row (permissive) or re-raises
                out[k] = _WKT_CELL_ERROR
        return "list", out
    if name == TIME_OF_DAY.full_name:
        h = _int_col(sub_cols[0], m)
        mi = _int_col(sub_cols[1], m)
        se = _int_col(sub_cols[2], m)
        na = _int_col(sub_cols[3], m)
        if m and (
            (np.abs(h[live]) > 1_000_000).any()
            or (np.abs(mi[live]) > 10_000_000).any()
            or (np.abs(se[live]) > 1_000_000_000).any()
        ):
            # ((h*60+m)*60+s)*1e9 could leave int64; the row path
            # computes unbounded — hand the batch back
            raise Unvectorizable("time-of-day overflow risk")
        total = ((h * 60 + mi) * 60 + se) * 1_000_000_000 + na
        return "obj", total
    if name == EMPTY.full_name:
        return "empty", None
    if name in WRAPPER_TYPES:
        return "col", sub_cols[0]
    raise Unvectorizable(f"unsupported WKT {name}")  # pragma: no cover


class _WktCellError:
    """Sentinel marking a per-cell conversion failure inside a 'list'
    form (e.g. datetime.date ValueError) for the caller to attribute."""

    __repr__ = lambda self: "<wkt-cell-error>"  # noqa: E731


_WKT_CELL_ERROR = _WktCellError()


def _wkt_item_cells(mtype, sub_cols, m, item_live, config):
    """Item-context WKT finalize: plain python cell per decoded item
    (repeated items / map values live inside list/dict cells, so the
    Series forms the singular path uses don't apply)."""
    import numpy as np
    import pandas as pd

    form, payload = _wkt_values(mtype, sub_cols, m, item_live, config)
    if form == "obj":
        return list(payload)
    if form == "dt64us":
        # direct datetime construction, NOT pd.to_datetime: pandas
        # converts through ns resolution, which overflows for
        # valid-but-far (year > 2262) values the row path's
        # epoch + timedelta arithmetic handles; the _DT_US guards in
        # _wkt_values already bound these microseconds to datetime's
        # own range, so this can never raise
        ep = _datetime.datetime(1970, 1, 1, tzinfo=_datetime.timezone.utc)
        return [
            ep + _datetime.timedelta(microseconds=int(x)) for x in payload
        ]
    if form == "td64us":
        # same ns-overflow hazard: int64 microseconds always fit
        # datetime.timedelta (bound ~8.6e19 us) but not timedelta64[ns]
        # (~9.2e15 us) — construct the row path's objects directly
        return [_datetime.timedelta(microseconds=int(x)) for x in payload]
    if form == "empty":
        return [()] * m
    if form == "list":
        return payload
    # "col": wrapper pass-through
    col = payload
    if isinstance(col, np.ndarray):
        return list(col.astype(object))
    return list(col)


def compile_wire_to_batch(
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    permissive: bool = False,
    _trace: tuple = (),
    _registry: dict | None = None,
) -> Callable[[list], tuple] | None:
    """Compile ``[bytes-or-None per row] -> (columns, bad)`` for a
    supported flat message, or return None.

    ``columns`` is a list of per-field cell arrays (numpy array or
    Python list, length n) in ``mtype.fields`` order — value-identical
    to ``compile_wire_to_row`` applied per row. ``bad`` is None in
    strict mode; in permissive mode it is a bool mask of rows that
    failed to parse (the caller nulls the whole row, the dead-letter
    convention). Strict mode raises on the first malformed row like
    the row path.
    """
    import numpy as np

    if mtype.full_name in _trace:
        return None  # recursive shapes keep the row path
    trace = _trace + (mtype.full_name,)
    # Shared across the compile tree: (full_name) -> forward cell for
    # the STRICT validator of a recursive type. The cell is registered
    # BEFORE its decoder compiles so self/ancestor references late-bind
    # instead of recursing forever; runtime recursion depth then follows
    # the DATA, exactly like parse_into's nested parse.
    registry: dict = {} if _registry is None else _registry
    fields = list(mtype.fields)
    index_of = {f.name: i for i, f in enumerate(fields)}

    def _strict_validator(sub_mt: MessageType):
        """Validation decoder for a recursive field's bodies: a strict
        (parse_into-semantics) batch decode of ``sub_mt`` whose own
        recursive references late-bind to itself. The decoded columns
        are discarded — the row path's converter prunes the subtree to
        ``()`` — but parse errors must null/abort identically."""
        cell = registry.get(sub_mt.full_name)
        if cell is None:
            cell = registry[sub_mt.full_name] = {"in_progress": True}
            cell["fn"] = compile_wire_to_batch(
                sub_mt, config, permissive, (), registry
            )
            cell["in_progress"] = False
            if cell["fn"] is None:
                return None  # validator shape unsupported -> row path
        elif not cell.get("in_progress") and cell.get("fn") is None:
            return None
        return lambda cells, _c=cell: _c["fn"](cells)

    def _sibs(field) -> tuple:
        # oneof later-member-wins: setting one member clears its
        # siblings' presence (same clearing the row handlers do)
        if field.oneof is None:
            return ()
        return tuple(
            index_of[s.name]
            for s in fields
            if s.oneof == field.oneof and s.name != field.name
        )

    plan: dict[int, tuple] = {}
    sub_decoders: dict[int, Callable] = {}
    # message-typed items/values: idx -> WKT full_name or None (plain)
    item_wkt: dict[int, str | None] = {}
    for idx, field in enumerate(fields):
        if field.is_map:
            # maps (r9): each occurrence is a bounded entry slice
            # (key=1 / value=2) parsed in a transposed sub-loop; the
            # per-row dict assembly (insert-order dedup, the row
            # path's message-merge result) happens at finalize.
            # Message VALUES (r10): value occurrences collect slices
            # per entry (concatenation == the entry parse's merge),
            # decoded at finalize by the recursive batch decoder.
            entry = field.message
            key_f = entry.fields_by_number[1]
            val_f = entry.fields_by_number[2]
            if key_f.kind not in (_VARINT_KINDS | set(_FIXED_WIDTH) | _LEN_KINDS):
                return None
            if val_f.kind is Kind.MESSAGE:
                sub_name = val_f.message.full_name
                if sub_name in trace:
                    # recursive-typed values (r10): validate each entry
                    # value via the strict validator, prune to ()
                    if not config.skip_recursive_messages:
                        return None
                    validator = _strict_validator(val_f.message)
                    if validator is None:
                        return None
                    sub_decoders[idx] = validator
                    item_wkt[idx] = "rec"
                    plan[field.number] = ("map", field, idx, ())
                    continue
                sub = compile_wire_to_batch(
                    val_f.message, config, permissive, trace, registry
                )
                if sub is None:
                    return None
                sub_decoders[idx] = sub
                item_wkt[idx] = (
                    val_f.message if sub_name in _SPLITTABLE_WKTS else None
                )
            elif val_f.kind not in (
                _VARINT_KINDS | set(_FIXED_WIDTH) | _LEN_KINDS
            ):
                return None
            plan[field.number] = ("map", field, idx, ())
            continue
        if field.repeated:
            # repeated scalars (r9): packed bodies parse in a
            # transposed inner loop, expanded occurrences accumulate
            # (row, value) chunks. Repeated MESSAGES (r10): each
            # occurrence is one standalone item slice (NO merge across
            # occurrences — parse_into parses each into its own
            # Message); recursive-typed items keep the row path.
            if field.kind is Kind.MESSAGE:
                sub_name = field.message.full_name
                if sub_name in trace:
                    # recursive-typed items (r10): each occurrence
                    # validates via the strict validator, prunes to ()
                    if not config.skip_recursive_messages:
                        return None
                    validator = _strict_validator(field.message)
                    if validator is None:
                        return None
                    sub_decoders[idx] = validator
                    item_wkt[idx] = "rec"
                    plan[field.number] = ("rep_msg", field, idx, ())
                    continue
                sub = compile_wire_to_batch(
                    field.message, config, permissive, trace, registry
                )
                if sub is None:
                    return None
                sub_decoders[idx] = sub
                item_wkt[idx] = (
                    field.message if sub_name in _SPLITTABLE_WKTS else None
                )
                plan[field.number] = ("rep_msg", field, idx, ())
                continue
            if field.kind not in (_VARINT_KINDS | set(_FIXED_WIDTH) | _LEN_KINDS):
                return None
            plan[field.number] = ("repeated", field, idx, ())
            continue
        if _is_timestamp_field(field):
            if config.timestamp_type not in ("timestamp", "long_nanos"):
                return None
            plan[field.number] = ("timestamp", field, idx, _sibs(field))
            continue
        if field.kind is Kind.MESSAGE:
            sub_name = field.message.full_name
            # recursion (r10): under skip_recursive_messages the row
            # path PARSES the body (parse_into, full
            # validation) then prunes the converted subtree to ``()``.
            # The strict validator decodes the joined bodies purely for
            # error parity; raise-mode shapes keep the row path.
            if sub_name in trace:
                if not config.skip_recursive_messages:
                    return None
                validator = _strict_validator(field.message)
                if validator is None:
                    return None
                sub_decoders[idx] = validator
                plan[field.number] = ("rec", field, idx, _sibs(field))
                continue
            # non-Timestamp WKTs (r10): body slices collect exactly
            # like nested messages (concatenation == merge), then the
            # sub-decoded columns combine into the scalar cell form
            # (wrapper value / timedelta / date / nanos-of-day / ()).
            if sub_name in _SPLITTABLE_WKTS:
                sub = compile_wire_to_batch(
                    field.message, config, permissive, trace, registry
                )
                if sub is None:  # pragma: no cover — WKTs always compile
                    return None
                sub_decoders[idx] = sub
                item_wkt[idx] = field.message
                plan[field.number] = ("wkt", field, idx, _sibs(field))
                continue
            # plain nested messages (r9): occurrences collect body
            # slices; concatenation == protobuf's message merge, so the
            # joined bytes recursively batch-decode into the struct's
            # sub-columns.
            sub = compile_wire_to_batch(
                field.message, config, permissive, trace, registry
            )
            if sub is None:
                return None
            sub_decoders[idx] = sub
            plan[field.number] = ("nested", field, idx, _sibs(field))
            continue
        if field.kind not in (_VARINT_KINDS | set(_FIXED_WIDTH) | _LEN_KINDS):
            return None
        plan[field.number] = ("scalar", field, idx, _sibs(field))

    enum_name_mode = config.enum_type != "int"
    u64_decimal = config.uint64_type == "decimal"
    ts_long_nanos = config.timestamp_type == "long_nanos"
    map_as_list = config.map_as_list

    def decode_batch(cells: list) -> tuple:
        n = len(cells)
        bad = np.zeros(n, dtype=bool)
        if permissive:
            # the row path wraps bytes(cell) in its per-row try, so a
            # None or unconvertible cell nulls that row, not the batch
            norm = []
            for i, c in enumerate(cells):
                if c is None:
                    norm.append(b"")
                    bad[i] = True
                    continue
                try:
                    norm.append(bytes(c))
                except (TypeError, ValueError):
                    norm.append(b"")
                    bad[i] = True
        else:
            # strict: bytes(None) raises TypeError like the row path
            norm = [bytes(c) for c in cells]

        buf = np.frombuffer(b"".join(norm), dtype=np.uint8)
        lens = np.fromiter((len(c) for c in norm), dtype=np.int64, count=n)
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        cur = offsets[:-1].copy()
        rowend = offsets[1:].copy()

        # per-field accumulators
        raw_vals: dict[int, object] = {}
        seen: dict[int, object] = {}
        str_start: dict[int, object] = {}
        str_len: dict[int, object] = {}
        ts_sec: dict[int, object] = {}
        ts_nano: dict[int, object] = {}
        # repeated: (row_idx array, payload arrays) chunks in PARSE
        # order — a stable per-row sort at finalize reassembles each
        # row's element sequence exactly as the row path appended it
        rep_chunks: dict[int, list] = {}
        map_chunks: dict[int, list] = {}
        msg_chunks: dict[int, list] = {}
        repmsg_chunks: dict[int, list] = {}
        for number, (klass, field, idx, sibs) in plan.items():
            if klass in ("nested", "wkt", "rec"):
                # same slice-collection mechanics: occurrences join by
                # concatenation (== parse_into merge)
                msg_chunks[idx] = []
                seen[idx] = np.zeros(n, dtype=bool)
                continue
            if klass == "map":
                map_chunks[idx] = []
                continue
            if klass == "rep_msg":
                repmsg_chunks[idx] = []
                continue
            if klass == "repeated":
                rep_chunks[idx] = []
                continue
            if klass == "timestamp":
                ts_sec[idx] = np.zeros(n, dtype=np.int64)
                ts_nano[idx] = np.zeros(n, dtype=np.int64)
                seen[idx] = np.zeros(n, dtype=bool)
            elif field.kind in _LEN_KINDS:
                str_start[idx] = np.zeros(n, dtype=np.int64)
                str_len[idx] = np.zeros(n, dtype=np.int64)
                seen[idx] = np.zeros(n, dtype=bool)
            else:
                raw_vals[idx] = np.zeros(n, dtype=np.uint64)
                seen[idx] = np.zeros(n, dtype=bool)

        def fail(mask, message):
            """Translate row-local wire errors: permissive -> mark bad,
            strict -> raise like the row path aborts the task."""
            nonlocal bad
            if not mask.any():
                return
            if not permissive:
                raise ValueError(message)
            bad |= mask

        steps = 0
        # Upper bound on well-formed steps: every step consumes >= 2
        # bytes (tag + payload) for at least one active row, so a
        # stream of L bytes yields <= L steps; the cap below only
        # guards against a logic bug looping forever.
        max_steps = int(lens.max(initial=0)) + 2
        active = (cur < rowend) & ~bad
        while active.any():
            steps += 1
            if steps > max_steps:  # pragma: no cover - defensive
                raise Unvectorizable("decode step budget exceeded")
            tags, p, verr = _read_varints_at(buf, cur, rowend, active)
            fail(active & verr, "truncated or over-long tag varint")
            active &= ~verr
            cur = np.where(active, p, cur)
            for tag in np.unique(tags[active]) if active.any() else ():
                m = active & (tags == tag)
                fn = int(tag) >> 3
                wt = int(tag) & 7
                entry = plan.get(fn)
                if entry is None or fn == 0:
                    # field number 0 is invalid on the wire; the row
                    # path's handlers dict has no 0 key so it skips by
                    # wire type, same as any unknown field
                    p2, serr = _skip_at(buf, cur, rowend, m, wt)
                    fail(m & serr, f"cannot skip field {fn} wt {wt}")
                    ok = m & ~serr
                    cur = np.where(ok, p2, cur)
                    continue
                klass, field, idx, sibs = entry
                kind = field.kind
                if klass == "timestamp":
                    ln, p2, verr = _read_varints_at(buf, cur, rowend, m)
                    oob = np.zeros(n, dtype=bool)
                    mok = m & ~verr
                    lni = np.minimum(ln, np.uint64(1 << 62)).astype(np.int64)
                    oob[mok] = p2[mok] + lni[mok] > rowend[mok]
                    fail(m & (verr | oob), "truncated timestamp body")
                    mok = mok & ~oob
                    body_end = np.where(mok, p2 + lni, rowend)
                    # first occurrence resets [0, 0] (parse_into starts
                    # a fresh Timestamp); later occurrences merge
                    first = mok & ~seen[idx]
                    ts_sec[idx][first] = 0
                    ts_nano[idx][first] = 0
                    seen[idx] |= mok
                    # parse_into hands the Timestamp body a STRICT
                    # slice: a subfield read that overruns body_end
                    # raises rather than taking the next field's bytes
                    tcur = np.where(mok, p2, cur)
                    tact = mok & (tcur < body_end)
                    while tact.any():
                        ttags, tp, terr = _read_varints_at(
                            buf, tcur, body_end, tact
                        )
                        fail(tact & terr, "truncated timestamp subfield")
                        tact &= ~terr
                        mok &= ~terr
                        tcur = np.where(tact, tp, tcur)
                        for ttag in (
                            np.unique(ttags[tact]) if tact.any() else ()
                        ):
                            tm = tact & (ttags == ttag)
                            tfn = int(ttag) >> 3
                            twt = int(ttag) & 7
                            if tfn in (1, 2):
                                v, tp2, tverr = _read_varints_at(
                                    buf, tcur, body_end, tm
                                )
                                fail(tm & tverr, "truncated timestamp value")
                                tmok = tm & ~tverr
                                mok &= ~tverr
                                tcur = np.where(tmok, tp2, tcur)
                                if tfn == 1:
                                    ts_sec[idx][tmok] = v[tmok].view(np.int64)
                                else:
                                    low = (
                                        v & np.uint64(0xFFFFFFFF)
                                    ).astype(np.int64)
                                    nano32 = np.where(
                                        low >= (1 << 31), low - (1 << 32), low
                                    )
                                    ts_nano[idx][tmok] = nano32[tmok]
                            else:
                                tp2, tserr = _skip_at(
                                    buf, tcur, body_end, tm, twt
                                )
                                fail(
                                    tm & tserr,
                                    "unskippable timestamp subfield",
                                )
                                tmok = tm & ~tserr
                                mok &= ~tserr
                                tcur = np.where(tmok, tp2, tcur)
                        tact = mok & (tcur < body_end)
                    for s_idx in sibs:
                        seen[s_idx][mok] = False
                    cur = np.where(mok, body_end, cur)
                elif klass in ("nested", "wkt", "rec"):
                    # LEN slice per occurrence; slices CONCATENATE at
                    # finalize (wire concatenation == parse_into merge)
                    ln, p2, verr = _read_varints_at(buf, cur, rowend, m)
                    oob = np.zeros(n, dtype=bool)
                    mok = m & ~verr
                    lni = np.minimum(ln, np.uint64(1 << 62)).astype(np.int64)
                    oob[mok] = p2[mok] + lni[mok] > rowend[mok]
                    fail(m & (verr | oob), "truncated message body")
                    mok = mok & ~oob
                    idxs = np.flatnonzero(mok)
                    msg_chunks[idx].append(
                        (idxs, p2[idxs].copy(), lni[idxs].copy())
                    )
                    seen[idx] |= mok
                    for s_idx in sibs:
                        seen[s_idx][mok] = False
                    cur = np.where(mok, p2 + lni, cur)
                elif klass == "rep_msg":
                    # one standalone ITEM slice per occurrence (no
                    # merge — parse_into parses each into its own
                    # Message); stable per-row order restored at
                    # finalize like the scalar repeated chunks
                    ln, p2, verr = _read_varints_at(buf, cur, rowend, m)
                    oob = np.zeros(n, dtype=bool)
                    mok = m & ~verr
                    lni = np.minimum(ln, np.uint64(1 << 62)).astype(np.int64)
                    oob[mok] = p2[mok] + lni[mok] > rowend[mok]
                    fail(m & (verr | oob), "truncated repeated message")
                    mok = mok & ~oob
                    idxs = np.flatnonzero(mok)
                    repmsg_chunks[idx].append(
                        (idxs, p2[idxs].copy(), lni[idxs].copy())
                    )
                    cur = np.where(mok, p2 + lni, cur)
                elif klass == "map":
                    # one entry per occurrence: a bounded LEN slice the
                    # row path hands to parse_into (reads bounded by
                    # the SLICE), then dict-inserts (key, value)
                    entry_mt = field.message
                    key_f = entry_mt.fields_by_number[1]
                    val_f = entry_mt.fields_by_number[2]
                    val_is_msg = val_f.kind is Kind.MESSAGE
                    # message values: per-entry slice PIECES in parse
                    # order (concatenation == the entry parse's merge
                    # across repeated value occurrences)
                    v_pieces: list = []
                    ln, p2, verr = _read_varints_at(buf, cur, rowend, m)
                    oob = np.zeros(n, dtype=bool)
                    mok = m & ~verr
                    lni = np.minimum(ln, np.uint64(1 << 62)).astype(np.int64)
                    oob[mok] = p2[mok] + lni[mok] > rowend[mok]
                    fail(m & (verr | oob), "truncated map entry")
                    mok = mok & ~oob
                    body_end = np.where(mok, p2 + lni, cur)
                    # per-occurrence entry state; absent subfields keep
                    # zeros = the proto default (entry.key/.value reads)
                    k_u = np.zeros(n, dtype=np.uint64)
                    v_u = np.zeros(n, dtype=np.uint64)
                    k_st = np.zeros(n, dtype=np.int64)
                    k_ln = np.zeros(n, dtype=np.int64)
                    v_st = np.zeros(n, dtype=np.int64)
                    v_ln = np.zeros(n, dtype=np.int64)

                    def _read_sub(fkind, tm, tcur):
                        """one subfield payload bounded by the entry
                        slice -> (u, st, ln2, newcur, err)"""
                        if fkind in _LEN_KINDS:
                            l2, q, e = _read_varints_at(
                                buf, tcur, body_end, tm
                            )
                            o2 = np.zeros(n, dtype=bool)
                            tmk = tm & ~e
                            li = np.minimum(
                                l2, np.uint64(1 << 62)
                            ).astype(np.int64)
                            o2[tmk] = q[tmk] + li[tmk] > body_end[tmk]
                            return (
                                None,
                                q,
                                li,
                                np.where(tmk & ~o2, q + li, tcur),
                                e | o2,
                            )
                        if fkind in _FIXED_WIDTH:
                            v2, q, e = _read_fixed_at(
                                buf, tcur, body_end, tm, _FIXED_WIDTH[fkind]
                            )
                            return v2, None, None, q, e
                        v2, q, e = _read_varints_at(buf, tcur, body_end, tm)
                        return v2, None, None, q, e

                    tcur = np.where(mok, p2, cur)
                    tact = mok & (tcur < body_end)
                    while tact.any():
                        ttags, tp, terr = _read_varints_at(
                            buf, tcur, body_end, tact
                        )
                        fail(tact & terr, "truncated map entry tag")
                        tact &= ~terr
                        mok &= ~terr
                        tcur = np.where(tact, tp, tcur)
                        for ttag in (
                            np.unique(ttags[tact]) if tact.any() else ()
                        ):
                            tm = tact & (ttags == ttag)
                            tfn = int(ttag) >> 3
                            twt = int(ttag) & 7
                            if tfn == 2 and val_is_msg:
                                # LEN slice mechanics via the string
                                # reader; pieces accumulate per entry
                                v2, st2, ln2, tp2, e2 = _read_sub(
                                    Kind.STRING, tm, tcur
                                )
                                fail(tm & e2, "truncated map subfield")
                                tmok = tm & ~e2
                                mok &= ~e2
                                tcur = np.where(tmok, tp2, tcur)
                                pidx = np.flatnonzero(tmok)
                                v_pieces.append(
                                    (pidx, st2[pidx].copy(), ln2[pidx].copy())
                                )
                            elif tfn in (1, 2):
                                fkind = key_f.kind if tfn == 1 else val_f.kind
                                v2, st2, ln2, tp2, e2 = _read_sub(
                                    fkind, tm, tcur
                                )
                                fail(tm & e2, "truncated map subfield")
                                tmok = tm & ~e2
                                mok &= ~e2
                                tcur = np.where(tmok, tp2, tcur)
                                if tfn == 1:
                                    if st2 is not None:
                                        k_st[tmok] = st2[tmok]
                                        k_ln[tmok] = ln2[tmok]
                                    else:
                                        k_u[tmok] = v2[tmok]
                                else:
                                    if st2 is not None:
                                        v_st[tmok] = st2[tmok]
                                        v_ln[tmok] = ln2[tmok]
                                    else:
                                        v_u[tmok] = v2[tmok]
                            else:
                                tp2, tserr = _skip_at(
                                    buf, tcur, body_end, tm, twt
                                )
                                fail(tm & tserr, "unskippable map subfield")
                                tmok = tm & ~tserr
                                mok &= ~tserr
                                tcur = np.where(tmok, tp2, tcur)
                        tact = mok & (tcur < body_end)
                    idxs = np.flatnonzero(mok)
                    map_chunks[idx].append(
                        {
                            "rows": idxs,
                            "k_u": k_u[idxs],
                            "v_u": v_u[idxs],
                            "k_st": k_st[idxs],
                            "k_ln": k_ln[idxs],
                            "v_st": v_st[idxs],
                            "v_ln": v_ln[idxs],
                            "v_pieces": v_pieces,
                        }
                    )
                    cur = np.where(mok, body_end, cur)
                elif klass == "repeated":
                    if kind in _LEN_KINDS:
                        # expanded LEN occurrence (strings/bytes never
                        # pack — the row path reads one item per tag
                        # regardless of wt, so do we)
                        ln, p2, verr = _read_varints_at(buf, cur, rowend, m)
                        oob = np.zeros(n, dtype=bool)
                        mok = m & ~verr
                        lni = np.minimum(ln, np.uint64(1 << 62)).astype(
                            np.int64
                        )
                        oob[mok] = p2[mok] + lni[mok] > rowend[mok]
                        fail(m & (verr | oob), "truncated repeated LEN")
                        mok = mok & ~oob
                        idxs = np.flatnonzero(mok)
                        rep_chunks[idx].append(
                            (idxs, p2[idxs].copy(), lni[idxs].copy())
                        )
                        cur = np.where(mok, p2 + lni, cur)
                    elif wt == _WT_LEN:
                        # packed body: transposed inner loop, one
                        # element per iteration per still-active row.
                        # Reads are bounded by the ROW end (the row
                        # path's reader can overrun the declared stop
                        # mid-element and returns the ACTUAL final
                        # position, not a clamp — mirror both).
                        ln, p2, verr = _read_varints_at(buf, cur, rowend, m)
                        oob = np.zeros(n, dtype=bool)
                        mok = m & ~verr
                        lni = np.minimum(ln, np.uint64(1 << 62)).astype(
                            np.int64
                        )
                        oob[mok] = p2[mok] + lni[mok] > rowend[mok]
                        fail(m & (verr | oob), "truncated packed body")
                        mok = mok & ~oob
                        body_end = np.where(mok, p2 + lni, cur)
                        tcur = np.where(mok, p2, cur)
                        width = _FIXED_WIDTH.get(kind)
                        tact = mok & (tcur < body_end)
                        while tact.any():
                            if width is None:
                                v, tp, terr = _read_varints_at(
                                    buf, tcur, rowend, tact
                                )
                            else:
                                v, tp, terr = _read_fixed_at(
                                    buf, tcur, rowend, tact, width
                                )
                            fail(tact & terr, "truncated packed element")
                            tact &= ~terr
                            mok &= ~terr
                            idxs = np.flatnonzero(tact)
                            rep_chunks[idx].append((idxs, v[idxs].copy()))
                            tcur = np.where(tact, tp, tcur)
                            tact = mok & (tcur < body_end)
                        cur = np.where(mok, tcur, cur)
                    else:
                        # expanded numeric occurrence: single element
                        width = _FIXED_WIDTH.get(kind)
                        if width is None:
                            v, p2, verr = _read_varints_at(
                                buf, cur, rowend, m
                            )
                        else:
                            v, p2, verr = _read_fixed_at(
                                buf, cur, rowend, m, width
                            )
                        fail(m & verr, "truncated repeated element")
                        mok = m & ~verr
                        idxs = np.flatnonzero(mok)
                        rep_chunks[idx].append((idxs, v[idxs].copy()))
                        cur = np.where(mok, p2, cur)
                elif kind in _LEN_KINDS:
                    ln, p2, verr = _read_varints_at(buf, cur, rowend, m)
                    oob = np.zeros(n, dtype=bool)
                    mok = m & ~verr
                    lni = np.minimum(ln, np.uint64(1 << 62)).astype(np.int64)
                    oob[mok] = p2[mok] + lni[mok] > rowend[mok]
                    fail(m & (verr | oob), "truncated LEN payload")
                    mok = mok & ~oob
                    str_start[idx][mok] = p2[mok]
                    str_len[idx][mok] = lni[mok]
                    seen[idx] |= mok
                    for s_idx in sibs:
                        seen[s_idx][mok] = False
                    cur = np.where(mok, p2 + lni, cur)
                elif kind in _FIXED_WIDTH:
                    v, p2, ferr = _read_fixed_at(
                        buf, cur, rowend, m, _FIXED_WIDTH[kind]
                    )
                    fail(m & ferr, "truncated fixed-width payload")
                    mok = m & ~ferr
                    raw_vals[idx][mok] = v[mok]
                    seen[idx] |= mok
                    for s_idx in sibs:
                        seen[s_idx][mok] = False
                    cur = np.where(mok, p2, cur)
                else:  # varint family (readers ignore the observed wt,
                    # exactly like the row handlers)
                    v, p2, verr = _read_varints_at(buf, cur, rowend, m)
                    fail(m & verr, "truncated varint payload")
                    mok = m & ~verr
                    raw_vals[idx][mok] = v[mok]
                    seen[idx] |= mok
                    for s_idx in sibs:
                        seen[s_idx][mok] = False
                    cur = np.where(mok, p2, cur)
            active = (cur < rowend) & ~bad

        # ---- finalize columns (field order) -----------------------------
        # Pass 1: strings decode first so UnicodeDecodeError can still
        # grow ``bad`` before other columns apply their null masks.
        import pandas as pd

        raw_bytes = buf.tobytes()  # one copy; python-bytes slicing is
        # far cheaper per cell than ndarray.tobytes()

        def _subcell(col, i):
            v = col.iloc[i] if isinstance(col, pd.Series) else col[i]
            return None if v is pd.NaT else v

        def _decode_msg_items(idx, bodies, item_rows):
            """Flat message-item bodies -> python cell per item (tuple
            for plain messages, scalar form for WKT items). A failed
            item nulls its whole ROW — the row path's per-row
            try/except wraps the full repeated/map handler."""
            m = len(bodies)
            if m == 0:
                return []
            sub_cols, sub_bad = sub_decoders[idx](bodies)
            dead = np.zeros(m, dtype=bool)
            if sub_bad is not None and sub_bad.any():
                dead = sub_bad.astype(bool)
                bad[item_rows[dead]] = True
            wmt = item_wkt.get(idx)
            if wmt == "rec":
                # validated then pruned: the row converter maps every
                # parsed recursive item/value to the empty struct
                return [None if dead[k] else () for k in range(m)]
            if wmt is None:
                return [
                    None
                    if dead[k]
                    else tuple(_subcell(c, k) for c in sub_cols)
                    for k in range(m)
                ]
            cells = _wkt_item_cells(wmt, sub_cols, m, ~dead, config)
            out = []
            for k in range(m):
                v = cells[k]
                if v is _WKT_CELL_ERROR and not dead[k]:
                    # per-item conversion failure (datetime.date
                    # ValueError) — the contracted error channel
                    if not permissive:
                        raise ValueError("invalid date components")
                    bad[item_rows[k]] = True
                    v = None
                out.append(None if dead[k] else v)
            return out
        str_cells: dict[int, list] = {}
        for idx, field in enumerate(fields):
            if (
                field.kind not in _LEN_KINDS
                or field.repeated
                or _is_timestamp_field(field)
            ):
                continue
            st, ln, sk = str_start[idx], str_len[idx], seen[idx]
            out: list = [None] * n
            if field.kind is Kind.STRING:
                for i in np.flatnonzero(sk & ~bad):
                    data = raw_bytes[st[i] : st[i] + ln[i]]
                    try:
                        out[i] = data.decode("utf-8")
                    except UnicodeDecodeError:
                        # ValueError subclass: permissive nulls the
                        # row, strict aborts — same as the row path
                        if not permissive:
                            raise
                        bad[i] = True
            else:
                for i in np.flatnonzero(sk & ~bad):
                    out[i] = raw_bytes[st[i] : st[i] + ln[i]]
            str_cells[idx] = out

        # Pass 1b: repeated fields — reassemble each row's element
        # sequence (stable sort keeps parse/append order within a row),
        # decode LEN payloads (may still grow ``bad``, so this runs
        # BEFORE any null mask is applied), convert numeric raws.
        rep_ready: dict[int, tuple] = {}
        for number, (klass, field, idx, sibs) in plan.items():
            if klass != "repeated":
                continue
            chunks = rep_chunks[idx]
            kind = field.kind
            if kind in _LEN_KINDS:
                rows_all = (
                    np.concatenate([c[0] for c in chunks])
                    if chunks
                    else np.zeros(0, dtype=np.int64)
                )
                order = np.argsort(rows_all, kind="stable")
                rows_s = rows_all[order]
                starts = (
                    np.concatenate([c[1] for c in chunks])[order]
                    if chunks
                    else rows_all
                )
                lens_ = (
                    np.concatenate([c[2] for c in chunks])[order]
                    if chunks
                    else rows_all
                )
                elems: list = [None] * len(rows_s)
                for k in range(len(rows_s)):
                    i = rows_s[k]
                    if bad[i]:
                        continue
                    data = raw_bytes[starts[k] : starts[k] + lens_[k]]
                    if kind is Kind.STRING:
                        try:
                            elems[k] = data.decode("utf-8")
                        except UnicodeDecodeError:
                            if not permissive:
                                raise
                            bad[i] = True
                    else:
                        elems[k] = data
                rep_ready[idx] = (rows_s, elems)
            else:
                rows_all = (
                    np.concatenate([c[0] for c in chunks])
                    if chunks
                    else np.zeros(0, dtype=np.int64)
                )
                vals_all = (
                    np.concatenate([c[1] for c in chunks])
                    if chunks
                    else np.zeros(0, dtype=np.uint64)
                )
                order = np.argsort(rows_all, kind="stable")
                rows_s = rows_all[order]
                u = vals_all[order]
                live = ~bad[rows_s] if len(rows_s) else np.zeros(0, dtype=bool)
                vals = _convert_numeric(
                    kind, u, live, field, enum_name_mode, u64_decimal
                )
                rep_ready[idx] = (rows_s, vals)

        # Pass 1c: map fields — reassemble entries (stable sort keeps
        # parse order per row), decode string keys/values (may grow
        # ``bad``), convert numeric raws.
        map_ready: dict[int, tuple] = {}
        for number, (klass, field, idx, sibs) in plan.items():
            if klass != "map":
                continue
            chunks = map_chunks[idx]
            entry_mt = field.message
            rows_all = (
                np.concatenate([c["rows"] for c in chunks])
                if chunks
                else np.zeros(0, dtype=np.int64)
            )
            order = np.argsort(rows_all, kind="stable")
            rows_s = rows_all[order]

            def _prep_side(fld, u_key, st_key, ln_key):
                fkind = fld.kind
                if fkind in _LEN_KINDS:
                    sts = (
                        np.concatenate([c[st_key] for c in chunks])[order]
                        if chunks
                        else rows_all
                    )
                    lns = (
                        np.concatenate([c[ln_key] for c in chunks])[order]
                        if chunks
                        else rows_all
                    )
                    elems: list = [None] * len(rows_s)
                    for k in range(len(rows_s)):
                        i = rows_s[k]
                        if bad[i]:
                            continue
                        data = raw_bytes[sts[k] : sts[k] + lns[k]]
                        if fkind is Kind.STRING:
                            try:
                                elems[k] = data.decode("utf-8")
                            except UnicodeDecodeError:
                                if not permissive:
                                    raise
                                bad[i] = True
                        else:
                            elems[k] = data
                    return elems
                u = (
                    np.concatenate([c[u_key] for c in chunks])[order]
                    if chunks
                    else np.zeros(0, dtype=np.uint64)
                )
                live = ~bad[rows_s] if len(rows_s) else np.zeros(0, dtype=bool)
                return _convert_numeric(
                    fkind, u, live, fld, enum_name_mode, u64_decimal
                )

            kv = _prep_side(entry_mt.fields_by_number[1], "k_u", "k_st", "k_ln")
            if idx in sub_decoders:
                # message values: join each entry's value pieces (merge
                # across repeated value occurrences inside one entry),
                # then decode all entry values as one flat item batch
                bodies_all: list = []
                for c in chunks:
                    rpos = {int(r): k for k, r in enumerate(c["rows"])}
                    parts: list = [b""] * len(c["rows"])
                    for pidx, sts, lns in c["v_pieces"]:
                        for k in range(len(pidx)):
                            j = rpos.get(int(pidx[k]))
                            if j is None:
                                continue  # piece of a row that later failed
                            piece = raw_bytes[sts[k] : sts[k] + lns[k]]
                            parts[j] = parts[j] + piece if parts[j] else piece
                    bodies_all.extend(parts)
                bodies_all = [bodies_all[k] for k in order]
                vv = _decode_msg_items(idx, bodies_all, rows_s)
            else:
                vv = _prep_side(
                    entry_mt.fields_by_number[2], "v_u", "v_st", "v_ln"
                )
            map_ready[idx] = (rows_s, kv, vv)

        # Pass 1c2: repeated messages — restore per-row item order
        # (stable sort), decode every item body through the recursive
        # batch decoder, one python cell per item.
        repmsg_ready: dict[int, tuple] = {}
        for number, (klass, field, idx, sibs) in plan.items():
            if klass != "rep_msg":
                continue
            chunks = repmsg_chunks[idx]
            rows_all = (
                np.concatenate([c[0] for c in chunks])
                if chunks
                else np.zeros(0, dtype=np.int64)
            )
            order = np.argsort(rows_all, kind="stable")
            rows_s = rows_all[order]
            starts = (
                np.concatenate([c[1] for c in chunks])[order]
                if chunks
                else rows_all
            )
            lens_ = (
                np.concatenate([c[2] for c in chunks])[order]
                if chunks
                else rows_all
            )
            bodies = [
                raw_bytes[starts[k] : starts[k] + lens_[k]]
                for k in range(len(rows_s))
            ]
            repmsg_ready[idx] = (rows_s, _decode_msg_items(idx, bodies, rows_s))

        # Pass 1d: nested messages — join each row's body slices
        # (concatenation == merge) and recursively batch-decode; inner
        # parse failures grow ``bad`` exactly like the row path's
        # in-parse raise nulls the row.
        msg_ready: dict[int, tuple] = {}
        wkt_ready: dict[int, tuple] = {}
        rec_idx: set[int] = set()
        for number, (klass, field, idx, sibs) in plan.items():
            if klass not in ("nested", "wkt", "rec"):
                continue
            sk = seen[idx]
            bodies: list = [b""] * n
            for rows_c, sts, lns in msg_chunks[idx]:
                for k in range(len(rows_c)):
                    i = rows_c[k]
                    if sk[i] and not bad[i]:
                        piece = raw_bytes[sts[k] : sts[k] + lns[k]]
                        bodies[i] = bodies[i] + piece if bodies[i] else piece
            if klass == "rec":
                # validation-only: the row path parses the recursive
                # subtree (parse_into) then prunes it to ().
                # Only call the (self-referential) validator when some
                # body is non-empty — recursion then bottoms out at the
                # DATA depth, like parse_into's nested parse.
                if any(bodies):
                    _, sub_bad = sub_decoders[idx](bodies)
                    if sub_bad is not None and sub_bad.any():
                        bad |= sub_bad
                rec_idx.add(idx)
                continue
            sub_cols, sub_bad = sub_decoders[idx](bodies)
            if sub_bad is not None and sub_bad.any():
                bad |= sub_bad
            if klass == "nested":
                msg_ready[idx] = sub_cols
            else:  # wkt: combine sub-columns into the scalar cell form
                live = sk & ~bad
                form, payload = _wkt_values(
                    item_wkt[idx], sub_cols, n, live, config
                )
                if form == "list":
                    for i2 in np.flatnonzero(live):
                        if payload[i2] is _WKT_CELL_ERROR:
                            if not permissive:
                                raise ValueError("invalid date components")
                            bad[i2] = True
                            payload[i2] = None
                wkt_ready[idx] = (form, payload)

        columns: list = []

        for idx, field in enumerate(fields):
            kind = field.kind
            if idx in msg_ready:
                sub_cols = msg_ready[idx]
                sk = seen[idx]
                out = [
                    None
                    if (not sk[i] or bad[i])
                    else tuple(_subcell(c, i) for c in sub_cols)
                    for i in range(n)
                ]
                columns.append(out)
                continue
            if idx in rec_idx:
                # parsed-and-pruned recursive subtree: () when present
                sk = seen[idx]
                columns.append(
                    [
                        None if (not sk[i] or bad[i]) else ()
                        for i in range(n)
                    ]
                )
                continue
            if idx in wkt_ready:
                form, payload = wkt_ready[idx]
                sk = seen[idx]
                mask = ~sk | bad
                if form == "obj":
                    col = payload.astype(object)
                    col[mask] = None
                    columns.append(col)
                elif form == "td64us":
                    arr = payload.astype("timedelta64[us]")
                    if mask.any():
                        arr[mask] = np.timedelta64("NaT")
                    columns.append(pd.Series(arr))
                elif form == "empty":
                    columns.append(
                        [None if mask[i] else () for i in range(n)]
                    )
                elif form == "list":
                    columns.append(
                        [None if mask[i] else payload[i] for i in range(n)]
                    )
                else:  # "col": wrapper value pass-through
                    if isinstance(payload, np.ndarray):
                        col = payload.astype(object)
                    else:
                        col = np.empty(len(payload), dtype=object)
                        col[:] = payload
                    col[mask] = None
                    columns.append(col)
                continue
            if idx in repmsg_ready:
                rows_s, cells = repmsg_ready[idx]
                out = [None if bad[i] else [] for i in range(n)]
                for k in range(len(rows_s)):
                    cell = out[rows_s[k]]
                    if cell is not None:
                        cell.append(cells[k])
                columns.append(out)
                continue
            if field.is_map:
                rows_s, kv, vv = map_ready[idx]
                # never-seen rows finalize to the empty map ({} / []),
                # like the row path's empty map; entries dict-insert
                # in parse order (same-key overwrite keeps the first
                # position — python dict semantics, both paths)
                out = [None if bad[i] else {} for i in range(n)]
                for k in range(len(rows_s)):
                    cell = out[rows_s[k]]
                    if cell is not None:
                        cell[kv[k]] = vv[k]
                if map_as_list:
                    out = [
                        None if c is None else list(c.items()) for c in out
                    ]
                columns.append(out)
                continue
            if field.repeated:
                rows_s, elems = rep_ready[idx]
                # missing/empty both finalize to [] like the row path
                out = [None if bad[i] else [] for i in range(n)]
                if kind in _LEN_KINDS:
                    for k in range(len(rows_s)):
                        cell = out[rows_s[k]]
                        if cell is not None:
                            cell.append(elems[k])
                else:
                    counts = np.bincount(rows_s, minlength=n)
                    pos = 0
                    for i in range(n):
                        c = int(counts[i])
                        if c and out[i] is not None:
                            out[i] = elems[pos : pos + c].tolist()
                        pos += c
                columns.append(out)
                continue
            if _is_timestamp_field(field):
                sk = seen[idx]
                null_mask = ~sk | bad
                sec, nano = ts_sec[idx], ts_nano[idx]
                if ts_long_nanos:
                    # the row path computes sec*1e9 + nano in unbounded
                    # Python ints; int64 would wrap past ~292 years of
                    # nanos, so hand those rows back to the row path
                    if (np.abs(sec[sk & ~bad]) > 9_200_000_000).any():
                        raise Unvectorizable("long_nanos overflow risk")
                    vals = sec * 1_000_000_000 + nano
                    col = vals.astype(object)
                    col[null_mask] = None
                    columns.append(col)
                else:
                    us = sec * 1_000_000 + np.floor_divide(nano, 1_000)
                    live = sk & ~bad
                    over = live & (
                        (sec > 260_000_000_000)
                        | (sec < -260_000_000_000)
                        | (us < _DT_US_MIN)
                        | (us > _DT_US_MAX)
                    )
                    if over.any():
                        # row path: datetime arithmetic OverflowError,
                        # uncaught in BOTH modes
                        raise OverflowError("timestamp out of datetime range")
                    # stay a datetime64[us, UTC] Series (NaT = null):
                    # object-boxing 32k pd.Timestamps costs more than
                    # the whole wire parse. NaT goes into the numpy
                    # array BEFORE the Series wrap (assigning into a
                    # .dt-derived Series is silently discarded).
                    arr = us.astype("datetime64[us]")
                    if null_mask.any():
                        arr[null_mask] = np.datetime64("NaT")
                    ser = pd.Series(arr).dt.tz_localize("UTC")
                    columns.append(ser)
                continue
            if kind in _LEN_KINDS:
                sk = seen[idx]
                out = str_cells[idx]
                if not field.has_presence:
                    default = "" if kind is Kind.STRING else b""
                    for i in np.flatnonzero(~sk & ~bad):
                        out[i] = default
                columns.append(out)
                continue
            u = raw_vals[idx]
            sk = seen[idx]
            live = sk & ~bad
            vals = _convert_numeric(
                kind, u, live, field, enum_name_mode, u64_decimal
            )
            null_mask = bad if not field.has_presence else (~sk | bad)
            if null_mask.any():
                col = vals.astype(object)
                col[null_mask] = None
                columns.append(col)
            else:
                # unseen no-presence rows already hold the kind's zero
                columns.append(vals)
        # bad rows: null every LEN/string cell too (numeric/timestamp
        # columns handled their masks above)
        if bad.any():
            for idx in str_cells:
                out = str_cells[idx]
                for i in np.flatnonzero(bad):
                    out[i] = None
        return columns, (bad if permissive else None)

    return decode_batch
