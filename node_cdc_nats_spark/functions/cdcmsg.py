"""CDCMsg protobuf wire codec — pure Python, no dependencies.

The reference encodes/decodes a protobuf ``CDCMsg`` with protobufjs
(`lib/nats.js:88-90` decode, `examples/cdc-pub.js:42` encode); the message
type comes from the external ``node-cdc-proto`` package whose .proto is not
in the reference tree, so field NUMBERS here are an assumption (1..8 in the
declaration order visible at `examples/cdc-pub.js:31-40`). The wire format
itself is the public protobuf encoding: varint keys ``(field << 3) | type``,
type 0 varints for int32/bool, type 2 length-delimited for string/bytes.

This module is the only place that knows that layout. It has one decoder,
``decode_fields`` (``decode_cdcmsg`` is a dict over it), and two encoders:
the scalar ``encode_cdcmsg`` for the client facade and the columnar
``encode_columns`` for Arrow batches and pandas columns. Like protobufjs,
zero-valued scalar fields are omitted on encode and default on decode, so
roundtrips are canonical and the encoders are byte-stable for hashing.

The code here runs on Spark's Python workers (the ``encode_col``/
``decode_col`` pandas UDFs and the ``nats_cdc`` connector), which do not
have this package on ``sys.path``. The module is therefore registered with
cloudpickle to be pickled by value: functions and classes defined here are
shipped inside the task, not imported by name on the worker.
"""

from __future__ import annotations

import sys

from pyspark import cloudpickle
from pyspark.sql import Column, functions as F

from .zipcache import gate_zip_rereads

cloudpickle.register_pickle_by_value(sys.modules[__name__])

# The CDCMsg fields in field-number order (field k is FIELDS[k - 1]) and
# their Spark SQL types. The SQL type also fixes the wire type: int and
# boolean are varints, string and binary are length-delimited.
FIELDS = ("publisher", "channel", "contentType", "protocol", "reply", "QOS", "retain", "payload")
_SQL_TYPES = ("string", "string", "string", "string", "string", "int", "boolean", "binary")
DECODED_SCHEMA = ", ".join(f"{name} {sql}" for name, sql in zip(FIELDS, _SQL_TYPES))


def decoded_arrow_schema():
    """``DECODED_SCHEMA`` as a pyarrow schema."""
    import pyarrow as pa

    types = {"string": pa.string(), "int": pa.int32(), "boolean": pa.bool_(), "binary": pa.binary()}
    return pa.schema([(name, types[sql]) for name, sql in zip(FIELDS, _SQL_TYPES)])


# One-byte varints, precomputed: every length below 128 (the channel, the
# constant envelope fields, short payloads) is a table lookup.
_LEN1 = tuple(bytes((n,)) for n in range(128))


def _varint(n: int) -> bytes:
    """Protobuf base-128 varint of a non-negative int."""
    if 0 <= n < 128:
        return _LEN1[n]
    out = bytearray()
    while n > 0x7F:
        out.append(n & 0x7F | 0x80)
        n >>= 7
    out.append(n)  # a negative n raises here
    return bytes(out)


def encode_cdcmsg(
    publisher: bytes | str,
    channel: str,
    content_type: str,
    protocol: str,
    reply: str,
    qos: int,
    retain: bool,
    payload: bytes,
) -> bytes:
    """Encode one CDCMsg to protobuf wire bytes (plain-Python entry point,
    used by the client facade and tests). String fields may also be passed
    as bytes. Straight-line on purpose: each field is its precomputed key
    byte ``(field << 3) | type``, its length and its data, and the message
    is one ``b"".join``."""
    parts: list = []
    if publisher:
        data = publisher.encode("utf-8") if isinstance(publisher, str) else publisher
        n = len(data)
        parts += (b"\x0a", _LEN1[n] if n < 128 else _varint(n), data)
    if channel:
        data = channel.encode("utf-8") if isinstance(channel, str) else channel
        n = len(data)
        parts += (b"\x12", _LEN1[n] if n < 128 else _varint(n), data)
    if content_type:
        data = content_type.encode("utf-8") if isinstance(content_type, str) else content_type
        n = len(data)
        parts += (b"\x1a", _LEN1[n] if n < 128 else _varint(n), data)
    if protocol:
        data = protocol.encode("utf-8") if isinstance(protocol, str) else protocol
        n = len(data)
        parts += (b"\x22", _LEN1[n] if n < 128 else _varint(n), data)
    if reply:
        data = reply.encode("utf-8") if isinstance(reply, str) else reply
        n = len(data)
        parts += (b"\x2a", _LEN1[n] if n < 128 else _varint(n), data)
    qos = int(qos)
    if qos:
        parts += (b"\x30", _varint(qos))
    retain = int(retain)
    if retain:
        parts += (b"\x38", _varint(retain))
    if payload:
        data = bytes(payload)
        n = len(data)
        parts += (b"\x42", _LEN1[n] if n < 128 else _varint(n), data)
    return b"".join(parts)


def encode_columns(columns: dict, n: int) -> list[bytes]:
    """Encode ``n`` CDCMsgs given column-wise: ``columns`` maps field names
    to equal-length lists of Python values. A field missing from
    ``columns``, and a None or zero cell, is omitted from the wire, as
    ``encode_cdcmsg`` omits a default value; the output is byte-identical
    to ``encode_cdcmsg`` row by row.

    Each field's wire segment (key + length varint + data) is rendered once
    per distinct value per call and reused: the envelope's constant fields
    (publisher, contentType, protocol) hit the cache on every row,
    low-cardinality columns (channel) almost always, and unique payloads
    cost one extra dict probe. The cache lives for one call, so its memory
    is bounded by the batch."""
    segs = []
    for num, (name, sql) in enumerate(zip(FIELDS, _SQL_TYPES), 1):
        col = columns.get(name)
        if col is None:
            continue
        if sql in ("int", "boolean"):
            key = _LEN1[num << 3]
            # Gate on the integer, as encode_cdcmsg does: a value whose
            # int() is 0 (0.5, "0") is omitted.
            segs.append([key + _varint(int(v)) if v and int(v) else b"" for v in col])
            continue
        key = _LEN1[(num << 3) | 2]
        cache: dict = {}
        get = cache.get
        seg = []
        ap = seg.append
        for v in col:
            if not v:
                ap(b"")
                continue
            s = get(v)
            if s is None:
                data = v.encode("utf-8") if isinstance(v, str) else bytes(v)
                s = cache[v] = key + _varint(len(data)) + data
            ap(s)
        segs.append(seg)
    if not segs:
        return [b""] * n
    return [b"".join(parts) for parts in zip(*segs)]


def decode_fields(data: bytes) -> tuple:
    """Decode protobuf wire bytes into the CDCMsg field values, a tuple in
    ``FIELDS`` order with defaults filled; ``payload`` is a slice of
    ``data``.

    A flat loop with inlined varints, no per-message dict or closure.
    Every key and length varint is tested for a one-byte value first, and
    fields dispatch on the whole key byte ``(field << 3) | type``, so a
    known field number that arrives with the wrong wire type is skipped
    like an unknown field. Unknown fields are consumed and dropped; wire
    types other than varint (0) and length-delimited (2) are refused,
    because misreading a fixed32/fixed64 field would shift the cursor and
    corrupt every later field."""
    pub = ch = ct = pr = rp = ""
    qos = 0
    ret = False
    pay = b""
    i, n = 0, len(data)
    while i < n:
        key = data[i]
        i += 1
        if key & 0x80:
            key &= 0x7F
            shift = 7
            b = 0x80
            while b & 0x80:
                b = data[i]
                i += 1
                key |= (b & 0x7F) << shift
                shift += 7
        wtype = key & 7
        if wtype == 2:
            ln = data[i]
            i += 1
            if ln & 0x80:
                ln &= 0x7F
                shift = 7
                b = 0x80
                while b & 0x80:
                    b = data[i]
                    i += 1
                    ln |= (b & 0x7F) << shift
                    shift += 7
            val = data[i : i + ln]
            i += ln
            if key == 0x42:
                pay = val
            elif key == 0x0A:
                pub = val.decode("utf-8")
            elif key == 0x12:
                ch = val.decode("utf-8")
            elif key == 0x1A:
                ct = val.decode("utf-8")
            elif key == 0x22:
                pr = val.decode("utf-8")
            elif key == 0x2A:
                rp = val.decode("utf-8")
        elif wtype == 0:
            v = data[i]
            i += 1
            if v & 0x80:
                v &= 0x7F
                shift = 7
                b = 0x80
                while b & 0x80:
                    b = data[i]
                    i += 1
                    v |= (b & 0x7F) << shift
                    shift += 7
            if key == 0x30:
                qos = v
            elif key == 0x38:
                ret = bool(v)
        else:
            raise ValueError(f"unsupported wire type {wtype}")
    return pub, ch, ct, pr, rp, qos, ret, pay


def decode_cdcmsg(data: bytes) -> dict:
    """Decode protobuf wire bytes into a CDCMsg dict (defaults filled);
    ``payload`` is ``bytes`` whatever bytes-like type ``data`` is."""
    pub, ch, ct, pr, rp, qos, ret, pay = decode_fields(data)
    return {
        "publisher": pub, "channel": ch, "contentType": ct, "protocol": pr,
        "reply": rp, "QOS": qos, "retain": ret, "payload": bytes(pay),
    }


def decode_col(col: Column) -> Column:
    """Arrow-vectorized CDCMsg decode of a binary column → struct column."""

    @F.pandas_udf(DECODED_SCHEMA)
    def _decode(series):
        gate_zip_rereads()
        import pandas as pd

        return pd.DataFrame([decode_fields(b) for b in series], columns=FIELDS)

    return _decode(col)


def encode_col(struct: Column) -> Column:
    """Arrow-vectorized CDCMsg encode of a struct column → binary column.
    The struct must carry the eight envelope fields by name."""

    @F.pandas_udf("binary")
    def _encode(pdf):
        gate_zip_rereads()
        import pandas as pd

        cols = {}
        for f in FIELDS:
            s = pdf[f]
            # pandas turns a nullable int column holding a NULL into float64
            # NaN; as None the field is omitted, as encode_cdcmsg omits it.
            cols[f] = (s.astype(object).where(s.notna(), None) if s.hasnans else s).tolist()
        return pd.Series(encode_columns(cols, len(pdf)), dtype=object)

    return _encode(struct)
