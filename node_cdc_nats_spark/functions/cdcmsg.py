"""CDCMsg protobuf wire codec — pure Python, no dependencies.

The reference encodes/decodes a protobuf ``CDCMsg`` with protobufjs
(`lib/nats.js:88-90` decode, `examples/cdc-pub.js:42` encode); the message
type comes from the external ``node-cdc-proto`` package whose .proto is not
in the reference tree, so field NUMBERS here are an assumption (1..8 in the
declaration order visible at `examples/cdc-pub.js:31-40`). The wire format
itself is the public protobuf encoding: varint keys ``(field << 3) | type``,
type 0 varints for int32/bool, type 2 length-delimited for string/bytes.

Spark integration is Arrow-vectorized (`pandas_udf` over binary columns) —
encode/decode are per-row projections, map-side only, no shuffle at any
scale. Like protobufjs, zero-valued scalar fields are omitted on encode and
default on decode, so roundtrips are canonical and the engine's encoder is
byte-stable for hashing.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

DECODED_SCHEMA = (
    "publisher string, channel string, contentType string, protocol string, "
    "reply string, QOS int, retain boolean, payload binary"
)


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


def decode_cdcmsg(data: bytes) -> dict:
    """Decode protobuf wire bytes into a CDCMsg dict (defaults filled).

    The same flat shape as the ``nats_cdc`` readers' decoder: inlined
    varints and positional field dispatch. Unknown field numbers are
    consumed and dropped; wire types other than varint (0) and
    length-delimited (2) are refused, because misreading a fixed32/fixed64
    field would shift the cursor and corrupt every later field."""
    pub = ch = ct = pr = rp = ""
    qos = 0
    ret = False
    pay = b""
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        i += 1
        key = b & 0x7F
        shift = 7
        while b & 0x80:
            b = data[i]
            i += 1
            key |= (b & 0x7F) << shift
            shift += 7
        num = key >> 3
        wtype = key & 7
        if wtype == 2:
            b = data[i]
            i += 1
            ln = b & 0x7F
            shift = 7
            while b & 0x80:
                b = data[i]
                i += 1
                ln |= (b & 0x7F) << shift
                shift += 7
            val = data[i : i + ln]
            i += ln
            if num == 8:
                pay = bytes(val)
            elif num == 1:
                pub = val.decode("utf-8")
            elif num == 2:
                ch = val.decode("utf-8")
            elif num == 3:
                ct = val.decode("utf-8")
            elif num == 4:
                pr = val.decode("utf-8")
            elif num == 5:
                rp = val.decode("utf-8")
        elif wtype == 0:
            b = data[i]
            i += 1
            v = b & 0x7F
            shift = 7
            while b & 0x80:
                b = data[i]
                i += 1
                v |= (b & 0x7F) << shift
                shift += 7
            if num == 6:
                qos = v
            elif num == 7:
                ret = bool(v)
        else:
            raise ValueError(f"unsupported wire type {wtype}")
    return {
        "publisher": pub, "channel": ch, "contentType": ct, "protocol": pr,
        "reply": rp, "QOS": qos, "retain": ret, "payload": pay,
    }


def decode_col(col: Column) -> Column:
    """Arrow-vectorized CDCMsg decode of a binary column → struct column."""

    @F.pandas_udf(DECODED_SCHEMA)
    def _decode(series):
        # Self-contained (executors lack the repo on sys.path): re-declare
        # the tiny decoder inside the closure.
        import pandas as pd

        def dec(data):
            msg = {
                "publisher": "", "channel": "", "contentType": "",
                "protocol": "", "reply": "", "QOS": 0, "retain": False,
                "payload": b"",
            }
            kinds = {
                1: ("publisher", "str"), 2: ("channel", "str"),
                3: ("contentType", "str"), 4: ("protocol", "str"),
                5: ("reply", "str"), 6: ("QOS", "varint"),
                7: ("retain", "bool"), 8: ("payload", "bytes"),
            }
            i, n = 0, len(data)

            def varint():
                nonlocal i
                shift = res = 0
                while True:
                    b = data[i]
                    i += 1
                    res |= (b & 0x7F) << shift
                    if not b & 0x80:
                        return res
                    shift += 7

            while i < n:
                key = varint()
                num, wtype = key >> 3, key & 0x07
                if wtype == 0:
                    val = varint()
                elif wtype == 2:
                    ln = varint()
                    val = data[i : i + ln]
                    i += ln
                else:
                    # fixed64 (1) / fixed32 (5) / groups never appear in a
                    # CDCMsg; treating them as length-delimited would shift
                    # the cursor and silently misparse every later field —
                    # mirror decode_cdcmsg and refuse the message instead.
                    raise ValueError(f"unsupported wire type {wtype}")
                if num in kinds:
                    name, kind = kinds[num]
                    if kind == "str":
                        msg[name] = val.decode("utf-8")
                    elif kind == "bytes":
                        msg[name] = bytes(val)
                    elif kind == "bool":
                        msg[name] = bool(val)
                    else:
                        msg[name] = val
            return msg

        rows = [dec(bytes(b)) for b in series]
        return pd.DataFrame(rows)

    return _decode(col)


def encode_col(struct: Column) -> Column:
    """Arrow-vectorized CDCMsg encode of a struct column → binary column.
    The struct must carry the eight envelope fields by name."""

    @F.pandas_udf("binary")
    def _encode(pdf):
        import pandas as pd

        def varint_bytes(n):
            out = bytearray()
            while True:
                b = n & 0x7F
                n >>= 7
                if n:
                    out.append(b | 0x80)
                else:
                    out.append(b)
                    return bytes(out)

        def enc(row):
            out = bytearray()
            for num, name, kind in (
                (1, "publisher", "str"), (2, "channel", "str"),
                (3, "contentType", "str"), (4, "protocol", "str"),
                (5, "reply", "str"), (6, "QOS", "varint"),
                (7, "retain", "bool"), (8, "payload", "bytes"),
            ):
                value = row[name]
                if kind in ("str", "bytes"):
                    if value is not None and len(value) != 0:
                        data = value.encode("utf-8") if isinstance(value, str) else bytes(value)
                        out += varint_bytes((num << 3) | 2)
                        out += varint_bytes(len(data))
                        out += data
                else:
                    iv = int(value) if value is not None else 0
                    if iv:
                        out += varint_bytes((num << 3) | 0)
                        out += varint_bytes(iv)
            return bytes(out)

        # to_dict("records") beats iterrows ~10× (no per-row Series alloc).
        return pd.Series([enc(row) for row in pdf.to_dict("records")])

    return _encode(struct)
