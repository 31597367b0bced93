"""The straight-line scalar CDCMsg codec against a plain per-field
reference codec kept here, so any byte the fast paths change shows up, and
the columnar encoder against the scalar one.

The reference encoder below is the loop-per-field form the codec had
before its fast paths (varint helper, one ``bytearray``); the reference
decoder is its generic key/wire-type walk. Both follow the public protobuf
wire spec and the engine's field numbering (1..8, module docstring of
``functions/cdcmsg.py``).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from node_cdc_nats_spark.functions.cdcmsg import decode_cdcmsg, encode_cdcmsg, encode_columns

NAMES = ("publisher", "channel", "contentType", "protocol", "reply", "QOS", "retain", "payload")
ZERO = ("", "", "", "", "", 0, False, b"")  # every field at its default


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def reference_encode(publisher, channel, content_type, protocol, reply, qos, retain, payload) -> bytes:
    out = bytearray()
    for num, kind, value in (
        (1, "str", publisher), (2, "str", channel), (3, "str", content_type),
        (4, "str", protocol), (5, "str", reply), (6, "varint", qos),
        (7, "bool", retain), (8, "bytes", payload),
    ):
        if kind in ("str", "bytes"):
            if value:
                data = value.encode("utf-8") if isinstance(value, str) else bytes(value)
                out += _varint((num << 3) | 2) + _varint(len(data)) + data
        elif int(value):
            out += _varint(num << 3) + _varint(int(value))
    return bytes(out)


def reference_decode(data: bytes) -> dict:
    msg = dict(zip(NAMES, ZERO))
    i = 0

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

    while i < len(data):
        key = varint()
        num, wtype = key >> 3, key & 7
        if wtype == 0:
            val = varint()
        elif wtype == 2:
            ln = varint()
            val = data[i : i + ln]
            i += ln
        else:
            raise ValueError(f"unsupported wire type {wtype}")
        if 1 <= num <= 5:
            msg[NAMES[num - 1]] = val.decode("utf-8")
        elif num == 6:
            msg["QOS"] = val
        elif num == 7:
            msg["retain"] = bool(val)
        elif num == 8:
            msg["payload"] = bytes(val)
    return msg


# Lengths up to 300 cross the one-byte varint boundary (128); text is
# unicode, so byte length and character count differ. String fields may
# also be passed as their UTF-8 bytes.
text = st.text(max_size=300)
str_field = st.one_of(text, text.map(lambda s: s.encode("utf-8")))
fields = st.tuples(
    str_field, str_field, str_field, str_field, str_field,
    st.integers(min_value=0, max_value=2**31 - 1),
    st.booleans(),
    st.binary(max_size=300),
)
# Unknown fields a schema-evolved peer might send: number 9..2047 (multi-
# byte keys above 15), varint or length-delimited.
unknown_field = st.one_of(
    st.tuples(st.integers(9, 2047), st.integers(0, 2**40)).map(
        lambda t: _varint(t[0] << 3) + _varint(t[1])
    ),
    st.tuples(st.integers(9, 2047), st.binary(max_size=200)).map(
        lambda t: _varint((t[0] << 3) | 2) + _varint(len(t[1])) + t[1]
    ),
)


def _expected(values) -> dict:
    return {
        name: v.decode("utf-8") if isinstance(v, bytes) and name != "payload" else v
        for name, v in zip(NAMES, values)
    }


@settings(max_examples=300, deadline=None)
@given(values=fields)
def test_encoder_is_byte_identical_and_roundtrips(values):
    wire = encode_cdcmsg(*values)
    assert wire == reference_encode(*values)
    assert decode_cdcmsg(wire) == reference_decode(wire) == _expected(values)


# Batch rows as an Arrow batch or pandas frame hands them to the columnar
# encoder: any cell may be None, and a QOS column may hold floats.
nullable_row = st.tuples(
    *[st.one_of(st.none(), str_field)] * 5,
    st.one_of(
        st.none(),
        st.integers(min_value=0, max_value=2**31 - 1),
        st.floats(min_value=0, max_value=2**31 - 1, allow_nan=False),
    ),
    st.one_of(st.none(), st.booleans()),
    st.one_of(st.none(), st.binary(max_size=300)),
)


@settings(max_examples=300, deadline=None)
@given(rows=st.lists(nullable_row, max_size=20), dropped=st.sets(st.sampled_from(NAMES)))
def test_columnar_encoder_matches_scalar_row_by_row(rows, dropped):
    # A column missing from the batch and a None cell both take the
    # field's default, which the scalar encoder omits from the wire.
    columns = {name: [row[k] for row in rows] for k, name in enumerate(NAMES) if name not in dropped}
    expected = [
        encode_cdcmsg(*(
            ZERO[k] if v is None or NAMES[k] in dropped else v for k, v in enumerate(row)
        ))
        for row in rows
    ]
    assert encode_columns(columns, len(rows)) == expected


@settings(max_examples=200, deadline=None)
@given(values=fields, extra=st.lists(st.tuples(st.integers(0, 8), unknown_field), max_size=4))
def test_decoder_skips_unknown_fields_anywhere(values, extra):
    # The wire is its fields' segments in field order, so encoding each
    # field alone yields the segments to splice unknown fields between.
    parts = [
        encode_cdcmsg(*(v if k == j else ZERO[k] for k, v in enumerate(values)))
        for j in range(len(NAMES))
    ]
    assert b"".join(parts) == encode_cdcmsg(*values)
    for pos, field in extra:
        parts.insert(pos, field)
    evolved = b"".join(parts)
    assert decode_cdcmsg(evolved) == reference_decode(evolved) == _expected(values)


@pytest.mark.parametrize("wtype", [1, 3, 4, 5])
def test_decoder_refuses_fixed_and_group_wire_types(wtype):
    wire = encode_cdcmsg("p", "c", "", "", "", 0, False, b"x") + bytes([(9 << 3) | wtype]) + bytes(8)
    with pytest.raises(ValueError, match="unsupported wire type"):
        decode_cdcmsg(wire)


def test_encode_col_null_qos_and_retain_omit_the_field(spark):
    # The Spark UDF hands the encoder pandas columns: a nullable int column
    # holding a NULL arrives as float64 NaN, which must encode like an
    # omitted field, not raise on int(nan).
    from pyspark.sql import functions as F

    from node_cdc_nats_spark.functions.cdcmsg import FIELDS, encode_col

    rows = [
        ("nms", "a", "json", "http", "", None, True, b"x"),
        ("nms", "b", "json", "http", "", 2, None, b"y"),
        ("nms", "c", "json", "http", "", None, None, b"z"),
        ("nms", "d", "json", "http", "", 1, False, b"w"),
    ]
    df = spark.createDataFrame(
        rows,
        "publisher string, channel string, contentType string, protocol string, "
        "reply string, QOS int, retain boolean, payload binary",
    )
    got = {
        r.channel: bytes(r.w)
        for r in df.select("channel", encode_col(F.struct(*FIELDS)).alias("w")).collect()
    }
    assert got == {
        r[1]: encode_cdcmsg(*r[:5], r[5] or 0, r[6] or False, r[7]) for r in rows
    }
