"""Golden-bytes wire-format proof for the CDCMsg codec.

The reference encodes CDCMsg with protobufjs (examples/cdc-pub.js:42
encode, lib/nats.js:88-90 decode). protobufjs's output for a given message
is fully determined by the public protobuf wire spec: fields written in
ascending field-number order, keys as varint (field << 3 | wire_type),
strings/bytes length-delimited (type 2), int32/bool as varints (type 0),
and proto3 default values omitted entirely.

The fixtures below are hand-assembled from that spec — independently of
the codec under test — for the exact message shape examples/cdc-pub.js
builds. They pin byte-for-byte interop under the engine's documented
field-number assumption (1..8 in the declaration order visible at
examples/cdc-pub.js:31-40; the .proto itself lives in the external
node-cdc-proto package, yarn.lock:98-103).
"""

from __future__ import annotations

from node_cdc_nats_spark.functions.cdcmsg import (
    FIELDS,
    decode_cdcmsg,
    decode_fields,
    encode_cdcmsg,
    encode_columns,
)


def _encode_columnar(*values) -> bytes:
    """The columnar encoder on one-row columns."""
    (wire,) = encode_columns({name: [v] for name, v in zip(FIELDS, values)}, 1)
    return wire


def _decode_fields_dict(data: bytes) -> dict:
    return dict(zip(FIELDS, decode_fields(data)))


# Every codec entry point is pinned to the same golden bytes; each test
# runs all of them, so the test ids stay one per fixture.
ENCODERS = {"encode_cdcmsg": encode_cdcmsg, "encode_columns": _encode_columnar}
DECODERS = {"decode_cdcmsg": decode_cdcmsg, "decode_fields": _decode_fields_dict}


def _ld(field: int, data: bytes) -> bytes:
    """Length-delimited field, spec-assembled (len < 128 single varint)."""
    assert len(data) < 128
    return bytes([(field << 3) | 2, len(data)]) + data


# Fixture 1: the examples/cdc-pub.js message verbatim —
#   { publisher: "nms", channel: subject, contentType: "json",
#     protocol: "http", reply: "", QOS: 0, retain: false, payload: data }
# with subject "/nms/v1/event" and data '{"test":123}'. reply/QOS/retain
# are proto3 defaults, so protobufjs emits nothing for fields 5-7.
PUB_JS_GOLDEN = (
    _ld(1, b"nms")
    + _ld(2, b"/nms/v1/event")
    + _ld(3, b"json")
    + _ld(4, b"http")
    + _ld(8, b'{"test":123}')
)

# Fixture 2: every field non-default — reply set, QOS=1 (varint), retain
# true (bool as varint 1).
ALL_FIELDS_GOLDEN = (
    _ld(1, b"nms")
    + _ld(2, b"/nms/v1/rpc")
    + _ld(3, b"json")
    + _ld(4, b"mqtt")
    + _ld(5, b"_INBOX.abc")
    + bytes([(6 << 3) | 0, 1])  # QOS = 1
    + bytes([(7 << 3) | 0, 1])  # retain = true
    + _ld(8, b"\x00\x01\xff")
)

# Fixture 3: a payload long enough (200 bytes) that its length needs a
# two-byte varint (0xC8 0x01) — the continuation-bit path.
LONG_PAYLOAD = bytes(range(200))
LONG_GOLDEN = (
    _ld(1, b"p")
    + bytes([(8 << 3) | 2, 0xC8, 0x01])
    + LONG_PAYLOAD
)


def test_encode_matches_pub_js_golden():
    for name, encode in ENCODERS.items():
        got = encode(
            "nms", "/nms/v1/event", "json", "http", "", 0, False, b'{"test":123}'
        )
        assert got == PUB_JS_GOLDEN, name


def test_decode_matches_pub_js_golden():
    for name, decode in DECODERS.items():
        msg = decode(PUB_JS_GOLDEN)
        assert msg == {
            "publisher": "nms",
            "channel": "/nms/v1/event",
            "contentType": "json",
            "protocol": "http",
            "reply": "",
            "QOS": 0,
            "retain": False,
            "payload": b'{"test":123}',
        }, name


def test_all_fields_roundtrip_golden():
    for name, encode in ENCODERS.items():
        got = encode(
            "nms", "/nms/v1/rpc", "json", "mqtt", "_INBOX.abc", 1, True, b"\x00\x01\xff"
        )
        assert got == ALL_FIELDS_GOLDEN, name
    for name, decode in DECODERS.items():
        msg = decode(ALL_FIELDS_GOLDEN)
        assert msg["reply"] == "_INBOX.abc", name
        assert msg["QOS"] == 1, name
        assert msg["retain"] is True, name
        assert msg["payload"] == b"\x00\x01\xff", name


def test_multibyte_varint_length_golden():
    for name, encode in ENCODERS.items():
        assert encode("p", "", "", "", "", 0, False, LONG_PAYLOAD) == LONG_GOLDEN, name
    for name, decode in DECODERS.items():
        assert decode(LONG_GOLDEN)["payload"] == LONG_PAYLOAD, name


def test_decoder_tolerates_unknown_field():
    # protobufjs skips unknown fields; a schema-evolved peer adding field 9
    # must not break the engine's decoder.
    evolved = PUB_JS_GOLDEN + _ld(9, b"extra")
    for name, decode in DECODERS.items():
        msg = decode(evolved)
        assert msg["publisher"] == "nms", name
        assert msg["payload"] == b'{"test":123}', name
