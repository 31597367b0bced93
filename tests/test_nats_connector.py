"""Connector-layer tests that need no Spark session: the CDCMsg wire codec
(property-based, mirrors SURVEY.md §5.2 item 3) and the core-NATS TCP
client against an in-process fake broker (no NATS server exists in this
container; the broker speaks just enough of the public text protocol).

Reference semantics checked (SURVEY.md §2.1 S6/S8 behaviors):
- publish validation order and error codes (lib/nats.js:163-172)
- publish/subscribe through a broker delivers the exact bytes
- operations on a closed connection raise CONN_CLOSED (lib/nats.js:68-74)
"""

from __future__ import annotations

import socket
import threading
import time

import pytest
from hypothesis import given, settings, strategies as st

from node_cdc_nats_spark.functions.cdcmsg import decode_cdcmsg, encode_cdcmsg
from node_cdc_nats_spark.sources.nats import (
    BAD_MSG,
    BAD_SUBJECT,
    CONN_CLOSED,
    NatsClient,
    NatsError,
)

# -- codec ---------------------------------------------------------------------
text = st.text(max_size=40)


@settings(max_examples=200, deadline=None)
@given(
    publisher=text,
    channel=text,
    content_type=text,
    protocol=text,
    reply=text,
    qos=st.integers(min_value=0, max_value=2**31 - 1),
    retain=st.booleans(),
    payload=st.binary(max_size=200),
)
def test_codec_roundtrip(publisher, channel, content_type, protocol, reply, qos, retain, payload):
    wire = encode_cdcmsg(publisher, channel, content_type, protocol, reply, qos, retain, payload)
    got = decode_cdcmsg(wire)
    assert got == {
        "publisher": publisher,
        "channel": channel,
        "contentType": content_type,
        "protocol": protocol,
        "reply": reply,
        "QOS": qos,
        "retain": retain,
        "payload": payload,
    }


def test_codec_zero_fields_omitted():
    # Like protobufjs, default-valued fields take no wire bytes at all.
    assert encode_cdcmsg("", "", "", "", "", 0, False, b"") == b""


# -- fake broker ---------------------------------------------------------------
class FakeBroker:
    """Minimal core-NATS broker: INFO greeting, CONNECT/PING handling, PUB
    routed to every SUB with an exactly-matching subject."""

    def __init__(self):
        self.server = socket.create_server(("127.0.0.1", 0))
        self.port = self.server.getsockname()[1]
        self.subs: list[tuple[str, str, socket.socket]] = []  # subject, sid, conn
        self.conns: list[socket.socket] = []
        self.lock = threading.Lock()
        self.alive = True
        threading.Thread(target=self._accept_loop, daemon=True).start()

    def _accept_loop(self):
        while self.alive:
            try:
                conn, _ = self.server.accept()
            except OSError:
                return
            with self.lock:
                self.conns.append(conn)
            conn.sendall(b'INFO {"server_id":"fake"}\r\n')
            threading.Thread(target=self._serve, args=(conn,), daemon=True).start()

    def drop_clients(self):
        """Kill every live client connection (simulated broker restart);
        the listener keeps accepting, so clients can redial."""
        with self.lock:
            for c in self.conns:
                # shutdown first: a bare close() while this conn's _serve
                # thread is blocked in recv() leaves the socket open in the
                # kernel, so the client never sees the drop.
                try:
                    c.shutdown(socket.SHUT_RDWR)
                except OSError:
                    pass
                try:
                    c.close()
                except OSError:
                    pass
            self.conns.clear()
            self.subs.clear()

    def _serve(self, conn):
        buf = b""
        while self.alive:
            try:
                chunk = conn.recv(65536)
            except OSError:
                return
            if not chunk:
                return
            buf += chunk
            while b"\r\n" in buf:
                line, buf = buf.split(b"\r\n", 1)
                parts = line.decode().split(" ")
                if parts[0] == "CONNECT" or parts[0] == "PONG":
                    continue
                if parts[0] == "PING":
                    conn.sendall(b"PONG\r\n")
                elif parts[0] == "SUB":
                    with self.lock:
                        self.subs.append((parts[1], parts[2], conn))
                elif parts[0] == "PUB":
                    subject, nbytes = parts[1], int(parts[-1])
                    while len(buf) < nbytes + 2:
                        buf += conn.recv(65536)
                    payload, buf = buf[:nbytes], buf[nbytes + 2 :]
                    with self.lock:
                        targets = [s for s in self.subs if s[0] == subject]
                    for subj, sid, dst in targets:
                        try:
                            dst.sendall(
                                f"MSG {subj} {sid} {nbytes}\r\n".encode()
                                + payload + b"\r\n"
                            )
                        except OSError:
                            with self.lock:  # dead subscriber: drop it
                                self.subs = [s for s in self.subs if s[2] is not dst]

    def close(self):
        self.alive = False
        # Same as drop_clients: shutdown wakes the accept() blocked in
        # _accept_loop, so the listener really stops accepting.
        try:
            self.server.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.server.close()


@pytest.fixture()
def broker():
    b = FakeBroker()
    yield b
    b.close()


def _wait_for_sub(broker):
    """Wait until the broker has registered a SUB: a PUB routed before that
    is dropped, and the subscriber's next_msg would wait for it forever."""
    deadline = time.time() + 5
    while time.time() < deadline:
        with broker.lock:
            if broker.subs:
                return
        time.sleep(0.01)
    pytest.fail("broker never registered the subscription")


def test_tcp_pub_sub_roundtrip(broker):
    sub = NatsClient(f"nats://127.0.0.1:{broker.port}")
    sub.subscribe("cdc.client", sid=7)
    _wait_for_sub(broker)
    pub = NatsClient(f"nats://127.0.0.1:{broker.port}")
    wire = encode_cdcmsg("nms", "sensor/1/temp", "json", "http", "", 1, True, b'{"v":42}')
    pub.publish("cdc.client", wire)
    subject, payload = sub.next_msg()
    assert subject == "cdc.client"
    decoded = decode_cdcmsg(payload)
    assert decoded["channel"] == "sensor/1/temp"
    assert decoded["payload"] == b'{"v":42}'
    pub.close()
    sub.close()


def test_idle_subscriber_keeps_its_connection(broker):
    """A subscriber on a quiet subject for longer than the 10 s connect
    timeout must keep its one connection: silence is not a dropped link,
    so no redial happens, and a message published afterwards still
    arrives."""
    sub = NatsClient(f"nats://127.0.0.1:{broker.port}", reconnect_time_wait=0.05)
    sub.subscribe("cdc.quiet", sid=5)
    _wait_for_sub(broker)
    got = {}
    t = threading.Thread(target=lambda: got.update(msg=sub.next_msg()), daemon=True)
    t.start()
    time.sleep(11)
    with broker.lock:
        assert len(broker.conns) == 1
    assert sub._gen == 1
    pub = NatsClient(f"nats://127.0.0.1:{broker.port}")
    pub.publish("cdc.quiet", b"after-idle")
    t.join(timeout=10)
    assert got.get("msg") == ("cdc.quiet", b"after-idle")
    pub.close()
    sub.close()


def test_reconnect_replays_subscriptions(broker):
    # The reference rides nats.js's reconnect machinery (lib/nats.js:56 via
    # NATS.connect defaults); the engine's client must survive a broker
    # restart: redial, replay CONNECT + the SUB registry, keep delivering.
    sub = NatsClient(f"nats://127.0.0.1:{broker.port}", reconnect_time_wait=0.05)
    sub.subscribe("cdc.client", sid=3)
    broker.drop_clients()
    # Trigger the subscriber's redial from the dead socket, in the
    # background (next_msg blocks until the post-restart publish arrives).
    got = {}

    def read_one():
        got["msg"] = sub.next_msg()

    t = threading.Thread(target=read_one, daemon=True)
    t.start()
    # Wait until the subscriber has re-registered with the broker.
    deadline = time.time() + 5
    while time.time() < deadline:
        with broker.lock:
            if broker.subs:
                break
        time.sleep(0.02)
    pub = NatsClient(f"nats://127.0.0.1:{broker.port}")
    # Publish until the reader observes a delivery (bounded): a single
    # publish can race broker-side registration under host load, and
    # duplicates are harmless — read_one consumes exactly one message.
    deadline = time.time() + 10
    while "msg" not in got and time.time() < deadline:
        pub.publish("cdc.client", b"after-restart")
        t.join(timeout=0.1)
    assert got.get("msg") == ("cdc.client", b"after-restart")
    pub.close()
    sub.close()


def test_reconnect_disabled_raises(broker):
    c = NatsClient(f"nats://127.0.0.1:{broker.port}", reconnect=False)
    broker.drop_clients()
    with pytest.raises(NatsError) as ei:
        c.next_msg()
    assert ei.value.code == CONN_CLOSED
    c.close()


def test_reconnect_attempts_exhausted():
    b = FakeBroker()
    c = NatsClient(
        f"nats://127.0.0.1:{b.port}",
        max_reconnect_attempts=2,
        reconnect_time_wait=0.05,
    )
    b.close()  # listener gone: every redial fails
    b.drop_clients()
    # A publish that lands in the kernel buffer before the peer's RST is
    # processed legitimately "succeeds" (at-most-once, lib/nats.js:163-183
    # parity) — loop until the dead socket surfaces, bounded by the buffer.
    with pytest.raises(NatsError) as ei:
        deadline = time.time() + 10
        while time.time() < deadline:
            c.publish("subj", b"x" * 4096)
            time.sleep(0.01)
        pytest.fail("publish never surfaced the dead connection")
    assert ei.value.code == CONN_CLOSED
    c.close()


def test_reconnect_mid_frame_resynchronizes():
    """A socket drop after the MSG header but mid-payload: the parser must
    NOT consume the fresh connection's protocol bytes as the old payload's
    remainder. The torn frame is dropped (at-most-once, like the
    reference) and the next complete frame is delivered intact."""
    server = socket.create_server(("127.0.0.1", 0))
    port = server.getsockname()[1]

    def serve():
        # conn 1: greet, then a TORN frame (header + 3 of 10 payload
        # bytes), then drop the socket.
        c1, _ = server.accept()
        c1.sendall(b'INFO {"server_id":"fake"}\r\n')
        c1.recv(65536)  # CONNECT (and possibly the SUB)
        c1.sendall(b"MSG cdc.client 3 10\r\nhel")
        time.sleep(0.1)
        c1.close()
        # conn 2: greet, wait for the SUB replay, then a COMPLETE frame.
        c2, _ = server.accept()
        c2.sendall(b'INFO {"server_id":"fake"}\r\n')
        buf = b""
        while b"SUB" not in buf:
            buf += c2.recv(65536)
        c2.sendall(b"MSG cdc.client 3 5\r\nhello\r\n")

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    c = NatsClient(f"nats://127.0.0.1:{port}", reconnect_time_wait=0.05)
    c.subscribe("cdc.client", sid=3)
    # Without the generation check this returns garbage cut from conn 2's
    # protocol stream (or crashes parsing mid-payload bytes as a header).
    assert c.next_msg() == ("cdc.client", b"hello")
    c.close()
    server.close()


def test_send_retry_failure_is_conn_closed(broker):
    """If the freshly redialed socket dies too, _send must surface the
    documented NatsError(CONN_CLOSED) contract, not a raw OSError."""
    c = NatsClient(f"nats://127.0.0.1:{broker.port}")

    class DeadSock:
        def sendall(self, data):
            raise OSError("broken pipe")

        def close(self):
            pass

    def fake_redial(cause):
        # A "successful" reconnect onto a socket that dies on first use.
        c._sock = DeadSock()

    c._sock = DeadSock()
    c._redial = fake_redial
    with pytest.raises(NatsError) as ei:
        c.publish("subj", b"x")
    assert ei.value.code == CONN_CLOSED
    c.close()


def test_publish_validation(broker):
    c = NatsClient(f"nats://127.0.0.1:{broker.port}")
    with pytest.raises(NatsError) as ei:
        c.publish("", b"x")
    assert ei.value.code == BAD_SUBJECT
    with pytest.raises(NatsError) as ei:
        c.publish("subj", None)
    assert ei.value.code == BAD_MSG
    c.close()
    with pytest.raises(NatsError) as ei:
        c.publish("subj", b"x")
    assert ei.value.code == CONN_CLOSED


# -- durable-offset replay (the JetStream-shaped path) -------------------------
def test_spool_durable_offset_resume(spark, tmp_path):
    """The spool reader's offsets (per partition, a frontier plus a drained
    set) are durable — the in-container stand-in for a JetStream consumer
    sequence. A second streaming query restarted from the SAME checkpoint must resume after
    the recorded offset: no duplicates of drained messages, no loss of new
    ones. (Core NATS itself is at-most-once with no replay, matching the
    reference lib/nats.js:175-179; this is the exactly-once upgrade path
    documented in sources/nats.py.)"""
    from node_cdc_nats_spark.sources.nats import register_nats_source, spool_publish

    register_nats_source(spark)
    spool, ckpt = str(tmp_path / "spool"), str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def pub(i):
        spool_publish(
            spool, i,
            encode_cdcmsg("p", f"ch/{i}", "json", "http", "", 1, False, f"m{i}".encode()),
        )

    def drain():
        # File sink: supports checkpoint recovery (memory sink does not),
        # so a restart is a true resume-from-durable-offset.
        q = (
            spark.readStream.format("nats_cdc").option("spool", spool).load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    for i in range(5):
        pub(i)
    first = drain()
    assert sorted(bytes(r.payload).decode() for r in first) == [f"m{i}" for i in range(5)]

    for i in range(5, 8):
        pub(i)
    # Same checkpoint → the restarted query resumes AFTER the recorded
    # offset: total output is all 8 messages, each exactly once.
    second = drain()
    assert sorted(bytes(r.payload).decode() for r in second) == [f"m{i}" for i in range(8)]


# -- the executor-parallel (JetStream-shaped) reader --------------------------
def _pub_range(spool, lo, hi):
    from node_cdc_nats_spark.sources.nats import spool_publish

    for i in range(lo, hi):
        spool_publish(
            spool, i,
            encode_cdcmsg("p", f"ch/{i}", "json", "http", "", 1, False, f"m{i}".encode()),
        )


def test_partitioned_reader_covers_all_messages(spark, tmp_path):
    """Every message lands in exactly one of the N filename-hash partitions
    — complete, duplicate-free multi-partition coverage, with decode
    running in executor tasks instead of on the driver."""
    from node_cdc_nats_spark.sources.nats import register_nats_source

    register_nats_source(spark)
    spool = str(tmp_path / "spool")
    _pub_range(spool, 0, 20)
    q = (
        spark.readStream.format("nats_cdc")
        .option("spool", spool)
        .option("partitions", "4")
        .load()
        .writeStream.format("memory")
        .queryName("part_reader_all")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("part_reader_all").collect()
    assert sorted(bytes(r.payload).decode() for r in rows) == sorted(
        f"m{i}" for i in range(20)
    )


def test_partitioned_reader_checkpoint_resume(spark, tmp_path):
    """The per-partition offsets are durable: a restart from the same
    checkpoint drains only segments each partition has not drained — the
    JetStream durable-consumer contract."""
    from node_cdc_nats_spark.sources.nats import register_nats_source

    register_nats_source(spark)
    spool, ckpt = str(tmp_path / "spool"), str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("nats_cdc")
            .option("spool", spool)
            .option("partitions", "3")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    _pub_range(spool, 0, 6)
    first = drain()
    assert sorted(bytes(r.payload).decode() for r in first) == [f"m{i}" for i in range(6)]

    _pub_range(spool, 6, 10)
    second = drain()
    assert sorted(
        bytes(r.payload).decode() for r in second
    ) == sorted(f"m{i}" for i in range(10))


def test_partitioned_reader_crash_mid_run_resumes_exactly_once(spark, tmp_path):
    """Kill the stream MID-RUN — not at a clean availableNow boundary —
    while a publisher is still appending, then restart from the same
    checkpoint. The durable per-partition offsets (+ the file sink's
    transactional batch log) must deliver every message exactly once: no
    loss, no duplication. The core-NATS TCP path stays
    at-most-once as in the reference (lib/nats.js:163-183); this durable
    replay is the JetStream-shaped spool path only."""
    from node_cdc_nats_spark.sources.nats import register_nats_source

    register_nats_source(spark)
    spool, ckpt, out = (str(tmp_path / d) for d in ("spool", "ckpt", "out"))

    def start(trigger_kwargs):
        return (
            spark.readStream.format("nats_cdc")
            .option("spool", spool)
            .option("partitions", "3")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(**trigger_kwargs)
            .start()
        )

    _pub_range(spool, 0, 5)
    q = start({"processingTime": "50 milliseconds"})
    t = threading.Thread(
        target=lambda: [
            (_pub_range(spool, i, i + 1), time.sleep(0.03)) for i in range(5, 15)
        ]
    )
    t.start()
    # Wait until at least one batch has committed, then kill the query
    # while the publisher thread is still appending.
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            if spark.read.parquet(out).count() > 0:
                break
        except Exception:
            pass
        time.sleep(0.05)
    q.stop()
    t.join()
    _pub_range(spool, 15, 20)
    q2 = start({"availableNow": True})
    q2.awaitTermination()
    # spark.read honors the sink's _spark_metadata commit log, so files
    # from any torn batch of the killed query are invisible — the durable
    # cursor must cover exactly the committed prefix.
    got = sorted(bytes(r.payload).decode() for r in spark.read.parquet(out).collect())
    assert got == sorted(f"m{i}" for i in range(20))


def test_partitioned_offsets_are_per_partition():
    """Unit-level: latestOffset buckets segment names by crc32 % N into
    drained-set offsets (frontier + exception list) and partitions() plans
    work only for partitions with undrained segments."""
    import zlib

    from node_cdc_nats_spark.sources.nats import NatsCdcDataSource, spool_publish
    import tempfile

    spool = tempfile.mkdtemp(prefix="spool_unit_")
    names = [
        spool_publish(spool, i, encode_cdcmsg("p", f"c/{i}", "", "", "", 0, False, b"x"))
        for i in range(12)
    ]
    ds = NatsCdcDataSource(options={"spool": spool, "partitions": "4"})
    reader = ds.streamReader(None)
    start = reader.initialOffset()
    end = reader.latestOffset()
    for key, last in end["last"].items():
        bucket = [n for n in names if zlib.crc32(n.encode()) % 4 == int(key)]
        # no pending writer intents → frontier at the bucket max, no
        # exceptions
        assert last["seg"] == max(bucket, default="")
        assert last["drained"] == []
    parts = reader.partitions(start, end)
    planned = {p.value[0]: sorted(p.value[1]) for p in parts}
    assert set(planned) == {
        int(k) for k, v in end["last"].items() if v["seg"]
    }
    for pid, segs in planned.items():
        assert segs == sorted(
            n for n in names if zlib.crc32(n.encode()) % 4 == pid
        )
    # a second batch with no new files plans nothing
    assert reader.partitions(end, reader.latestOffset()) == []


def test_out_of_order_rename_is_not_lost():
    """A writer task with a LOWER segment name renaming into place AFTER a
    higher-named sibling must not be skipped. The reader's frontier is
    gated below the pending ``.tmp`` intent, the higher segment rides the
    ``drained`` exception list, and the late rename is planned exactly
    once in a later batch."""
    import zlib

    from node_cdc_nats_spark.sources.nats import (
        NatsCdcDataSource,
        frame_messages,
    )
    import tempfile

    spool = tempfile.mkdtemp(prefix="spool_race_")
    ds = NatsCdcDataSource(options={"spool": spool, "partitions": "1"})
    reader = ds.streamReader(None)
    start = reader.initialOffset()

    def write_seg(name, payloads, pending=False):
        import os

        data = frame_messages(
            [encode_cdcmsg("p", "c", "", "", "", 0, False, p) for p in payloads]
        )
        path = os.path.join(spool, f".{name}.tmp" if pending else name)
        with open(path, "wb") as fh:
            fh.write(data)
        return path

    # Task A (lower name) is mid-write: its intent tmp exists. Task B
    # (higher name) already renamed into place.
    tmp_a = write_seg("000000000001-a.seg", [b"late"], pending=True)
    write_seg("000000000002-b.seg", [b"early"])
    assert zlib.crc32(b"000000000001-a.seg") % 1 == 0  # same bucket, trivially

    end1 = reader.latestOffset()
    cur = end1["last"]["0"]
    # frontier gated BELOW the pending intent; the renamed sibling rides
    # the exception list instead of advancing the frontier past A
    assert cur["seg"] == ""
    assert cur["drained"] == ["000000000002-b.seg"]
    parts1 = reader.partitions(start, end1)
    assert [sorted(p.value[1]) for p in parts1] == [["000000000002-b.seg"]]

    # A's rename lands AFTER B was drained — the old max-name cursor
    # would have skipped it forever.
    import os

    os.rename(tmp_a, os.path.join(spool, "000000000001-a.seg"))
    end2 = reader.latestOffset()
    cur2 = end2["last"]["0"]
    assert cur2["seg"] == "000000000002-b.seg"
    assert cur2["drained"] == []
    parts2 = reader.partitions(end1, end2)
    assert [sorted(p.value[1]) for p in parts2] == [["000000000001-a.seg"]]
    # and nothing is planned twice
    assert reader.partitions(end2, reader.latestOffset()) == []


def test_segment_frames_and_byte_offset_resume(tmp_path):
    """The segment frame format directly: one segment holding many
    length-prefixed envelopes reads back in full, with each frame's start
    position, and a torn tail stops cleanly at the last complete frame."""
    import os

    from node_cdc_nats_spark.sources.nats import frame_messages, read_frames

    envs = [
        encode_cdcmsg("p", f"c/{i}", "json", "http", "", i % 3, False, f"m{i}".encode())
        for i in range(7)
    ]
    seg = tmp_path / "000000000001-p.seg"
    seg.write_bytes(frame_messages(envs))
    frames = list(read_frames(str(seg)))
    assert [decode_cdcmsg(b)["payload"] for _, b in frames] == [
        f"m{i}".encode() for i in range(7)
    ]
    # a torn tail (truncated mid-frame) stops cleanly at the last complete
    # frame instead of misparsing
    data = seg.read_bytes()
    torn = tmp_path / "000000000002-p.seg"
    torn.write_bytes(data[: frames[3][0] + 2])
    assert len(list(read_frames(str(torn)))) == 3
    assert os.path.getsize(str(seg)) == frames[-1][0] + 4 + len(envs[-1])


def test_reader_drains_multi_frame_segment(spark, tmp_path):
    """A batch-writer-shaped segment (many frames in ONE file) drains
    completely through the reader with default options, and the recorded
    offsets mark it drained so a restart replays nothing."""
    from node_cdc_nats_spark.sources.nats import frame_messages, register_nats_source

    register_nats_source(spark)
    spool = tmp_path / "spool"
    spool.mkdir()
    envs = [
        encode_cdcmsg("p", f"ch/{i}", "json", "http", "", 1, False, f"m{i}".encode())
        for i in range(9)
    ]
    (spool / "000000000000001-w.seg").write_bytes(frame_messages(envs[:5]))
    (spool / "000000000000002-w.seg").write_bytes(frame_messages(envs[5:]))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("nats_cdc").option("spool", str(spool)).load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            bytes(r.payload).decode() for r in spark.read.parquet(out).collect()
        )

    assert drain() == sorted(f"m{i}" for i in range(9))
    # restart on the same checkpoint: both segments drained → no duplicates
    assert drain() == sorted(f"m{i}" for i in range(9))


def test_stream_reader_defaults_to_four_partitions():
    """With no ``partitions`` option the source still gets the
    executor-parallel reader, with 4 partitions."""
    from pyspark.sql.datasource import DataSourceStreamReader

    from node_cdc_nats_spark.sources.nats import NatsCdcDataSource

    reader = NatsCdcDataSource(options={"spool": "unused"}).streamReader(None)
    assert isinstance(reader, DataSourceStreamReader)
    assert reader.n == 4
    assert set(reader.initialOffset()["last"]) == {"0", "1", "2", "3"}


@pytest.mark.parametrize("options", [{}, {"partitions": "3"}], ids=["default", "partitions3"])
def test_uncommitted_batch_replays_exactly_once(spark, tmp_path, options):
    """A crash between the sink write and the commit leaves a batch whose
    offsets are logged but not committed. The query restarted on the same
    checkpoint must plan that batch again from the same segments, so the
    file sink holds every message exactly once."""
    from node_cdc_nats_spark.sources.nats import register_nats_source
    from tests.conftest import uncommit_last_batch

    register_nats_source(spark)
    spool, ckpt, out = (str(tmp_path / d) for d in ("spool", "ckpt", "out"))
    _pub_range(spool, 0, 6)

    def drain():
        q = (
            spark.readStream.format("nats_cdc")
            .option("spool", spool)
            .options(**options)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(bytes(r.payload).decode() for r in spark.read.parquet(out).collect())

    expected = [f"m{i}" for i in range(6)]
    assert drain() == expected
    uncommit_last_batch(ckpt, out)
    assert drain() == expected


@pytest.fixture()
def stub_task(monkeypatch):
    """A task context for driving a writer's ``write`` outside Spark."""
    import pyspark

    class Task:
        @staticmethod
        def taskAttemptId():
            return 7

    monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(lambda: Task))


def test_sink_varint_gate_matches_scalar_encoder(tmp_path, stub_task):
    """The sink omits a varint field exactly when ``encode_cdcmsg`` does:
    the gate is the converted integer, so a value that is truthy but whose
    int() is 0 (a fractional QOS column) writes no field. Drives the
    writer's ``write`` directly with a stub task context."""
    import pyarrow as pa

    from node_cdc_nats_spark.sources.nats import NatsCdcDataSource, read_frames

    rows = [("a/1", 0.5, False, b"x"), ("a/2", 2.0, True, b"y"), ("a/3", None, None, b"z")]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(col) for col in zip(*rows)],
        names=["channel", "QOS", "retain", "payload"],
    )
    spool = tmp_path / "spool"
    writer = NatsCdcDataSource({"spool": str(spool)}).streamWriter(None, False)
    writer.write(iter([batch]))
    (seg,) = spool.iterdir()
    got = [env for _, env in read_frames(str(seg))]
    assert got == [
        encode_cdcmsg("", ch, "", "", "", qos or 0, retain or False, pay)
        for ch, qos, retain, pay in rows
    ]


# -- TCP sink ------------------------------------------------------------------
SINK_ROWS = [
    ("nms", "sensor/1/temp", "json", "http", "", 1, True, b'{"v":42}'),
    ("nms", "sensor/2/ümlaut", "json", "mqtt", "_INBOX.x", 0, False, bytes(range(200))),
    ("nms", "sensor/3", "json", "http", "", 2, False, b""),
]


def _sink_batch():
    import pyarrow as pa

    from node_cdc_nats_spark.functions.cdcmsg import FIELDS

    return pa.RecordBatch.from_arrays([pa.array(col) for col in zip(*SINK_ROWS)], names=list(FIELDS))


def test_tcp_sink_frames_match_scalar_encoder(broker, stub_task):
    """The sink's TCP path publishes each row's envelope on the transport
    topic, byte-identical to ``encode_cdcmsg``."""
    from node_cdc_nats_spark.sources.nats import NatsCdcDataSource

    url = f"nats://127.0.0.1:{broker.port}"
    sub = NatsClient(url, reconnect=False)
    sub.subscribe("cdc.client", sid=1)
    _wait_for_sub(broker)
    NatsCdcDataSource({"url": url}).streamWriter(None, False).write(iter([_sink_batch()]))
    got = [sub.next_msg() for _ in SINK_ROWS]
    assert got == [("cdc.client", encode_cdcmsg(*row)) for row in SINK_ROWS]
    sub.close()


def test_tcp_sink_fails_when_broker_closes_before_info(stub_task):
    """A broker that accepts and closes without its INFO greeting fails the
    write with NatsError instead of spinning on empty reads."""
    from node_cdc_nats_spark.sources.nats import NatsCdcDataSource

    server = socket.create_server(("127.0.0.1", 0))

    def accept_and_close():
        conn, _ = server.accept()
        conn.close()

    threading.Thread(target=accept_and_close, daemon=True).start()
    writer = NatsCdcDataSource(
        {"url": f"nats://127.0.0.1:{server.getsockname()[1]}"}
    ).streamWriter(None, False)
    outcome = {}

    def write():
        try:
            writer.write(iter([_sink_batch()]))
        except Exception as exc:  # recorded for the assertions below
            outcome["exc"] = exc

    t = threading.Thread(target=write, daemon=True)
    t.start()
    t.join(timeout=15)
    server.close()
    assert not t.is_alive(), "write() hung on a broker that closed before INFO"
    assert isinstance(outcome.get("exc"), NatsError), outcome
    assert outcome["exc"].code == CONN_CLOSED


def test_nats_roundtrip_removes_its_spool_and_checkpoints(spark, monkeypatch):
    """nats_roundtrip's spool and its two streaming checkpoints are
    throwaway: none of them may outlive the call, while the returned frame
    (the memory sink) still reads every row."""
    import os
    import tempfile

    from node_cdc_nats_spark import registry
    from tests.conftest import SF_DIR

    registry.load_all()
    made = []
    real = tempfile.mkdtemp

    def recording(*args, **kwargs):
        path = real(*args, **kwargs)
        made.append(path)
        return path

    monkeypatch.setattr(tempfile, "mkdtemp", recording)
    rows = registry.QUERIES["nats_roundtrip"](spark, SF_DIR).collect()
    assert len(rows) == spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).count()
    ours = [p for p in made if os.path.basename(p).startswith(("nats_spool_", "ckpt_"))]
    assert len(ours) == 3, made
    assert [p for p in ours if os.path.exists(p)] == []
