"""NATS CDC source/sink as a Spark Python DataSource (format ``nats_cdc``).

Reference surface being reproduced (SURVEY.md §2.1):
- S1 ingest: one transport-topic subscription feeding the engine
  (`lib/nats.js:56-64`) → ``spark.readStream.format("nats_cdc")``, which
  decodes each CDCMsg envelope into the ``functions.cdcmsg.DECODED_SCHEMA`` columns.
- S6 publish: validated fire-and-forget publish to the transport topic
  (`lib/nats.js:163-183`, note the wire subject is the TRANSPORT topic and
  the logical subject rides in CDCMsg.channel) →
  ``df.writeStream.format("nats_cdc")``.
- Delivery: core NATS is at-most-once with no replay, and so is the
  reference (no acks/retries, `lib/nats.js:175-179`). The spool source
  can replay: its offsets name drained segments, so a batch whose
  offsets were logged but whose commit was not is planned again from
  the same segments on restart, and a transactional sink (parquet) then
  holds every message exactly once. Over a real broker the same needs
  JetStream (durable consumers expose real offsets; the per-partition
  offsets would carry the JetStream sequence instead of segment names)
  — the surface below doesn't change.

Two transports, chosen by options:
- ``spool``: a shared directory of SEGMENT files — an in-process stand-in
  broker so connector semantics are testable in this container (no NATS
  server available). A segment holds many length-prefixed CDCMsg frames
  (4-byte big-endian length + envelope bytes — the JetStream file-store
  shape); each writer task emits ONE segment per micro-batch, made visible
  atomically by rename. Lexicographic segment names give a total order.
  One segment per partition per batch, rather than one file per message,
  saves a create+write+rename per row (100k messages ≈ 8.5 s of syscalls
  single-threaded) while leaving the wire format untouched.
- ``tcp``: a minimal pure-Python core-NATS client (public text protocol:
  INFO/CONNECT/PING/PONG, PUB/SUB/MSG) used when ``url`` is passed. Import-
  and connect-failures surface as NatsError with the reference's error
  codes (`lib/nats.js:15-23`).

One reader, executor-parallel: ``.option("partitions", N)`` (default 4)
logical partitions hash the spool by segment name, and each partition's
offset is a frontier plus a drained set (``NatsCdcStreamReader``). The
driver only lists names; frame reads and envelope decode run in executor
tasks, so drain throughput scales with the cluster — the JetStream-
consumer shape. A planned segment is read whole. Every writer in this
repository (the sink, ``spool_publish`` and ``perfbench/cdc.py``'s
segment writer) renames complete segments into place, so a torn tail —
a visible segment whose last frame is cut short — needs an outside
writer that skips that protocol; the reader then keeps the complete
frames and counts the segment drained. The sink writes per partition
(one connection per task, like foreachPartition).

The DataSource classes run on Spark's Python workers, which do not have
this package on ``sys.path``. Like ``functions/cdcmsg.py``, whose codec
they call, this module is registered with cloudpickle to be pickled by
value, so the classes and helpers defined here ship inside the task.
"""

from __future__ import annotations

import os
import sys
import time
import zlib

from pyspark import TaskContext, cloudpickle
from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from ..functions.cdcmsg import (
    DECODED_SCHEMA,
    FIELDS,
    decode_fields,
    decoded_arrow_schema,
    encode_columns,
)

cloudpickle.register_pickle_by_value(sys.modules[__name__])

# Reference error codes, lib/nats.js:15-23. BAD_JSON and INVALID_ENCODING
# are defined-but-never-raised in the reference as well — they exist so a
# porting user's `except NatsError as e: if e.code == BAD_JSON` call sites
# keep importing (lib/nats.js:41-44 exports BAD_JSON; INVALID_ENCODING is
# module-level there).
BAD_SUBJECT = "BAD_SUBJECT"
BAD_MSG = "BAD_MSG"
CONN_CLOSED = "CONN_CLOSED"
BAD_JSON = "BAD_JSON"
INVALID_ENCODING = "INVALID_ENCODING"


class NatsError(Exception):
    """Mirror of the reference's NatsError (lib/nats.js:29-38): code and
    chained error are optional exactly as in the JS constructor —
    `processErr` re-emits broker errors with a message only
    (lib/nats.js:82-84)."""

    def __init__(self, message: str, code: str | None = None, chained=None):
        super().__init__(f"{code}: {message}" if code else message)
        self.code = code
        self.chained_error = chained


class _Reconnected(Exception):
    """Internal control-flow signal: the socket was redialed while a frame
    was being read. The torn frame is unrecoverable (core NATS has no
    replay), so frame parsing must restart at a protocol-line boundary on
    the fresh buffer instead of consuming new protocol bytes as the old
    frame's remainder. Never escapes NatsClient."""


# -- spool transport (in-process broker stand-in) ------------------------------
# Segment frame layout: 4-byte big-endian unsigned length, then exactly that
# many envelope bytes. Segments are immutable once renamed into place, so a
# segment name, once drained, stays drained — the reader's offsets are
# sets of names.
_FRAME_HEADER = 4


def frame_messages(envelopes) -> bytes:
    """Pack encoded CDCMsg envelopes into segment frame bytes."""
    out = bytearray()
    for env in envelopes:
        if not isinstance(env, (bytes, bytearray)):
            raise NatsError("msg must be bytes", BAD_MSG)
        out += len(env).to_bytes(_FRAME_HEADER, "big")
        out += bytes(env)
    return bytes(out)


def read_frames(path: str):
    """Yield (frame_start_pos, envelope_bytes) for every complete frame of a
    segment. A truncated tail frame — only possible if a writer bypassed
    the rename protocol — is ignored rather than misparsed."""
    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        pos = 0
        while pos + _FRAME_HEADER <= size:
            ln = int.from_bytes(fh.read(_FRAME_HEADER), "big")
            if pos + _FRAME_HEADER + ln > size:
                return  # torn tail: stop at the last complete frame
            yield pos, fh.read(ln)
            pos += _FRAME_HEADER + ln


def spool_publish(spool_dir: str, seq: int, envelope: bytes, publisher: str = "p") -> str:
    """Publish one encoded CDCMsg as a single-frame segment; returns the
    segment name. The (seq, publisher) pair orders and disambiguates
    concurrent writers. Batch writers (the DataSource sink) instead pack a
    whole partition's rows into one segment — same frame format."""
    os.makedirs(spool_dir, exist_ok=True)
    name = f"{seq:016d}-{publisher}.seg"
    tmp = os.path.join(spool_dir, f".{name}.tmp")
    with open(tmp, "wb") as fh:
        fh.write(frame_messages([envelope]))
    os.rename(tmp, os.path.join(spool_dir, name))  # atomic visibility
    return name


def spool_list(spool_dir: str) -> list[str]:
    if not os.path.isdir(spool_dir):
        return []
    return sorted(f for f in os.listdir(spool_dir) if f.endswith(".seg"))


# -- minimal core-NATS TCP client ----------------------------------------------
class NatsClient:
    """Pure-Python core NATS client (public wire protocol). Only what the
    reference uses: connect, publish, subscribe-one-topic, close — plus the
    reconnect machinery the reference inherits from the nats.js client it
    wraps (`NATS.connect(opts)`, lib/nats.js:56; nats.js defaults:
    reconnect on, 10 attempts, 2 s wait). On a dropped socket the client
    redials with those parameters, replays CONNECT and every SUB in its
    registry (nats.js re-subscribes on reconnect the same way), and retries
    the interrupted operation once. Delivery stays at-most-once, exactly
    like the reference: anything in flight during the outage is gone."""

    def __init__(
        self,
        url: str = "nats://127.0.0.1:4222",
        reconnect: bool = True,
        max_reconnect_attempts: int = 10,
        reconnect_time_wait: float = 2.0,
    ):
        host_port = url.split("://", 1)[-1]
        host, _, port = host_port.partition(":")
        self._addr = (host, int(port or 4222))
        self._reconnect = reconnect
        self._max_reconnect_attempts = max_reconnect_attempts
        self._reconnect_time_wait = reconnect_time_wait
        self._subs: dict[int, str] = {}
        self._closed = False
        # Connection generation, bumped by every successful _connect. Frame
        # readers snapshot it so a mid-frame redial is detectable (the fresh
        # buffer starts at a protocol boundary, not at the torn frame's
        # remaining payload bytes).
        self._gen = 0
        try:
            self._connect()
        except OSError as exc:
            raise NatsError("connect failed", CONN_CLOSED) from exc

    def _connect(self) -> None:
        import socket

        sock = socket.create_connection(self._addr, timeout=10)
        # Greeting handled with a LOCAL read loop (not _read_line): a drop
        # during the handshake must surface as OSError to the _redial retry
        # loop, never recurse into another redial.
        buf = b""
        while b"\r\n" not in buf:
            chunk = sock.recv(65536)
            if not chunk:
                sock.close()
                raise OSError("connection closed during handshake")
            buf += chunk
        info, buf = buf.split(b"\r\n", 1)
        if not info.startswith(b"INFO"):
            sock.close()
            raise NatsError("unexpected greeting", CONN_CLOSED)
        sock.sendall(b'CONNECT {"verbose":false,"protocol":0}\r\n')
        for sid, subject in self._subs.items():
            sock.sendall(f"SUB {subject} {sid}\r\n".encode())
        # The 10 s timeout bounds the dial and handshake only: left on the
        # socket, a subscriber idle for 10 s would take the silence for a
        # dropped connection and redial.
        sock.settimeout(None)
        self._sock = sock
        self._buf = buf
        self._gen += 1

    def _redial(self, cause: Exception) -> None:
        """Reconnect with the nats.js backoff contract, or re-raise."""
        import time

        if self._closed or not self._reconnect:
            raise NatsError("connection closed", CONN_CLOSED) from cause
        for _ in range(self._max_reconnect_attempts):
            time.sleep(self._reconnect_time_wait)
            if self._closed:
                raise NatsError("connection closed", CONN_CLOSED) from cause
            try:
                self._connect()
                return
            except OSError:
                continue
        raise NatsError("reconnect attempts exhausted", CONN_CLOSED) from cause

    def _send(self, data: bytes) -> None:
        if self._closed:
            raise NatsError("connection closed", CONN_CLOSED)
        try:
            self._sock.sendall(data)
        except OSError as exc:
            self._redial(exc)
            try:
                self._sock.sendall(data)
            except OSError as exc2:
                # The freshly redialed socket died too: surface the
                # documented error contract (callers match on .code), not a
                # raw OSError.
                raise NatsError("connection closed", CONN_CLOSED) from exc2

    def _recv_more(self) -> None:
        try:
            chunk = self._sock.recv(65536)
        except OSError as exc:
            self._redial(exc)
            return  # partial pre-outage bytes are dropped with the socket
        if not chunk:
            self._buf = b""
            self._redial(NatsError("connection closed", CONN_CLOSED))
            return
        self._buf += chunk

    def _read_line(self) -> bytes:
        # A redial mid-line is safe WITHOUT a generation check: _connect
        # resets _buf to the fresh stream's post-INFO remainder, which
        # starts at a protocol-line boundary, so the partial old line is
        # dropped wholesale and parsing stays synchronized.
        while b"\r\n" not in self._buf:
            self._recv_more()
        line, self._buf = self._buf.split(b"\r\n", 1)
        return line

    def _read_n(self, n: int) -> bytes:
        # Unlike _read_line, payload reads are NOT self-synchronizing: after
        # a redial the fresh buffer holds NEW protocol bytes (MSG headers,
        # PINGs), and treating them as the old payload's remainder would
        # desynchronize every subsequent frame. Detect the redial via the
        # generation counter and abort the torn frame; next_msg restarts at
        # a clean line boundary.
        gen = self._gen
        while len(self._buf) < n:
            self._recv_more()
            if self._gen != gen:
                raise _Reconnected()
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def publish(self, subject: str, msg: bytes) -> None:
        # Validation order mirrors lib/nats.js:163-172.
        if self._closed:
            raise NatsError("connection closed", CONN_CLOSED)
        if not isinstance(subject, str) or not subject:
            raise NatsError("subject must be a string", BAD_SUBJECT)
        if msg is None:
            raise NatsError("msg must not be null", BAD_MSG)
        self._send(
            f"PUB {subject} {len(msg)}\r\n".encode() + bytes(msg) + b"\r\n"
        )

    def subscribe(self, subject: str, sid: int = 1) -> None:
        self._subs[sid] = subject  # registry survives reconnects
        self._send(f"SUB {subject} {sid}\r\n".encode())

    def next_msg(self) -> tuple[str, bytes] | None:
        """Blocking read of the next MSG; answers PING transparently.

        A reconnect mid-message drops the torn frame and resumes on the
        fresh socket: _read_line resynchronizes from the reset buffer, and
        a redial inside _read_n raises _Reconnected, caught here to restart
        frame parsing at the clean line boundary (core NATS is at-most-once,
        so the torn message is legitimately gone)."""
        while True:
            try:
                line = self._read_line()
                if line.startswith(b"PING"):
                    self._send(b"PONG\r\n")
                    continue
                if line.startswith(b"MSG"):
                    parts = line.decode().split(" ")
                    nbytes = int(parts[-1])
                    payload = self._read_n(nbytes)
                    self._read_n(2)  # trailing \r\n
                    return parts[1], payload
            except _Reconnected:
                continue  # torn frame dropped; buffer is at a line boundary
            if line.startswith(b"-ERR"):
                raise NatsError(line.decode(), CONN_CLOSED)
            # +OK / INFO updates: ignore

    def close(self) -> None:
        # lib/nats.js:68-74 — drop connection; registry dies with the object.
        self._closed = True
        try:
            self._sock.close()
        except OSError:
            pass


# -- the DataSource ------------------------------------------------------------
def _spool_scan(spool_dir: str, stale_tmp_ms: int) -> tuple[list[str], list[str]]:
    """One listing snapshot of a spool: (visible segment names, pending
    writer-intent names). A writer's intent is its ``.{name}.tmp``, counted
    while it is younger than ``stale_tmp_ms``. A tmp that vanishes between
    listdir and stat just renamed; counting it as pending is the
    conservative direction."""
    visible: list[str] = []
    pending: list[str] = []
    if not spool_dir or not os.path.isdir(spool_dir):
        return visible, pending
    now = time.time()
    for f in os.listdir(spool_dir):
        if f.endswith(".seg") and not f.startswith("."):
            visible.append(f)
        elif f.startswith(".") and f.endswith(".seg.tmp"):
            try:
                age = now - os.path.getmtime(os.path.join(spool_dir, f))
            except OSError:
                age = 0.0
            if age * 1000.0 <= stale_tmp_ms:
                pending.append(f[1:-4])
    return visible, pending


class NatsCdcStreamReader(DataSourceStreamReader):
    """The ``nats_cdc`` stream reader: N logical partitions hash the spool
    by segment name (crc32 % N — stable across processes); each bucket's
    offset is a compact encoding of its DRAINED-SEGMENT SET: frontier
    ``seg`` (every visible bucket segment named <= it is drained) plus
    ``drained``, the fully-drained names above it. Writers rename
    segments into place in arbitrary order — a lower-named task can land
    AFTER a higher-named one in the same bucket — so a bare max-name
    cursor silently loses the late arrival. The frontier therefore only
    advances below the minimum pending ``.tmp`` name (writer intent is
    visible as ``.{name}.seg.tmp`` from task start, before any data
    bytes); a drained segment the frontier cannot yet pass rides in
    ``drained``. ``latestOffset`` is STATELESS — the offset is derived
    from one directory listing, so checkpoint restarts need no
    reader-side memory — and ``partitions(start, end)`` plans the
    explicit name delta, so executors read exactly the planned set, and
    a replayed batch reads the same set again. Residual loss windows
    (documented, not claimed away): the microseconds between a writer
    task learning its attempt id and creating its tmp, and a tmp idle
    past ``staleTmpMs`` that completes anyway; JetStream's broker-
    assigned sequences close both in a real deployment."""

    def __init__(self, options):
        self.spool = options.get("spool")
        self.n = int(options.get("partitions", "4"))
        self.stale_tmp_ms = int(options.get("staleTmpMs", "60000"))
        # Per-trigger listing cache: Spark calls latestOffset() then
        # immediately partitions(start, end=that offset), and a second
        # directory scan would re-list what the first just saw.
        # latestOffset stashes (offset, visible) here and partitions
        # reuses the listing when its `end` matches. Planning from the
        # EXACT snapshot that derived `end` is also the tighter contract —
        # a segment renamed between the two scans is provably not selected
        # by `end` (its pending tmp gated the frontier below it), so the
        # rescan could never add rows, only work.
        self._scan_cache: tuple[dict, list[str]] | None = None
        if self.n < 1:
            raise ValueError(f"partitions must be >= 1, got {self.n}")

    @staticmethod
    def _pid_of(name: str, n: int) -> int:
        return zlib.crc32(name.encode("utf-8")) % n

    def _empty(self) -> dict:
        return {"version": 3, "last": {str(i): {"seg": "", "drained": []} for i in range(self.n)}}

    def initialOffset(self):
        return self._empty()

    def latestOffset(self):
        visible, pending = _spool_scan(self.spool, self.stale_tmp_ms)
        offset = self._empty()
        last = offset["last"]
        by_bucket: dict[str, list[str]] = {k: [] for k in last}
        for f in visible:
            by_bucket[str(self._pid_of(f, self.n))].append(f)
        gates: dict[str, str] = {}
        for f in pending:
            key = str(self._pid_of(f, self.n))
            if key not in gates or f < gates[key]:
                gates[key] = f
        for key, names in by_bucket.items():
            gate = gates.get(key)
            cur = last[key]
            cur["seg"] = max((n for n in names if gate is None or n < gate), default="")
            cur["drained"] = sorted(n for n in names if n > cur["seg"])
        self._scan_cache = (offset, visible)
        return offset

    def partitions(self, start, end):
        def drained(off):
            seg, above = off.get("seg", ""), frozenset(off.get("drained") or ())
            return lambda name: name <= seg or name in above

        # Reuse latestOffset's listing when planning the batch it just
        # derived (the common per-trigger sequence); rescan only on a
        # cache miss (e.g. checkpoint-restart replay of older offsets).
        if self._scan_cache is not None and self._scan_cache[0] == end:
            visible = self._scan_cache[1]
        else:
            visible, _ = _spool_scan(self.spool, self.stale_tmp_ms)
        s_last = start.get("last", {})
        out = []
        for key, upto in end.get("last", {}).items():
            now, before = drained(upto), drained(s_last.get(key, {}))
            names = sorted(
                f
                for f in visible
                if self._pid_of(f, self.n) == int(key) and now(f) and not before(f)
            )
            if names:
                out.append(InputPartition((int(key), tuple(names))))
        return out

    def read(self, partition):
        pid, names = partition.value
        if not self.spool or not os.path.isdir(self.spool):
            return
        import pyarrow as pa

        arrow_schema = decoded_arrow_schema()
        for name in names:
            # The plan names whole segments (segments are immutable once
            # renamed, so "the whole file" is a stable quantity). A torn
            # tail, only reachable if a writer bypassed the rename
            # protocol, is skipped, not retried: the segment counts as
            # drained (see the module docstring).
            cols: list[list] = [[] for _ in FIELDS]
            appends = [c.append for c in cols]
            for _, env in read_frames(os.path.join(self.spool, name)):
                for app, v in zip(appends, decode_fields(env)):
                    app(v)
            # One Arrow RecordBatch per segment: columnar transfer to
            # the JVM instead of per-row pickling (the decode loop is
            # Python either way; the row hand-off no longer is).
            if cols[0]:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, type=t) for c, t in zip(cols, arrow_schema.types)],
                    schema=arrow_schema,
                )

    def commit(self, end):
        pass  # cursors live in the checkpoint; spool files are retained


def _batch_envelopes(batch) -> list[bytes]:
    """CDCMsg wire envelopes of one Arrow RecordBatch, whose columns carry
    the envelope fields by name (a missing field takes its default)."""
    names = batch.schema.names
    return encode_columns(
        {f: batch.column(f).to_pylist() for f in FIELDS if f in names}, batch.num_rows
    )


class NatsCdcStreamWriter(DataSourceStreamArrowWriter):
    """Arrow-batched publish path: the micro-batch arrives as PyArrow
    RecordBatches (columnar JVM→Python transfer instead of per-row
    pickled Rows), the per-row work is only the CDCMsg protobuf encode,
    and the spool transport appends every frame of the partition to ONE
    length-prefixed segment."""

    def __init__(self, options):
        self.spool = options.get("spool")
        self.url = options.get("url")
        self.topic = options.get("topic", "cdc.client")
        self.publisher = options.get("publisher", "nms")

    def write(self, iterator):
        if not self.spool:
            # TCP publish path: one connection per partition, publish to
            # the TRANSPORT topic (the reference quirk: lib/nats.js:175).
            # No reconnect: a socket failure fails the task, whose retry
            # publishes the partition again.
            client = NatsClient(self.url or "nats://127.0.0.1:4222", reconnect=False)
            try:
                for batch in iterator:
                    for env in _batch_envelopes(batch):
                        client.publish(self.topic, env)
            finally:
                client.close()
            return WriterCommitMessage()
        # ONE length-prefixed segment per task (partition × micro-batch),
        # renamed into place once complete: the whole partition costs 3
        # syscall-visible steps (create, buffered writes, rename) instead
        # of a create+write+rename PER MESSAGE (100k messages ≈ 8.5 s of
        # file churn). Readers only ever see complete segments, so the
        # at-most-once contract is unchanged; an aborted task leaves only
        # an invisible .tmp. The task attempt id is unique across the
        # whole query (every micro-batch, partition, and retry) —
        # partition id alone would collide across micro-batches and
        # overwrite earlier segments.
        os.makedirs(self.spool, exist_ok=True)
        name = f"{TaskContext.get().taskAttemptId():012d}-{self.publisher}.seg"
        tmp = os.path.join(self.spool, f".{name}.tmp")
        # The tmp doubles as the writer's visible INTENT: readers gate
        # their frontier below the minimum pending tmp name, so this
        # create must happen before any reader could list a later-named
        # sibling as drained (it does — nothing has been renamed yet). A
        # failed task removes its tmp so the gate clears immediately
        # instead of waiting out the readers' staleTmpMs grace; the retry
        # re-emits everything under a fresh task attempt id.
        n = 0
        try:
            with open(tmp, "wb") as fh:
                for batch in iterator:
                    for env in _batch_envelopes(batch):
                        fh.write(len(env).to_bytes(_FRAME_HEADER, "big"))
                        fh.write(env)
                        n += 1
        except BaseException:
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise
        if n:
            os.rename(tmp, os.path.join(self.spool, name))
        else:
            os.remove(tmp)  # empty partition: no segment
        return WriterCommitMessage()

    def commit(self, messages, batch_id):
        pass  # fire-and-forget, at-most-once (lib/nats.js:175-179)

    def abort(self, messages, batch_id):
        pass


class NatsCdcDataSource(DataSource):
    @classmethod
    def name(cls):
        return "nats_cdc"

    def schema(self):
        return DECODED_SCHEMA

    def streamReader(self, schema):
        return NatsCdcStreamReader(self.options)

    def streamWriter(self, schema, overwrite):
        return NatsCdcStreamWriter(self.options)


def register_nats_source(spark: SparkSession) -> None:
    """Register the ``nats_cdc`` streaming format on this session."""
    spark.dataSource.register(NatsCdcDataSource)
