"""Reference-parity client API: the `Nats` class surface of
rigoiot/node-cdc-nats re-implemented over pluggable transports, so a user
of the reference can switch to this engine and keep their call sites.

Behavioral contract (from the reference, cited per method):
- `connect(opts, topic)` subscribes once to ONE transport topic
  (`lib/nats.js:49-65`); every logical subject travels INSIDE the CDCMsg
  `channel` field, and the wire subject of `publish` is always the
  transport topic, not the passed subject (`lib/nats.js:175`).
- `subscribe` registers an MQTT-wildcard pattern in a local registry
  keyed by a monotonically increasing ssid (`lib/nats.js:116-144`);
  delivery counting is per subscription (`received`, `lib/nats.js:97`).
- The `max` bound is INCLUSIVE: the row where `received == max` is still
  delivered, then the subscription is dropped; rows past it are silenced
  (`lib/nats.js:99-107`). `unsubscribe(sid, max)` with the bound already
  satisfied deletes immediately (`lib/nats.js:147-161`).
- `rpc` subscribes to N response subjects, publishes the request, and the
  FIRST matching response wins (all response subscriptions dropped,
  optional `res_process` transform of the winner — `lib/nats.js:196-256`);
  a timeout RESOLVES (does not raise) with ``{"code": 408, "message":
  "request time out"}`` (`lib/nats.js:238-247`); a string `res_subjects`
  is coerced to a one-element list (`lib/nats.js:210-212`).
- Closed-connection calls raise `NatsError(CONN_CLOSED)`
  (`lib/nats.js:117-119,164-166`); bad arguments raise
  `BAD_SUBJECT` / `BAD_MSG` (`lib/nats.js:15-23,167-172`).

Dispatch cost (the reference's semantics, not its loop): the reference
matches every subscription's pattern against each message's channel. Here
``CdcNats`` keeps a route table, channel -> tuple of matching sids in
registry order, filled on a miss by that same scan. Any change to the
registry empties it: ``subscribe``, ``unsubscribe``, the auto-unsubscribe
at ``max`` and ``close``. It is also emptied wholesale when it would grow
past ``_ROUTE_CAP`` channels. Each callback's arity is read once, at
``subscribe``.

The engine side is unchanged by this module — `filter_channel`,
`bounded_subscription`, `rpc_first_response` et al. are the set-based
twins of these per-message semantics (tests/test_semantics.py pins both
to the same behaviors). Transports: `LocalBroker` (in-process, tests) or
the core-NATS TCP / spool transports in `sources/nats.py`.
"""

from __future__ import annotations

import inspect
import time
from collections.abc import Callable
from typing import Any

from .functions.cdcmsg import decode_cdcmsg, encode_cdcmsg
from .functions.mqtt import matches
from .sources.nats import (  # noqa: F401 — re-exported, lib/nats.js:41-44
    BAD_JSON,
    BAD_MSG,
    BAD_SUBJECT,
    CONN_CLOSED,
    INVALID_ENCODING,
    NatsError,
)

# `exports.version` parity (lib/nats.js:11,46): the facade exposes the
# engine's own version string the way the reference exposes its "1.0.0".
from . import __version__ as version  # noqa: F401

DEFAULT_TOPIC = "cdc.client"
RPC_TIMEOUT_S = 10  # lib/nats.js:238-239 (seconds)
# Route-table size cap: past it the table is emptied and refilled on
# demand, so a stream of unique channels (RPC reply subjects) cannot grow
# it without bound.
_ROUTE_CAP = 4096


def _arity(cb: Callable | None) -> int:
    """How many of the reference's callback arguments ``(cdcMsg, subject,
    sid)`` (`lib/nats.js:109-111`) to pass. JS ignores extra arguments;
    Python cannot, so a callback gets the first ``n`` for its declared
    arity (one- and two-parameter callbacks are both legal in the
    reference), and all three when its signature cannot be read."""
    try:
        n = len(inspect.signature(cb).parameters)
    except (TypeError, ValueError):
        n = 3
    return max(1, min(n, 3))


class LocalBroker:
    """Minimal in-process broker: wire-subject -> subscriber callbacks.
    Synchronous delivery, at-most-once, no acks — the reference's core-NATS
    delivery model (`lib/nats.js:163-183`)."""

    def __init__(self) -> None:
        self._subs: dict[str, list[Callable[[bytes], None]]] = {}

    def subscribe(self, subject: str, handler: Callable[[bytes], None]) -> None:
        self._subs.setdefault(subject, []).append(handler)

    def unsubscribe(self, subject: str, handler: Callable[[bytes], None]) -> None:
        handlers = self._subs.get(subject, [])
        if handler in handlers:
            handlers.remove(handler)

    def publish(self, subject: str, data: bytes) -> None:
        for handler in list(self._subs.get(subject, ())):
            handler(data)


class EventEmitter:
    """Node-`events.EventEmitter` subset the reference inherits
    (`lib/nats.js:80` — ``util.inherits(Nats, events.EventEmitter)``):
    ``on``/``once``/``off``/``emit``/``removeAllListeners``, with Node's
    one special rule preserved — an ``"error"`` emit with NO registered
    listener raises instead of vanishing (Node throws the error object;
    here the `NatsError` propagates)."""

    def __init__(self) -> None:
        self._listeners: dict[str, list[Callable]] = {}

    def on(self, event: str, listener: Callable) -> "EventEmitter":
        self._listeners.setdefault(event, []).append(listener)
        return self

    def once(self, event: str, listener: Callable) -> "EventEmitter":
        def wrapper(*args: Any) -> None:
            self.off(event, wrapper)
            listener(*args)

        wrapper._once_of = listener  # type: ignore[attr-defined]
        return self.on(event, wrapper)

    def off(self, event: str, listener: Callable) -> "EventEmitter":
        # Node's removeListener removes at most ONE entry — the most
        # recently added match (events.js scans backwards) — so a
        # double-registered listener needs two off() calls, mirrored here.
        handlers = self._listeners.get(event, [])
        for i in range(len(handlers) - 1, -1, -1):
            h = handlers[i]
            if h is listener or getattr(h, "_once_of", None) is listener:
                # del at the matched index, NOT list.remove(h): remove()
                # deletes the FIRST equal entry, so [cb, other, cb] would
                # keep [other, cb] while Node keeps [cb, other].
                del handlers[i]
                break
        return self

    removeListener = off  # Node alias

    def listeners(self, event: str) -> list[Callable]:
        return list(self._listeners.get(event, ()))

    def emit(self, event: str, *args: Any) -> bool:
        handlers = list(self._listeners.get(event, ()))
        if not handlers and event == "error":
            # Node semantics: unhandled 'error' events throw.
            if args and isinstance(args[0], BaseException):
                raise args[0]
            raise NatsError(str(args[0]) if args else "Unhandled error.")
        for h in handlers:
            h(*args)
        return bool(handlers)

    def removeAllListeners(self, event: str | None = None) -> "EventEmitter":
        if event is None:
            self._listeners = {}
        else:
            self._listeners.pop(event, None)
        return self


class CdcNats(EventEmitter):
    """The reference's client object (`lib/nats.js:46-256`), one logical
    transport-topic subscription fanning out to MQTT-pattern subscriptions.

    Event surface (r5 verdict's last missing API): ``subscribe`` emits
    ``("subscribe", sid, subject, opts)`` (`lib/nats.js:137`);
    ``unsubscribe`` and the auto-unsubscribe paths emit
    ``("unsubscribe", sid, subject)`` (`lib/nats.js:102,159`);
    transport errors surface via :meth:`process_err` as
    ``("error", NatsError)`` (`lib/nats.js:82-84`); ``close`` calls
    ``removeAllListeners()`` (`lib/nats.js:71`)."""

    def __init__(self, broker: LocalBroker, topic: str = DEFAULT_TOPIC) -> None:
        EventEmitter.__init__(self)
        self.topic = topic
        self._broker = broker
        self._closed = False
        self.ssid = -1                     # lib/nats.js:52 (first sid is 0)
        self.subs: dict[int, dict] = {}    # lib/nats.js:52
        self._routes: dict[str, tuple[int, ...]] = {}  # channel -> sids
        broker.subscribe(topic, self._process_msg)

    # -- lifecycle -------------------------------------------------------------
    def close(self) -> None:
        """Drop connection + registry + listeners (`lib/nats.js:67-74`):
        unconditionally reset, exactly as the reference does (close is
        not guarded there either — a second close is a no-op because
        every step is idempotent)."""
        if not self._closed:
            self._broker.unsubscribe(self.topic, self._process_msg)
            self._closed = True
            self.removeAllListeners()      # lib/nats.js:71
        self.ssid = -1                     # lib/nats.js:72
        self.subs = None                   # lib/nats.js:73
        self._routes.clear()

    def process_err(self, error: Exception | str) -> None:
        """Transport-error hook (`lib/nats.js:82-84`): wrap and emit as an
        ``"error"`` event — which, per Node, raises if unhandled."""
        self.emit("error", NatsError(str(error)))

    def _check_open(self) -> None:
        if self._closed:
            raise NatsError("connection closed", CONN_CLOSED)

    # -- subscribe / unsubscribe -----------------------------------------------
    def subscribe(
        self,
        subject: str,
        opts_or_cb: dict | Callable | None = None,
        callback: Callable | None = None,
    ) -> int:
        """Register an MQTT-pattern subscription; returns the ssid
        (`lib/nats.js:116-144`). ``opts['max']`` arms the inclusive bound
        via deferred unsubscribe, as the reference does."""
        self._check_open()
        # NB: the reference validates the subject type only on publish
        # (lib/nats.js:167-169); subscribe accepts anything, mirrored here.
        opts: dict = {}
        if callable(opts_or_cb):
            callback = opts_or_cb
        elif isinstance(opts_or_cb, dict):
            opts = opts_or_cb
        self.ssid += 1
        sid = self.ssid
        self.subs[sid] = {
            "subject": subject, "callback": callback, "received": 0,
            "nargs": _arity(callback),
        }
        self._routes.clear()
        # Emit BEFORE arming max — the reference's order (lib/nats.js:137
        # precedes the `if (max)` at :139).
        self.emit("subscribe", sid, subject, opts_or_cb if isinstance(opts_or_cb, dict) else None)
        # Truthiness, not presence: the reference's `if (max)` leaves a
        # {max: 0} subscription unbounded (lib/nats.js:126-141).
        if opts.get("max"):
            self.unsubscribe(sid, opts["max"])
        return sid

    def unsubscribe(self, sid: int, max_n: int | None = None) -> None:
        """Immediate removal, or arm/refresh the inclusive bound. On a
        closed connection this silently no-ops — the reference returns,
        it does not throw (`lib/nats.js:147-161`)."""
        if self._closed:
            return
        sub = self.subs.get(sid)
        if sub is None:
            return
        if max_n is None:
            self._drop(sid, sub)
            return
        sub["max"] = max_n
        if sub["received"] >= max_n:
            self._drop(sid, sub)

    def _drop(self, sid: int, sub: dict) -> None:
        """Delete a subscription, empty the route table and emit
        ``("unsubscribe", sid, subject)`` (`lib/nats.js:102,159`)."""
        del self.subs[sid]
        self._routes.clear()
        self.emit("unsubscribe", sid, sub["subject"])

    # -- publish ---------------------------------------------------------------
    def publish(self, subject: str, msg: bytes, callback: Callable | None = None) -> None:
        """Validate, then publish the encoded envelope to the TRANSPORT
        topic — the logical subject rides inside `CDCMsg.channel`
        (`lib/nats.js:163-183`)."""
        self._check_open()  # lib/nats.js:164-166
        if not isinstance(subject, str):
            raise NatsError("subject must be a string", BAD_SUBJECT)
        if msg is None:
            raise NatsError("msg must not be null", BAD_MSG)
        self._broker.publish(self.topic, msg)
        if callback is not None:
            callback()

    # -- dispatch --------------------------------------------------------------
    def _process_msg(self, message: bytes) -> None:
        """Decode, find the subscriptions whose pattern matches the
        message's channel, then counter/max bookkeeping and delivery per
        subscription (`lib/nats.js:86-113`). The matching sids come from
        the route table (see the module docstring); a sid is looked up
        again before delivery, so a subscription an earlier callback
        removed is skipped and one added during dispatch waits for the
        next message, as with the reference's registry scan."""
        cdc_msg = decode_cdcmsg(message)
        channel = cdc_msg["channel"]
        sids = self._routes.get(channel)
        if sids is None:
            sids = tuple(
                sid for sid, sub in self.subs.items()
                if matches(sub["subject"], channel)
            )
            if len(self._routes) >= _ROUTE_CAP:
                self._routes.clear()
            self._routes[channel] = sids
        for sid in sids:
            sub = self.subs.get(sid)
            if sub is None:
                continue
            sub["received"] += 1
            if "max" in sub:
                if sub["received"] == sub["max"]:
                    self._drop(sid, sub)  # delivered, then dropped
                elif sub["received"] > sub["max"]:
                    # Reference routes this through unsubscribe(sid)
                    # (lib/nats.js:104), which emits if still present.
                    self.unsubscribe(sid)
                    sub["callback"] = None
            if sub["callback"] is not None:
                sub["callback"](*(cdc_msg, sub["subject"], sid)[: sub["nargs"]])

    # -- RPC -------------------------------------------------------------------
    def rpc(
        self,
        req_subject: str,
        res_subjects: str | list[str],
        data: bytes,
        timeout: float | None = None,
        res_process: Callable[[dict], Any] | None = None,
        pump: Callable[[], None] | None = None,
    ) -> Any:
        """First-response-wins request/response (`lib/nats.js:196-256`).

        Synchronous twin of the reference's promise: subscribe to every
        response subject, publish the request, then wait until the first
        response or the timeout. ``pump`` (optional) is called while
        waiting so a test harness can drive responder delivery without
        threads; with the synchronous LocalBroker a responder typically
        answers during ``publish`` already. Timeout RESOLVES with the 408
        object — it does not raise (`lib/nats.js:242-246`)."""
        # `timeout || 10`: ANY falsy timeout (None, 0) takes the default
        # (lib/nats.js:238-239).
        timeout = timeout or RPC_TIMEOUT_S
        if isinstance(res_subjects, str):
            res_subjects = [res_subjects]  # lib/nats.js:210-212
        won: list[Any] = []
        sids: list[int] = []

        def resolver(cdc_msg: dict) -> None:
            if won:
                return  # first response already won
            for s in sids:
                # unsubscribe-all via the emitting path, the reference's
                # unsubscribeRpc → unsubscribe (lib/nats.js:185-193,217)
                self.unsubscribe(s)
            won.append(res_process(cdc_msg) if res_process else cdc_msg)

        for rs in res_subjects:
            sids.append(self.subscribe(rs, resolver))
        self.publish(req_subject, data)
        deadline = time.monotonic() + timeout
        while not won and time.monotonic() < deadline:
            # With no pump, still wait out the window polling `won`: a
            # transport delivering on another thread (TCP/spool) must get
            # first-response-within-timeout, not an instant 408.
            if pump is not None:
                pump()
            time.sleep(0.001)  # yield between polls — no busy-spin to deadline
        if won:
            return won[0]
        for s in sids:
            self.unsubscribe(s)  # timeout path also emits, lib/nats.js:240-241
        return {"code": 408, "message": "request time out"}  # lib/nats.js:242-246


def connect(broker: LocalBroker | None = None, topic: str = DEFAULT_TOPIC) -> CdcNats:
    """`connect(opts, topic)` factory (`lib/nats.js:49-65`)."""
    return CdcNats(broker if broker is not None else LocalBroker(), topic)


def make_envelope(
    channel: str,
    payload: bytes,
    publisher: str = "nms",
    content_type: str = "json",
    protocol: str = "http",
    reply: str = "",
    qos: int = 0,
    retain: bool = False,
) -> bytes:
    """Encoded CDCMsg exactly as the reference's publish example builds it
    (`examples/cdc-pub.js:31-42`)."""
    return encode_cdcmsg(
        publisher, channel, content_type, protocol, reply, qos, retain, payload
    )
