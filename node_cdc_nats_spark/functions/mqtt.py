"""MQTT wildcard pattern → regex compiler.

Reproduces the matching semantics of the reference's subscription dispatch
(``MQTTPattern.matches(sub.subject, cdcMsg.channel)`` at
``/root/reference/lib/nats.js:94``, via the ``mqtt-pattern`` dependency,
``package.json:11``):

- patterns and topics are ``/``-separated segment lists;
- ``+`` (or ``+name`` — the name is only a capture label) matches exactly
  one non-empty segment;
- ``#`` (or ``#name``) matches the entire remainder (zero or more
  segments) and is only valid as the final pattern segment;
- every other segment must match literally.

Compilation happens once at plan-build time on the driver; the result is an
ordinary ``rlike`` predicate, so Catalyst constant-folds it and it rides the
scan like any other filter — the O(subscriptions × messages) interpreted
loop of the reference (``lib/nats.js:92-96``) becomes a single vectorized
predicate per subscription.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F


def mqtt_to_regex(pattern: str) -> str:
    """Compile an MQTT wildcard pattern to an anchored regex string (named
    wildcards become capture groups; they match exactly as unnamed ones)."""
    return _capture_regex(pattern)[0]


def matches(pattern: str, topic: str) -> bool:
    """Pure-Python matcher (used by property tests as an independent check
    and by streaming drivers for small registry scans)."""
    p_segs = pattern.split("/")
    t_segs = topic.split("/")
    for i, p in enumerate(p_segs):
        if p.startswith("#"):
            return i == len(p_segs) - 1
        if i >= len(t_segs):
            return False
        if p.startswith("+"):
            if t_segs[i] == "":
                return False
            continue
        if p != t_segs[i]:
            return False
    return len(t_segs) == len(p_segs)


def channel_matches(channel: Column | str, pattern: str) -> Column:
    """DataFrame predicate: does ``channel`` match the MQTT ``pattern``?

    Plain literal patterns (no wildcard) compile to an equality comparison so
    Catalyst can push an exact parquet filter instead of a regex."""
    col = F.col(channel) if isinstance(channel, str) else channel
    if "+" not in pattern and "#" not in pattern:
        return col == F.lit(pattern)
    return col.rlike(mqtt_to_regex(pattern))


# -- named-parameter extraction (+name / #name captures) -----------------------
# Completes the `mqtt-pattern` dependency's surface (package.json:11 of the
# reference): the reference library itself only calls `matches`
# (lib/nats.js:94), but the dep's extract/fill API is part of what its
# users rely on for routing, so the engine exposes the same semantics —
# pure-Python twins for per-message use, and a vectorized regexp_extract
# projection for DataFrames.


def _capture_regex(pattern: str) -> tuple[str, list[tuple[str, str, int]]]:
    """Anchored regex with one capture group per NAMED wildcard. Returns
    ``(regex, [(name, kind, group_index)])`` where kind is '+' or '#'."""
    parts: list[str] = []
    captures: list[tuple[str, str, int]] = []
    gid = 0
    segments = pattern.split("/")
    for i, seg in enumerate(segments):
        if seg.startswith("#"):
            if i != len(segments) - 1:
                raise ValueError(f"'#' must be the last segment: {pattern!r}")
            # '#' consumes the remainder including the preceding separator
            # (so 'a/#' matches 'a' itself per mqtt-pattern semantics).
            name = seg[1:]
            if name:
                gid += 1
                tail = "(?:/(.*))?" if parts else "(.*)"
                captures.append((name, "#", gid))
            else:
                tail = "(?:/.*)?" if parts else ".*"
            body = "/".join(parts)
            return "^" + body + tail + "$", captures
        if seg.startswith("+"):
            name = seg[1:]
            if name:
                gid += 1
                parts.append("([^/]+)")
                captures.append((name, "+", gid))
            else:
                parts.append("[^/]+")
        else:
            parts.append(re.escape(seg))
    return "^" + "/".join(parts) + "$", captures


def extract_params(pattern: str, topic: str) -> dict:
    """mqtt-pattern ``extract``: named wildcard captures only — ``+name``
    yields the segment string, ``#name`` the list of remaining segments
    (empty list when the remainder is empty). Like the JS dep, literal
    segments are NOT validated here; use :func:`exec_params` for
    match-then-extract."""
    out: dict = {}
    p_segs = pattern.split("/")
    t_segs = topic.split("/")
    for i, p in enumerate(p_segs):
        if p.startswith("#"):
            if p[1:]:
                rest = t_segs[i:]
                out[p[1:]] = [] if rest == [""] else rest
            break
        if i >= len(t_segs):
            break
        if p.startswith("+") and p[1:]:
            out[p[1:]] = t_segs[i]
    return out


def exec_params(pattern: str, topic: str) -> dict | None:
    """mqtt-pattern ``exec``: params when the topic matches, else None."""
    return extract_params(pattern, topic) if matches(pattern, topic) else None


def fill(pattern: str, params: dict) -> str:
    """mqtt-pattern ``fill``: substitute params back into the pattern."""
    out: list[str] = []
    for seg in pattern.split("/"):
        if seg.startswith("#"):
            val = params.get(seg[1:], [])
            out.extend(val if isinstance(val, list) else [str(val)])
        elif seg.startswith("+"):
            out.append(str(params.get(seg[1:], "")))
        else:
            out.append(seg)
    return "/".join(out)


def channel_params(channel: Column | str, pattern: str) -> Column:
    """Struct column of the pattern's named captures over ``channel``:
    one ``string`` field per ``+name``, one ``array<string>`` field per
    ``#name`` (the remainder, split on '/'). Pure regexp_extract — stays
    inside whole-stage codegen, no Python in the hot path."""
    col = F.col(channel) if isinstance(channel, str) else channel
    regex, captures = _capture_regex(pattern)
    if not captures:
        raise ValueError(f"pattern has no named wildcards: {pattern!r}")
    fields = []
    for name, kind, gid in captures:
        raw = F.regexp_extract(col, regex, gid)
        if kind == "#":
            fields.append(
                F.when(raw == "", F.array().cast("array<string>"))
                .otherwise(F.split(raw, "/"))
                .alias(name)
            )
        else:
            fields.append(raw.alias(name))
    return F.struct(*fields)
