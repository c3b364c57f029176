"""Seeded CDC traffic for the nats_pubsub workload.

Shared by the generator process (which encodes and sends the messages) and
the benchmark (which checks what the subscribers received). Everything here
is independent of the engine: the CDCMsg encoder and the MQTT matcher are
written from the wire format and the pattern rules, so a fault in the
engine's codec or matcher shows up as a mismatch instead of cancelling out.
"""

from __future__ import annotations

import random
import zlib

TOPIC = "cdc.client"
N_MESSAGES = 2048          # distinct messages; the stream cycles through them
TENANTS, DEVICES = 8, 4
METRICS = ("temp", "hum", "volt", "rssi")
SMALL, LARGE, LARGE_SHARE = 200, 4096, 0.10
_PAD_TABLE = bytes(b"abcdefghijklmnopqrstuvwxyz0123456789"[i % 36] for i in range(256))


def channels() -> list[str]:
    return [f"t{t}/d{d}/{m}" for t in range(TENANTS) for d in range(DEVICES) for m in METRICS]


def patterns() -> list[str]:
    """Sixteen ``+``/``#`` subscriptions laid out so that every channel
    matches exactly five of them (three catch-alls, its metric, its tenant)
    and one matches nothing: the dispatch work per message does not depend
    on which channels the seed makes hot."""
    return (["#", "+/#", "+/+/+"] + [f"+/+/{m}" for m in METRICS]
            + [f"t{t}/#" for t in range(TENANTS)] + ["x/#"])


def matches(pattern: str, topic: str) -> bool:
    """MQTT topic filter: ``+`` is one non-empty level, a final ``#`` is the
    rest of the topic (including none of it)."""
    p, t = pattern.split("/"), topic.split("/")
    if p[-1] == "#":
        head = p[:-1]
        return len(t) >= len(head) and all(a in ("+", b) and b for a, b in zip(head, t))
    return len(p) == len(t) and all(a == b or (a == "+" and b) for a, b in zip(p, t))


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | 0x80 if n else b)
        if not n:
            return bytes(out)


def encode(channel: str, payload: bytes) -> bytes:
    """CDCMsg protobuf: fields 1..8 (publisher, channel, contentType,
    protocol, reply, QOS, retain, payload); zero values omitted."""
    out = bytearray()
    for num, value in ((1, b"perfbench"), (2, channel.encode()), (3, b"json"),
                       (4, b"mqtt"), (8, payload)):
        out += _varint(num << 3 | 2) + _varint(len(value)) + value
    return bytes(out)


def messages(seed: int) -> list[tuple[str, bytes]]:
    """``N_MESSAGES`` (channel, payload) pairs: channels drawn Zipf-skewed
    over a seed-permuted channel order, payloads mostly 200 B with a 10 %
    share of 4 KB."""
    rng = random.Random(seed)
    chans = channels()
    rng.shuffle(chans)
    weights = [1.0 / (k + 1) ** 1.1 for k in range(len(chans))]
    out = []
    for i in range(N_MESSAGES):
        ch = rng.choices(chans, weights)[0]
        size = LARGE if rng.random() < LARGE_SHARE else SMALL
        body = f'{{"seq":{i},"ch":"{ch}","v":{rng.random():.6f},"pad":"'.encode()
        pad = rng.randbytes(max(0, size - len(body) - 2)).translate(_PAD_TABLE)
        out.append((ch, body + pad + b'"}'))
    return out


def expectations(seed: int) -> tuple[list[int], list[int], list[str]]:
    """Per distinct message: how many subscriptions match it, the CRC-32 of
    its payload and its channel."""
    pats = patterns()
    msgs = messages(seed)
    counts = [sum(matches(p, ch) for p in pats) for ch, _ in msgs]
    return counts, [zlib.crc32(pl) for _, pl in msgs], [ch for ch, _ in msgs]
