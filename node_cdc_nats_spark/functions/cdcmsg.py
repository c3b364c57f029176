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

import sys
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import Column

# (field_number, name, kind) in examples/cdc-pub.js:31-40 declaration order.
FIELDS = (
    (1, "publisher", "str"),
    (2, "channel", "str"),
    (3, "contentType", "str"),
    (4, "protocol", "str"),
    (5, "reply", "str"),
    (6, "QOS", "varint"),
    (7, "retain", "bool"),
    (8, "payload", "bytes"),
)

DECODED_SCHEMA = (
    "publisher string, channel string, contentType string, protocol string, "
    "reply string, QOS int, retain boolean, payload binary"
)


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
    used by the NATS sink and tests)."""
    out = bytearray()

    def varint(n: int) -> None:
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                out.append(b | 0x80)
            else:
                out.append(b)
                return

    def ld(field: int, data: bytes) -> None:
        varint((field << 3) | 2)
        varint(len(data))
        out.extend(data)

    for num, _, kind, value in (
        (1, "publisher", "str", publisher),
        (2, "channel", "str", channel),
        (3, "contentType", "str", content_type),
        (4, "protocol", "str", protocol),
        (5, "reply", "str", reply),
        (6, "QOS", "varint", qos),
        (7, "retain", "bool", retain),
        (8, "payload", "bytes", payload),
    ):
        if kind == "str":
            if value:
                ld(num, value.encode("utf-8") if isinstance(value, str) else value)
        elif kind == "bytes":
            if value:
                ld(num, bytes(value))
        else:  # varint / bool
            iv = int(value)
            if iv:
                varint((num << 3) | 0)
                varint(iv)
    return bytes(out)


# num -> (name, kind), built once: decode runs once per delivered message.
_BY_NUM = {num: (name, kind) for num, name, kind in FIELDS}


def decode_cdcmsg(data: bytes) -> dict:
    """Decode protobuf wire bytes into a CDCMsg dict (defaults filled).

    String fields are interned: channels (and publishers, content types)
    come from a small set, so every decoded message shares one string per
    distinct value instead of holding a fresh copy."""
    msg = {
        "publisher": "",
        "channel": "",
        "contentType": "",
        "protocol": "",
        "reply": "",
        "QOS": 0,
        "retain": False,
        "payload": b"",
    }
    by_num, intern = _BY_NUM, sys.intern
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
        wtype = key & 0x07
        if wtype == 0 or wtype == 2:
            b = data[i]
            i += 1
            val = b & 0x7F
            shift = 7
            while b & 0x80:
                b = data[i]
                i += 1
                val |= (b & 0x7F) << shift
                shift += 7
            if wtype == 2:  # val is the length
                val, i = data[i : i + val], i + val
        else:  # unknown wire type: stop rather than misparse
            raise ValueError(f"unsupported wire type {wtype}")
        field = by_num.get(key >> 3)
        if field is not None:
            name, kind = field
            if kind == "str":
                msg[name] = intern(val.decode("utf-8"))
            elif kind == "bytes":
                msg[name] = bytes(val)
            elif kind == "bool":
                msg[name] = bool(val)
            else:
                msg[name] = val
    return msg


def decode_col(col: Column) -> Column:
    """Arrow-vectorized CDCMsg decode of a binary column → struct column."""
    from pyspark.sql import functions as F

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
    from pyspark.sql import functions as F

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
