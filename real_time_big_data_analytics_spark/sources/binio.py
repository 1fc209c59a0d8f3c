"""The binary helpers the wire and file codecs share — one copy each.

- **Unsigned varints** (LE base-128): the snappy length preamble,
  the Thrift compact protocol (parquet footers), Avro and Kafka
  lengths after zigzag.
- **Zigzag varints** (64-bit): Avro ``long``/``int``, Kafka
  RecordBatch v2 record framing, Thrift compact ``i16/i32/i64``.
- Both over ``(buf, pos)`` — returning the value and the next
  position — and over a stream (``io.BytesIO``). Every reader raises
  ``ValueError`` on a truncated or over-long (more than ten bytes, the
  64-bit maximum) varint, never ``IndexError`` or a silent wrap.
- **MurmurHash3 x86 32-bit** (Austin Appleby's public-domain
  reference): Elasticsearch document routing uses it with seed 0,
  Spark's ``hash()`` with seed 42.

The protobuf shim under ``compat/purepb`` keeps its own varint: it is
loaded standalone as ``google.protobuf`` on workers that never import
this package.
"""

from __future__ import annotations

_MASK32 = 0xFFFFFFFF
_MASK64 = (1 << 64) - 1
_ONE_BYTE = [bytes((i,)) for i in range(0x80)]

# ------------------------------------------------------------- varints


def write_uvarint(n: int) -> bytes:
    if n < 0x80:
        return _ONE_BYTE[n]
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def read_uvarint(buf, pos: int) -> tuple[int, int]:
    n = shift = 0
    try:
        while True:
            b = buf[pos]
            pos += 1
            n |= (b & 0x7F) << shift
            if b < 0x80:
                return n, pos
            shift += 7
            if shift > 63:
                raise ValueError("varint too long")
    except IndexError:
        raise ValueError("varint truncated") from None


def write_zigzag(n: int) -> bytes:
    return write_uvarint(((n << 1) ^ (n >> 63)) & _MASK64)


def read_zigzag(buf, pos: int) -> tuple[int, int]:
    u, pos = read_uvarint(buf, pos)
    return (u >> 1) ^ -(u & 1), pos


def read_uvarint_from(stream) -> int:
    """One unsigned varint from a binary stream (``io.BytesIO``)."""
    n = shift = 0
    while True:
        raw = stream.read(1)
        if not raw:
            raise ValueError("varint truncated")
        b = raw[0]
        n |= (b & 0x7F) << shift
        if b < 0x80:
            return n
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def read_zigzag_from(stream) -> int:
    u = read_uvarint_from(stream)
    return (u >> 1) ^ -(u & 1)


# ------------------------------------------------------------- murmur3


def murmur3_x86_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit — the UNSIGNED hash; see :func:`to_int32`
    for the signed reading Java callers (ES, Spark) use."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & _MASK32
    n = len(data)
    rounded = n - (n % 4)
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & _MASK32
        k = ((k << 15) | (k >> 17)) & _MASK32
        k = (k * c2) & _MASK32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _MASK32
        h = (h * 5 + 0xE6546B64) & _MASK32
    tail = data[rounded:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & _MASK32
        k = ((k << 15) | (k >> 17)) & _MASK32
        k = (k * c2) & _MASK32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _MASK32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _MASK32
    h ^= h >> 16
    return h


def to_int32(u: int) -> int:
    """An unsigned 32-bit value read as a Java ``int``."""
    return u - (1 << 32) if u >= 1 << 31 else u
