"""Raw Snappy over pyarrow's C++ codec, plus the two public framings
the wire seams need.

Real Kafka topics and Avro files are overwhelmingly snappy-compressed.
The block codec itself is ``pyarrow.Codec("snappy")`` (google/snappy
underneath); this module adds what Arrow does not:

- A safe :func:`decompress`. A raw block starts with a varint
  preamble carrying the UNCOMPRESSED length, and Arrow trusts the
  ``decompressed_size`` it is handed (too large a value returns
  trailing garbage). So the preamble is read here, passed through
  exactly, and refused up front when it claims more than the body can
  expand to — 64 output bytes per 3 body bytes, the copy-2 element's
  ratio and the format's maximum — before Arrow allocates anything.
  Arrow's own rejections surface as ``ValueError("snappy: ...")``.
- Xerial framing (``xerial/snappy-java`` ``SnappyOutputStream``, the
  stream the Kafka Java client writes for snappy topics): 8-byte magic
  ``\\x82SNAPPY\\x00`` + two BE int32s (version=1,
  min-compatible-version=1) + repeated [BE int32 chunk length, raw
  snappy chunk]. Readers must ALSO accept a bare raw-snappy payload
  (librdkafka writes that), which :func:`maybe_xerial_unframe` handles
  by magic sniffing.
- Avro's ``snappy`` codec (Avro 1.12 spec §Required Codecs): each
  block's data is ONE raw-snappy compression followed by a 4-byte
  big-endian CRC-32 of the UNCOMPRESSED bytes —
  :func:`avro_snappy_encode` / :func:`avro_snappy_decode`.

Independent checks: ``tests/test_avro_ocf.py`` has the Apache Avro
Java reader (snappy-java) read our snappy files and we read its.

Reference behavior twin: the reference's Kafka path
(``ProducerFinal.scala:43-83``) leaves codecs to its client library,
as this module leaves the block format to Arrow's.
"""

from __future__ import annotations

import struct
import zlib

import pyarrow as pa

from .binio import read_uvarint

XERIAL_MAGIC = b"\x82SNAPPY\x00"
_XERIAL_BLOCK = 32 * 1024  # snappy-java default block size
_CODEC = pa.Codec("snappy")


def compress(data: bytes) -> bytes:
    """``data`` → one raw snappy block (preamble + elements)."""
    return _CODEC.compress(data, asbytes=True)


def decompress(buf: bytes) -> bytes:
    """One raw snappy block → bytes; every malformation raises
    ``ValueError`` — never silent garbage."""
    try:
        ulen, pos = read_uvarint(buf, 0)
    except ValueError as e:
        raise ValueError(f"snappy: bad length preamble ({e})") from None
    if ulen * 3 > (len(buf) - pos) * 64:
        raise ValueError(
            f"snappy: preamble length {ulen} exceeds what a "
            f"{len(buf) - pos}-byte body can expand to"
        )
    try:
        return _CODEC.decompress(buf, decompressed_size=ulen, asbytes=True)
    except (pa.ArrowInvalid, OSError) as e:
        raise ValueError(f"snappy: {e}") from e


# -- xerial stream framing (Kafka snappy payloads) ----------------------


def xerial_frame(data: bytes, block_size: int = _XERIAL_BLOCK) -> bytes:
    """``data`` → snappy-java stream: magic + version pair + chunked
    raw-snappy blocks."""
    out = bytearray(XERIAL_MAGIC)
    out += struct.pack(">ii", 1, 1)
    for i in range(0, len(data), block_size):
        chunk = compress(data[i : i + block_size])
        out += struct.pack(">i", len(chunk)) + chunk
    return bytes(out)


def xerial_unframe(buf: bytes) -> bytes:
    if buf[:8] != XERIAL_MAGIC:
        raise ValueError("snappy: missing xerial magic")
    if len(buf) < 16:
        raise ValueError("snappy: truncated xerial header")
    version, compat = struct.unpack(">ii", buf[8:16])
    if compat > 1:
        raise ValueError(f"snappy: incompatible xerial version {version}")
    pos, n = 16, len(buf)
    out = bytearray()
    while pos < n:
        if pos + 4 > n:
            raise ValueError("snappy: truncated xerial chunk length")
        (clen,) = struct.unpack(">i", buf[pos : pos + 4])
        pos += 4
        if clen <= 0 or pos + clen > n:
            raise ValueError("snappy: truncated xerial chunk")
        out += decompress(buf[pos : pos + clen])
        pos += clen
    return bytes(out)


def maybe_xerial_unframe(buf: bytes) -> bytes:
    """Kafka snappy payload → bytes, accepting BOTH shapes on the
    public wire: the xerial stream (Java clients) and a bare raw
    block (librdkafka and friends). Sniffed by the 8-byte magic,
    which cannot begin a raw block (0x82 would be a mid-stream
    varint continuation byte in the preamble position)."""
    if buf[:8] == XERIAL_MAGIC:
        return xerial_unframe(buf)
    return decompress(buf)


# -- the Avro "snappy" codec (block + BE CRC-32 of the plain bytes) -----


def avro_snappy_encode(data: bytes) -> bytes:
    return compress(data) + struct.pack(">I", zlib.crc32(data))


def avro_snappy_decode(block: bytes) -> bytes:
    if len(block) < 4:
        raise ValueError("snappy: avro block shorter than its CRC")
    data = decompress(block[:-4])
    (crc,) = struct.unpack(">I", block[-4:])
    if zlib.crc32(data) != crc:
        raise ValueError("snappy: avro block CRC mismatch")
    return data
