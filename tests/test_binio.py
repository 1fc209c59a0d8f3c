"""The shared binary helpers: varint/zigzag vectors and rejection
classes, the stream reader, and a source sweep that keeps them the
ONLY copy in the package."""

from __future__ import annotations

import io
import pathlib
import re

import pytest

from real_time_big_data_analytics_spark.sources import binio

PKG = pathlib.Path(__file__).resolve().parents[1] / "real_time_big_data_analytics_spark"


def test_uvarint_vectors_and_roundtrip():
    assert binio.write_uvarint(0) == b"\x00"
    assert binio.write_uvarint(127) == b"\x7f"
    assert binio.write_uvarint(300) == b"\xac\x02"
    for n in (0, 1, 127, 128, 300, 2**32 - 1, 2**63, 2**64 - 1):
        buf = b"\x55" + binio.write_uvarint(n)
        assert binio.read_uvarint(buf, 1) == (n, len(buf)), n
        assert binio.read_uvarint_from(io.BytesIO(buf[1:])) == n, n


def test_zigzag_roundtrip_both_readers():
    for n in (0, 1, -1, 63, -64, 64, 2**31 - 1, -(2**31), 2**63 - 1, -(2**63)):
        buf = binio.write_zigzag(n)
        assert binio.read_zigzag(buf, 0) == (n, len(buf)), n
        assert binio.read_zigzag_from(io.BytesIO(buf)) == n, n


@pytest.mark.parametrize("raw", [b"", b"\x80", b"\xff\xff"])
def test_truncated_varint_is_value_error(raw):
    with pytest.raises(ValueError, match="truncated"):
        binio.read_uvarint(raw, 0)
    with pytest.raises(ValueError, match="truncated"):
        binio.read_zigzag(raw, 0)
    with pytest.raises(ValueError, match="truncated"):
        binio.read_uvarint_from(io.BytesIO(raw))


def test_overlong_varint_is_value_error():
    bomb = b"\xff" * 64
    with pytest.raises(ValueError, match="too long"):
        binio.read_uvarint(bomb, 0)
    with pytest.raises(ValueError, match="too long"):
        binio.read_zigzag_from(io.BytesIO(bomb))


def test_murmur3_signed_reading():
    assert binio.murmur3_x86_32(b"hello") == 0x248BFA47
    assert binio.to_int32(0xFFFFFFFF) == -1
    assert binio.to_int32(0x7FFFFFFF) == 2**31 - 1


# varint encode/decode loops, zigzag in either direction, and the
# MurmurHash3 mixing constants
_COPY = re.compile(
    r"0x7[fF]\)\s*<<|\|\s*0x80\)|>>\s*63\)|\^\s*-\(|0x[cC]{2}9[eE]2[dD]51|0x1[bB]873593"
)


def test_one_copy_of_varint_zigzag_and_murmur3():
    """Outside ``binio`` (and the protobuf shim, which loads standalone
    as ``google.protobuf`` on workers) no module re-implements them."""
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "sources/binio.py" or rel.startswith("compat/purepb/"):
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if _COPY.search(line):
                hits.append(f"{rel}:{i}: {line.strip()}")
    assert not hits, "\n".join(hits)


def test_snappy_block_format_is_delegated():
    """No per-byte element walk left in the snappy wrapper."""
    src = (PKG / "sources" / "snappy_codec.py").read_text()
    for banned in ("_compress_fragment", "_emit_", "buf[pos]", "src[s"):
        assert banned not in src, banned
