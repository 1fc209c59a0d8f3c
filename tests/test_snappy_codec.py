"""The snappy wrapper over pyarrow's C++ codec: format vectors,
property roundtrips, agreement with bare pyarrow calls in both
directions, xerial/Avro framing, and adversarial-bytes fuzz to the
designed ValueError rejection class."""

from __future__ import annotations

import os
import random
import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from real_time_big_data_analytics_spark.sources import binio
from real_time_big_data_analytics_spark.sources import snappy_codec as S


# -- format vectors (hand-assembled streams, decoded independently) -----


def test_decodes_hand_assembled_stream():
    """A stream built tag-by-tag from format_description.txt: short
    literal, copy-1, copy-2 with overlap (run replication), copy-4."""
    # literal "abcd" : tag (4-1)<<2
    stream = bytes([3 << 2]) + b"abcd"
    # copy-1: len 4, offset 4 -> "abcd" again
    stream += bytes([((4 - 4) << 2) | 1, 4])
    # overlapping copy-2: len 6, offset 2 -> "cdcdcd"
    stream += bytes([((6 - 1) << 2) | 2]) + struct.pack("<H", 2)
    # copy-4: len 4, offset 14 (whole prefix start) -> "abcd"
    stream += bytes([((4 - 1) << 2) | 3]) + struct.pack("<I", 14)
    expect = b"abcd" + b"abcd" + b"cdcdcd" + b"abcd"
    buf = binio.write_uvarint(len(expect)) + stream
    assert S.decompress(buf) == expect


def test_long_literal_length_bytes():
    data = os.urandom(300)  # needs the 60-tag (1 extra length byte)
    assert S.decompress(S.compress(data)) == data
    data = os.urandom(70000)  # spans fragments
    assert S.decompress(S.compress(data)) == data


def test_rejects_malformed_streams():
    ok = S.compress(b"hello hello hello hello")
    with pytest.raises(ValueError, match="preamble"):
        S.decompress(b"")
    with pytest.raises(ValueError, match="snappy:"):
        # copy before any output exists
        S.decompress(binio.write_uvarint(4) + bytes([(3 << 2) | 2, 9, 0]))
    with pytest.raises(ValueError, match="snappy:"):
        # literal declares 5 bytes, stream carries 3
        S.decompress(binio.write_uvarint(5) + bytes([(5 - 1) << 2]) + b"abc")
    with pytest.raises(ValueError):
        S.decompress(ok[:-1])  # any truncation raises, never garbage
    with pytest.raises(ValueError, match="snappy:"):
        S.decompress(binio.write_uvarint(99) + bytes([3 << 2]) + b"abcd")
    with pytest.raises(ValueError, match="preamble"):
        # a 4 GiB claim over a 5-byte body: refused before any allocation
        S.decompress(binio.write_uvarint(2**32 - 1) + b"\x10abcd")


# -- property roundtrips + foreign validation ---------------------------


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=5000))
def test_roundtrip_property(data):
    assert S.decompress(S.compress(data)) == data


@settings(max_examples=40, deadline=None)
@given(
    st.binary(max_size=600),
    st.integers(min_value=1, max_value=40),
)
def test_roundtrip_repetitive(data, reps):
    blob = data * reps  # match-heavy inputs exercise the copy paths
    assert S.decompress(S.compress(blob)) == blob


def _pa_snappy():
    try:
        import pyarrow as pa

        pa.compress(b"x", codec="snappy", asbytes=True)
        return pa
    except Exception:  # pragma: no cover - codec absent in some builds
        return None


@pytest.mark.skipif(_pa_snappy() is None, reason="pyarrow snappy absent")
def test_foreign_cross_validation_both_directions():
    """Bare pyarrow calls decode the wrapper's bytes and the wrapper
    decodes theirs: the preamble the wrapper reads is the one Arrow
    wrote. (The independent-implementation check is the Avro Java
    reader's snappy-java in tests/test_avro_ocf.py.)"""
    pa = _pa_snappy()
    rng = random.Random(11)
    cases = [
        b"",
        b"x",
        bytes(1000),
        (b'{"event_id":1,"user_id":22,"event_type":"click"}' * 2000),
        os.urandom(100_000),
        bytes(rng.randrange(4) for _ in range(50_000)),  # mixed entropy
        (b"ab" * 40_000) + os.urandom(5_000),  # long runs then noise
    ]
    for i, d in enumerate(cases):
        mine = S.compress(d)
        assert (
            pa.decompress(
                mine, decompressed_size=len(d), codec="snappy", asbytes=True
            )
            == d
        ), f"pyarrow failed to decode our stream, case {i}"
        theirs = pa.compress(d, codec="snappy", asbytes=True)
        assert S.decompress(theirs) == d, f"we failed pyarrow's stream {i}"


# -- xerial framing -----------------------------------------------------


def test_xerial_frame_layout_and_roundtrip():
    data = b"kafka snappy payload " * 4000  # > one 32 KiB block
    framed = S.xerial_frame(data)
    assert framed[:8] == S.XERIAL_MAGIC
    assert struct.unpack(">ii", framed[8:16]) == (1, 1)
    assert S.xerial_unframe(framed) == data
    # the sniffing reader takes both public shapes
    assert S.maybe_xerial_unframe(framed) == data
    assert S.maybe_xerial_unframe(S.compress(data)) == data


def test_xerial_rejects_corruption():
    framed = S.xerial_frame(b"payload" * 100)
    with pytest.raises(ValueError, match="xerial"):
        S.xerial_unframe(b"\x82SNAPPY\x01" + framed[8:])  # wrong magic
    with pytest.raises(ValueError, match="truncated xerial chunk"):
        S.xerial_unframe(framed[:-3])
    bad = bytearray(framed)
    bad[20] ^= 0xFF  # inside the first chunk's snappy stream
    with pytest.raises(ValueError):
        S.xerial_unframe(bytes(bad))


# -- the Avro snappy codec helpers --------------------------------------


def test_avro_codec_crc_binds_plain_bytes():
    data = b"avro block bytes " * 500
    enc = S.avro_snappy_encode(data)
    assert S.avro_snappy_decode(enc) == data
    (crc,) = struct.unpack(">I", enc[-4:])
    assert crc == zlib.crc32(data)  # CRC of the UNCOMPRESSED bytes
    with pytest.raises(ValueError, match="CRC mismatch"):
        S.avro_snappy_decode(enc[:-4] + struct.pack(">I", crc ^ 1))
    with pytest.raises(ValueError, match="shorter than its CRC"):
        S.avro_snappy_decode(b"ab")


# -- adversarial bytes: flips/truncations never hang or mis-decode ------


@settings(max_examples=80, deadline=None)
@given(st.data())
def test_decompress_survives_byte_flips(data):
    # deterministic base bytes: hypothesis replays the test body and
    # flags any run-to-run divergence as Flaky, so no urandom here
    noise = bytes((i * 197 + 11) % 256 for i in range(64))
    base = S.compress(b'{"k":1,"v":"snappy snappy"}' * 50 + noise)
    raw = bytearray(base)
    pos = data.draw(st.integers(min_value=0, max_value=len(raw) - 1))
    bit = data.draw(st.integers(min_value=0, max_value=7))
    raw[pos] ^= 1 << bit
    try:
        S.decompress(bytes(raw))
    except ValueError:
        pass  # the single designed rejection class


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_xerial_unframe_survives_truncation(data):
    base = S.xerial_frame(b"abcdef" * 2000)
    cut = data.draw(st.integers(min_value=0, max_value=len(base) - 1))
    try:
        S.xerial_unframe(base[:cut])
    except ValueError:
        pass
