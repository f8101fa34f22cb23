"""Adversarial corruption tests for the binary readers: bit flips and
truncation over ROOT files, FLAC streams, JPEG entropy data, and WARC
records must FAIL LOUD (a clean, typed exception) or — where the format
itself carries no integrity check over the mutated region — degrade to
a well-formed result, never hang, never crash with a low-level
IndexError/struct.error from deep inside the parser, and never silently
ingest garbage where a checksum exists to catch it.

Contracts being pinned (per-format, derived from the specs):
- FLAC frames carry CRC-8 (header) + CRC-16 (whole frame): CRC detects
  EVERY single-bit error, so ANY one-bit flip inside the frame region
  must raise ValueError (the flac.py docstring promise, tested
  adversarially here).
- JPEG has NO payload checksum: flips inside entropy data may decode to
  different pixels (that IS the format), but marker/header corruption
  and truncation must raise cleanly.
- WARC framing (magic, header block, Content-Length, record
  terminator) is self-checking: flips that break framing raise
  ValueError; flips inside header VALUES (URI bytes etc.) may pass.
- ROOT: key framing / directory walks raise RootFileError (a
  ValueError) on structural damage; compressed baskets are covered by
  zlib/LZMA integrity. Truncation must always raise.

Positions are sampled deterministically (fixed seed) so a failure
reproduces exactly.
"""

import gzip
import io
import lzma
import os
import zlib

import numpy as np
import pytest

from coffea_spark.testing import sample


# every reader may legitimately surface these on corrupt input; anything
# else (IndexError, KeyError, struct.error, OverflowError...) is a
# parser walking off a cliff instead of checking its framing
CLEAN_ERRORS = (ValueError, EOFError, OSError, zlib.error, lzma.LZMAError,
                NotImplementedError)


def flip_bit(data: bytes, byte_pos: int, bit: int = 0) -> bytes:
    b = bytearray(data)
    b[byte_pos] ^= 1 << bit
    return bytes(b)


# ---------------------------------------------------------------------------
# FLAC
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def flac_blob():
    from coffea_spark.llmdata.flac import encode_flac

    rng = np.random.default_rng(42)
    samples = (rng.integers(-20000, 20000, 800)).astype(np.int16)
    blob = encode_flac(samples, 8000)
    # locate the first audio frame: metadata blocks chain from byte 4,
    # each block = 1-byte type (MSB = last) + 3-byte length + payload
    pos, last = 4, False
    while not last:
        hdr = blob[pos]
        last = bool(hdr & 0x80)
        size = int.from_bytes(blob[pos + 1: pos + 4], "big")
        pos += 4 + size
    return blob, pos, samples


def test_flac_clean_roundtrip(flac_blob):
    from coffea_spark.llmdata.flac import decode_flac

    blob, _, samples = flac_blob
    out, rate = decode_flac(blob)
    assert rate == 8000
    np.testing.assert_array_equal(out, samples)


def test_flac_every_sampled_bitflip_in_frames_raises(flac_blob):
    from coffea_spark.llmdata.flac import decode_flac

    blob, frame_start, _ = flac_blob
    rng = np.random.default_rng(7)
    positions = rng.integers(frame_start, len(blob), 120)
    bits = rng.integers(0, 8, 120)
    for pos, bit in zip(positions, bits):
        with pytest.raises(ValueError):
            decode_flac(flip_bit(blob, int(pos), int(bit)))


def test_flac_truncation_raises(flac_blob):
    from coffea_spark.llmdata.flac import decode_flac

    blob, frame_start, _ = flac_blob
    rng = np.random.default_rng(11)
    for cut in rng.integers(1, len(blob) - 1, 40):
        with pytest.raises(ValueError):
            decode_flac(blob[: int(cut)])


def test_flac_wrong_magic_raises(flac_blob):
    from coffea_spark.llmdata.flac import decode_flac

    blob, _, _ = flac_blob
    with pytest.raises(ValueError, match="fLaC"):
        decode_flac(b"XLaC" + blob[4:])


# ---------------------------------------------------------------------------
# JPEG
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def jpeg_blob():
    from coffea_spark.llmdata.jpeg import decode_jpeg, encode_gray_jpeg

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (24, 32)).astype(np.uint8)
    blob = encode_gray_jpeg(img)
    sos = blob.find(b"\xff\xda")
    assert sos > 0
    ref = decode_jpeg(blob)
    return blob, sos, ref


def test_jpeg_header_bitflips_fail_loud_or_decode(jpeg_blob):
    """Flips BEFORE SOS hit markers/tables: either a clean typed error
    or a decode that still returns the declared shape (a flipped
    quantization-table byte changes pixels, not structure)."""
    from coffea_spark.llmdata.jpeg import decode_jpeg

    blob, sos, ref = jpeg_blob
    rng = np.random.default_rng(13)
    for pos in rng.integers(2, sos, 80):
        mutated = flip_bit(blob, int(pos), int(rng.integers(0, 8)))
        try:
            out = decode_jpeg(mutated)
        except CLEAN_ERRORS:
            continue
        assert out.dtype == np.uint8 and out.ndim in (2, 3)


def test_jpeg_entropy_bitflips_never_crash(jpeg_blob):
    """No checksum over entropy data: silent pixel damage is the
    format's own contract, but the decoder must never hang or throw a
    low-level error."""
    from coffea_spark.llmdata.jpeg import decode_jpeg

    blob, sos, ref = jpeg_blob
    rng = np.random.default_rng(17)
    silent = 0
    for pos in rng.integers(sos + 14, len(blob) - 2, 80):
        mutated = flip_bit(blob, int(pos), int(rng.integers(0, 8)))
        try:
            out = decode_jpeg(mutated)
            assert out.shape == ref.shape and out.dtype == np.uint8
            silent += 1
        except CLEAN_ERRORS:
            pass
    # most entropy flips decode (possibly wrong) — proves we exercised
    # the no-checksum path, not just the error path
    assert silent > 0


def test_jpeg_truncation_raises(jpeg_blob):
    from coffea_spark.llmdata.jpeg import decode_jpeg

    blob, _, _ = jpeg_blob
    rng = np.random.default_rng(19)
    for cut in rng.integers(2, len(blob) - 2, 40):
        with pytest.raises(CLEAN_ERRORS):
            decode_jpeg(blob[: int(cut)])


# ---------------------------------------------------------------------------
# WARC
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def warc_blob():
    from coffea_spark.llmdata.warc import parse_warc_bytes, write_warc
    import tempfile

    recs = [
        {
            "headers": {
                "WARC-Type": "response",
                "WARC-Target-URI": f"https://example.com/{i}",
                "Content-Type": "text/plain",
            },
            "payload": (b"payload-%d " % i) * (3 + i),
        }
        for i in range(5)
    ]
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "fuzz.warc")
        write_warc(p, recs)
        blob = open(p, "rb").read()
    parsed = parse_warc_bytes(blob)
    assert len(parsed) == 5
    return blob, parsed


def test_warc_bitflips_fail_loud_or_preserve_framing(warc_blob):
    from coffea_spark.llmdata.warc import parse_warc_bytes

    blob, parsed = warc_blob
    rng = np.random.default_rng(23)
    for pos in rng.integers(0, len(blob), 150):
        mutated = flip_bit(blob, int(pos), int(rng.integers(0, 8)))
        try:
            out = parse_warc_bytes(mutated)
        except CLEAN_ERRORS:
            continue
        # framing survived: same record count, payload lengths intact
        assert len(out) == len(parsed)
        assert [len(r["payload"]) for r in out] == [
            len(r["payload"]) for r in parsed
        ]


def test_warc_content_length_damage_raises(warc_blob):
    from coffea_spark.llmdata.warc import parse_warc_bytes

    blob, _ = warc_blob
    # every digit of every Content-Length value: +-1 on a digit shifts
    # framing and must be caught by the terminator/next-record check
    at = 0
    found = 0
    while True:
        at = blob.find(b"Content-Length: ", at)
        if at < 0:
            break
        v = at + len(b"Content-Length: ")
        while blob[v: v + 1].isdigit():
            for repl in (b"0", b"9"):
                if blob[v: v + 1] != repl:
                    mutated = blob[:v] + repl + blob[v + 1:]
                    with pytest.raises(ValueError):
                        parse_warc_bytes(mutated)
                    found += 1
            v += 1
        at = v
    assert found >= 5


def test_warc_truncation_raises_except_record_boundaries(warc_blob):
    from coffea_spark.llmdata.warc import parse_warc_bytes

    blob, parsed = warc_blob
    # record boundaries = positions where a strict prefix is itself a
    # valid WARC file; everywhere else truncation must raise
    rng = np.random.default_rng(29)
    for cut in rng.integers(1, len(blob) - 1, 100):
        try:
            out = parse_warc_bytes(blob[: int(cut)])
        except CLEAN_ERRORS:
            continue
        assert 0 < len(out) < len(parsed)  # clean record boundary only


def test_warc_gzip_member_corruption_raises(warc_blob):
    from coffea_spark.llmdata.warc import parse_warc_bytes

    blob, parsed = warc_blob
    gz = gzip.compress(blob)
    assert len(parse_warc_bytes(gz)) == len(parsed)
    rng = np.random.default_rng(31)
    raised = 0
    for pos in rng.integers(10, len(gz), 60):
        try:
            parse_warc_bytes(flip_bit(gz, int(pos), int(rng.integers(0, 8))))
        except CLEAN_ERRORS:
            raised += 1
    # DEFLATE+CRC32 catches essentially every flip
    assert raised >= 55


# ---------------------------------------------------------------------------
# ROOT
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def root_blob():
    blob = open(sample("treemaker.root"), "rb").read()
    return blob


def _try_read(path):
    from coffea_spark.root_reader import RootTreeReader

    r = RootTreeReader(path)
    # touch a few branches so basket decode actually runs
    names = list(r.branch_names)
    for name in names[:3]:
        r.array(name)
    return r.entries


@pytest.mark.samples
def test_root_clean_read(root_blob, tmp_path):
    p = tmp_path / "clean.root"
    p.write_bytes(root_blob)
    assert _try_read(str(p)) == 10


@pytest.mark.samples
def test_root_bitflips_fail_loud_or_read(root_blob, tmp_path):
    """Flips anywhere in the file: RootFileError/ValueError (framing),
    zlib/LZMA integrity errors (compressed baskets), or a successful
    read (flip landed in dead space or an unread branch). Never a
    low-level IndexError/struct.error, never a hang."""
    rng = np.random.default_rng(37)
    for i, pos in enumerate(rng.integers(0, len(root_blob), 60)):
        mutated = flip_bit(root_blob, int(pos), int(rng.integers(0, 8)))
        p = tmp_path / f"flip{i}.root"
        p.write_bytes(mutated)
        try:
            _try_read(str(p))
        except CLEAN_ERRORS:
            pass
        finally:
            p.unlink()


@pytest.mark.samples
def test_root_truncation_raises(root_blob, tmp_path):
    rng = np.random.default_rng(41)
    for i, cut in enumerate(rng.integers(100, len(root_blob) - 1, 30)):
        p = tmp_path / f"cut{i}.root"
        p.write_bytes(root_blob[: int(cut)])
        with pytest.raises(CLEAN_ERRORS):
            _try_read(str(p))
        p.unlink()


@pytest.mark.samples
def test_root_header_magic_damage_raises(root_blob, tmp_path):
    p = tmp_path / "magic.root"
    p.write_bytes(b"xoot" + root_blob[4:])
    with pytest.raises(ValueError):
        _try_read(str(p))


# ---------------------------------------------------------------------------
# RNTuple
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def rntuple_blob():
    return open(sample("nano_dimuon_rntuple.root"), "rb").read()


def _try_read_rntuple(path):
    from coffea_spark.rntuple import RNTupleReader

    r = RNTupleReader(path)
    for name in list(r.branch_names)[:3]:
        r.array(name)
    return r.entries


@pytest.mark.samples
def test_rntuple_clean_read(rntuple_blob, tmp_path):
    p = tmp_path / "clean.root"
    p.write_bytes(rntuple_blob)
    assert _try_read_rntuple(str(p)) > 0


@pytest.mark.samples
def test_rntuple_bitflips_fail_loud_or_read(rntuple_blob, tmp_path):
    """Envelope/page corruption: RootFileError (framing), compression-
    codec integrity errors, or a clean read when the flip lands in dead
    space / an untouched column. Never a hang, never a low-level
    IndexError/struct.error escaping the reader."""
    rng = np.random.default_rng(43)
    for i, pos in enumerate(rng.integers(0, len(rntuple_blob), 60)):
        mutated = flip_bit(rntuple_blob, int(pos), int(rng.integers(0, 8)))
        p = tmp_path / f"flip{i}.root"
        p.write_bytes(mutated)
        try:
            _try_read_rntuple(str(p))
        except CLEAN_ERRORS:
            pass
        finally:
            p.unlink()


@pytest.mark.samples
def test_rntuple_truncation_raises(rntuple_blob, tmp_path):
    rng = np.random.default_rng(47)
    for i, cut in enumerate(rng.integers(100, len(rntuple_blob) - 1, 30)):
        p = tmp_path / f"cut{i}.root"
        p.write_bytes(rntuple_blob[: int(cut)])
        with pytest.raises(CLEAN_ERRORS):
            _try_read_rntuple(str(p))
        p.unlink()


@pytest.fixture(scope="module")
def jpeg_variant_blobs():
    from coffea_spark.llmdata.jpeg import (
        decode_jpeg,
        encode_color_jpeg,
        encode_gray_jpeg,
        encode_progressive_jpeg,
    )

    rng = np.random.default_rng(3)
    gray = rng.integers(0, 256, (24, 32)).astype(np.uint8)
    color = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
    blobs = {
        "color": encode_color_jpeg(color),
        "progressive": encode_progressive_jpeg(gray),
    }
    for b in blobs.values():
        decode_jpeg(b)  # clean decode sanity
    return blobs


def test_jpeg_color_and_progressive_bitflips_fail_loud(jpeg_variant_blobs):
    """The color (interleaved MCU) and progressive (multi-scan) paths
    have their own marker walks and table plumbing — fuzz them
    separately from the baseline-gray path."""
    from coffea_spark.llmdata.jpeg import decode_jpeg

    rng = np.random.default_rng(53)
    for name, blob in jpeg_variant_blobs.items():
        for pos in rng.integers(2, len(blob), 120):
            mutated = flip_bit(blob, int(pos), int(rng.integers(0, 8)))
            try:
                out = decode_jpeg(mutated)
                assert out.dtype == np.uint8
            except CLEAN_ERRORS:
                pass


def test_jpeg_progressive_truncation_raises(jpeg_variant_blobs):
    """A progressive stream cut between scans would decode to a
    complete-looking (merely blurrier) image — the decoder must require
    EOI so truncation cannot pass as success."""
    from coffea_spark.llmdata.jpeg import decode_jpeg

    blob = jpeg_variant_blobs["progressive"]
    rng = np.random.default_rng(59)
    for cut in rng.integers(2, len(blob) - 2, 60):
        with pytest.raises(CLEAN_ERRORS):
            decode_jpeg(blob[: int(cut)])


# ---------------------------------------------------------------------------
# multimodal codecs (PNG / BMP / PPM / Y4M / WAV-PCM / G.711 / IMA ADPCM)
# ---------------------------------------------------------------------------


def _codec_cases():
    from coffea_spark.llmdata import multimodal as M

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (20, 24)).astype(np.uint8)
    cimg = rng.integers(0, 256, (12, 16, 3)).astype(np.uint8)
    frames = rng.integers(0, 256, (3, 16, 16)).astype(np.uint8)
    samp = (rng.integers(-20000, 20000, 600)).astype(np.int16)
    return [
        ("png", M.encode_png(cimg), M.decode_png),
        ("bmp", M.encode_bmp(cimg), M.decode_bmp),
        ("ppm", M.encode_ppm(cimg), M.decode_ppm),
        ("pgm", M.encode_pgm(img), M.decode_ppm),
        ("y4m", M.encode_y4m(frames), M.decode_y4m),
        ("wav", M.encode_wav(samp, 8000), M.decode_wav),
        ("g711", M.encode_wav_g711(samp, 8000), M.decode_wav),
        ("adpcm", M.encode_wav_adpcm(samp, 8000), M.decode_wav),
    ]


@pytest.mark.parametrize("case", _codec_cases(), ids=lambda c: c[0])
def test_multimodal_codec_bitflips_fail_loud(case):
    """PNG chunks carry CRC32s (now verified — header damage must not
    decode to silently wrong pixels); RIFF/Y4M/PPM framing must reject
    structural damage with typed errors, never struct/Index/ZeroDivision
    from inside the parser."""
    name, blob, dec = case
    dec(blob)
    rng = np.random.default_rng(61)
    for pos in rng.integers(0, len(blob), 150):
        try:
            dec(flip_bit(blob, int(pos), int(rng.integers(0, 8))))
        except CLEAN_ERRORS:
            pass


@pytest.mark.parametrize("case", _codec_cases(), ids=lambda c: c[0])
def test_multimodal_codec_truncation_fails_loud(case):
    name, blob, dec = case
    rng = np.random.default_rng(67)
    for cut in rng.integers(1, len(blob) - 1, 60):
        try:
            dec(blob[: int(cut)])
        except CLEAN_ERRORS:
            pass


# ---------------------------------------------------------------------------
# correction-file text/CSV parsers (config corruption must be typed)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "reader,fixture",
    [
        ("read_jec_txt", "demo3d.jec.txt"),
        ("read_junc_txt", "demo.junc.txt"),
        ("read_btag_csv", "demo.btag.csv"),
    ],
)
def test_correction_parsers_fail_loud(tmp_path, reader, fixture):
    """Corrupt/truncated correction configs must raise ValueError (or
    kin) naming the file — never a raw IndexError from inside the
    table builder (the _parse_guard boundary)."""
    from coffea_spark import correction_files as CF

    fn = getattr(CF, reader)
    path = os.path.join(
        os.path.dirname(__file__), "..", "coffea_spark", "data", fixture
    )
    blob = open(path, "rb").read()
    fn(path)  # clean parse sanity
    rng = np.random.default_rng(71)
    for trial in range(80):
        mutated = bytearray(blob)
        if trial % 2 == 0:
            mutated = mutated[: int(rng.integers(1, len(blob)))]
        else:
            q = int(rng.integers(0, len(blob)))
            mutated[q] ^= 1 << int(rng.integers(0, 8))
        p = tmp_path / fixture
        p.write_bytes(bytes(mutated))
        try:
            fn(str(p))
        except (ValueError, KeyError, NotImplementedError, EOFError, OSError):
            pass
