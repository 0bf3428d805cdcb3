"""Stdlib PNG/WAV codecs: real-format roundtrips, corrupt rejection, and
the default decoder through the Spark multimodal pipeline."""

from __future__ import annotations

import pytest

from gcp_etl_pipeline_spark.operators import codecs, multimodal


def test_png_roundtrip_and_mean():
    pixels = bytes(range(64)) * 4  # 16x16
    blob = codecs.encode_png(16, 16, pixels)
    d = codecs.decode_png(blob)
    assert (d["width"], d["height"], d["kind"]) == (16, 16, "image")
    assert abs(d["mean_byte"] - sum(pixels) / 256) < 1e-9


def test_png_rejects_corruption():
    blob = codecs.encode_png(8, 8, bytes(64))
    with pytest.raises(ValueError):
        codecs.decode_png(b"XX" + blob[2:])  # magic
    with pytest.raises(ValueError):
        codecs.decode_png(blob[:-7])  # truncated IEND
    flipped = bytearray(blob)
    flipped[40] ^= 0xFF  # body byte inside IDAT/IHDR region → CRC fails
    with pytest.raises(ValueError):
        codecs.decode_png(bytes(flipped))


def test_wav_roundtrip():
    samples = bytes((i * 7) % 256 for i in range(1000))
    blob = codecs.encode_wav(16000, samples)
    d = codecs.decode_wav(blob)
    assert (d["kind"], d["sample_rate"], d["n_frames"]) == ("audio", 16000, 1000)
    assert abs(d["mean_byte"] - sum(samples) / 1000) < 1e-9


def test_set_codec_upgrades_spark_pipeline(spark):
    """Real PNG and WAV blobs flow through decode_media with the default
    (stdlib) decoder; GRFT blobs keep decoding; garbage becomes an error
    row, not a stage failure."""
    rows = [
        (1, "image", codecs.encode_png(16, 8, bytes(range(128))), None),
        (2, "audio", codecs.encode_wav(8000, bytes(500)), None),
        (3, "image", multimodal.encode_fake("image", 32, 32, 0, 1, seed=9), None),
        (4, "image", b"not media at all", None),
    ]
    df = spark.createDataFrame(
        rows, "media_id BIGINT, kind STRING, content BINARY, pad STRING"
    )
    out = {r.media_id: r for r in multimodal.decode_media(df).collect()}
    assert (out[1].width, out[1].height, out[1].kind) == (16, 8, "image")
    assert (out[2].sample_rate, out[2].n_frames) == (8000, 500)
    assert out[3].width == 32 and out[3].decode_error is None
    assert out[4].decode_error is not None


def test_png_external_readability():
    """The emitted PNG must be a spec-valid file — verified by an
    independent decoder if one exists (PIL), else by strict structural
    checks (signature, IHDR first, IEND last, CRCs already enforced)."""
    blob = codecs.encode_png(4, 4, bytes(16))
    try:
        from PIL import Image  # pragma: no cover - not in this container
        import io

        img = Image.open(io.BytesIO(blob))
        assert img.size == (4, 4)
    except ImportError:
        assert blob[:8] == codecs.PNG_SIG
        assert blob[12:16] == b"IHDR"
        assert blob[-8:-4] == b"IEND"


def test_resize_png_real_resample():
    # 4x4 gradient -> 8x8: nearest-neighbor, still a valid PNG
    src = codecs.encode_png(4, 4, bytes(range(16)))
    out = codecs.resize_png(src, 8, 8)
    d = codecs.decode_png(out)
    assert (d["width"], d["height"]) == (8, 8)
    _, _, px = codecs.png_pixels(out)
    # corner pixels map to the source corners
    assert px[0] == 0 and px[-1] == 15


def test_clip_wav_slices_by_time():
    blob = codecs.encode_wav(1000, bytes(range(250)) * 4)  # 1000 frames @1kHz
    clip = codecs.clip_wav(blob, start_ms=250, dur_ms=500)
    d = codecs.decode_wav(clip)
    assert d["n_frames"] == 500 and d["sample_rate"] == 1000


def test_resize_images_spark_handles_png_and_grft(spark):
    rows = [
        (1, codecs.encode_png(16, 16, bytes(256))),
        (2, multimodal.encode_fake("image", 64, 64, 0, 1, seed=3)),
        (3, multimodal.encode_fake("audio", 0, 0, 8000, 10, seed=4)),
    ]
    df = spark.createDataFrame(rows, "media_id BIGINT, content BINARY")
    out = {r.media_id: bytes(r.content)
           for r in multimodal.resize_images(df, 8, 8).collect()}
    assert codecs.decode_png(out[1])["width"] == 8  # real resample
    from gcp_etl_pipeline_spark.operators.multimodal import _fake_decode
    assert _fake_decode(out[2])["width"] == 8  # header repack
    assert out[3] == rows[2][1]  # audio untouched


def test_pdf_roundtrip_flate_and_plain():
    from gcp_etl_pipeline_spark.operators.codecs import encode_pdf, pdf_text

    pages = ["Hello (world) \\ back", "second page. q(x) = y", ""]
    for comp in (False, True):
        pdf = encode_pdf(pages, compress=comp)
        assert pdf[:5] == b"%PDF-" and b"%%EOF" in pdf
        assert pdf_text(pdf) == "\n".join(pages), comp
    # deterministic encode (fixture reproducibility)
    assert encode_pdf(pages, True) == encode_pdf(pages, True)


def test_pdf_xref_offsets_are_byte_correct():
    import re

    from gcp_etl_pipeline_spark.operators.codecs import encode_pdf

    pdf = encode_pdf(["one", "two"])
    xref_at = int(re.search(rb"startxref\n(\d+)", pdf).group(1))
    assert pdf[xref_at : xref_at + 4] == b"xref"
    offsets = [
        int(m.group(1))
        for m in re.finditer(rb"^(\d{10}) 00000 n", pdf[xref_at:], re.M)
    ]
    for num, off in enumerate(offsets, start=1):
        assert pdf[off:].startswith(f"{num} 0 obj".encode()), (num, off)


def test_pdf_text_rejects_garbage_loudly():
    import pytest

    from gcp_etl_pipeline_spark.operators.codecs import encode_pdf, pdf_text

    pdf = encode_pdf(["page"], compress=True)
    with pytest.raises(ValueError, match="magic"):
        pdf_text(b"not a pdf")
    with pytest.raises(ValueError, match="no content streams"):
        pdf_text(pdf[:40])  # torn before any stream
    import re

    cut = pdf[: re.search(rb"stream\r?\n", pdf).end() + 3]
    with pytest.raises(ValueError, match="truncated"):
        pdf_text(cut)  # torn inside a stream body


def test_pdf_tj_arrays_octal_and_nested_parens():
    from gcp_etl_pipeline_spark.operators.codecs import pdf_text

    raw = b"BT [(ab) -120 (cd\\051e)] TJ ET BT (\\101\\102 (nested)) Tj ET"
    body = (
        b"<< /Length " + str(len(raw)).encode() + b" >>\nstream\n"
        + raw + b"\nendstream"
    )
    doc = b"%PDF-1.4\n1 0 obj\n" + body + b"\nendobj\n%%EOF\n"
    assert pdf_text(doc) == "abcd)e\nAB (nested)"


def test_pdf_indirect_length_rejected_multidigit():
    # round-12 review: the old (?!\s+\d+\s+R) lookahead BACKTRACKED on
    # '/Length 45 0 R' (matched Length=4) — indirect refs with
    # multi-digit object numbers must reject loudly, not mis-frame
    import pytest

    from gcp_etl_pipeline_spark.operators.codecs import (
        PDF_MAGIC,
        pdf_text,
    )

    doc = (
        PDF_MAGIC + b"\n1 0 obj << /Length 45 0 R >> stream\n"
        + b"x" * 60 + b"\nendstream endobj\n%%EOF"
    )
    with pytest.raises(ValueError, match="indirect /Length"):
        pdf_text(doc)


def test_pdf_body_mentioning_dict_syntax_roundtrips():
    # round-12 review: the finditer scan used to resume INSIDE stream
    # bodies, so a page whose text mentions PDF dict syntax hijacked
    # the next frame ('truncated PDF stream' on the writer's own output)
    from gcp_etl_pipeline_spark.operators.codecs import (
        encode_pdf,
        pdf_text,
    )

    pages = ["page about pdfs: << /Length 999 >> stream trick", "normal"]
    assert pdf_text(encode_pdf(pages)).split("\n") == pages
    assert pdf_text(encode_pdf(pages, compress=True)).split("\n") == pages


def test_pdf_hex_string_rejected_loudly():
    # hex show-text operands are out of scope and must raise, never
    # silently extract '' (the intake would record a clean empty doc)
    import pytest

    from gcp_etl_pipeline_spark.operators.codecs import (
        PDF_MAGIC,
        pdf_text,
    )

    body = b"BT <48656c6c6f> Tj ET"
    doc = (
        PDF_MAGIC
        + b"\n1 0 obj << /Length %d >> stream\n" % len(body)
        + body
        + b"\nendstream endobj\n%%EOF"
    )
    with pytest.raises(ValueError, match="hex string"):
        pdf_text(doc)


def test_gzip_members_cap_is_callers_choice():
    from gcp_etl_pipeline_spark.operators.text import (
        gzip_member,
        gzip_members,
    )

    blob = b"".join(gzip_member(b"r%d" % i) for i in range(5))
    assert len(gzip_members(blob)) == 5
    many = b"".join(gzip_member(b"r%d" % i) for i in range(1025))
    assert len(gzip_members(many)) == 1024  # visible cap
