"""Real media codecs from the Python standard library — no PIL/libav
needed. PNG (zlib + struct over the spec'd chunk layout) and WAV (the
stdlib ``wave`` module) are genuine file formats: blobs produced here
open in any image viewer / audio player, and the decoder rejects
corrupt bytes exactly the way PIL raises on a truncated file.

``stdlib_codec`` sniffs the magic and dispatches PNG → WAV → the
engine's synthetic GRFT format, so a single ``set_codec(stdlib_codec)``
upgrades the whole multimodal pipeline (operators/multimodal.py) from
the documented stub to real decoding, while staying dependency-free.
Real deployments with PIL/libav replace only this function; the Spark
plumbing (binary columns, Arrow batches, error-row capture) is shared.

PNG subset: 8-bit grayscale, no interlace, filter 0 — enough for
decode/resize/feature plumbing; a partial or re-filtered file raises
(caught upstream as a decode_error row).
"""

from __future__ import annotations

import io
import struct
import zlib
from typing import Any

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, pixels: bytes) -> bytes:
    """Minimal real PNG: 8-bit grayscale, filter 0 scanlines. ``pixels``
    must be width*height bytes, row-major."""
    if len(pixels) != width * height:
        raise ValueError("pixels must be width*height bytes")
    raw = b"".join(
        b"\x00" + pixels[y * width : (y + 1) * width] for y in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> dict[str, Any]:
    """Parse chunks, inflate IDAT, strip per-row filter bytes, return the
    typed metadata + pixel mean. Raises on anything malformed (bad magic,
    CRC mismatch, non-zero filters, truncation)."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, width, height, idat = 8, None, None, b""
    saw_end = False
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        if len(body) != ln:
            raise ValueError("truncated chunk")
        (crc,) = struct.unpack(">I", data[pos + 8 + ln : pos + 12 + ln])
        if crc != (zlib.crc32(tag + body) & 0xFFFFFFFF):
            raise ValueError("bad CRC")
        if tag == b"IHDR":
            width, height, depth, ctype = struct.unpack(">IIBB", body[:10])
            if depth != 8 or ctype != 0:
                raise ValueError("unsupported PNG variant")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            saw_end = True
            break
        pos += 12 + ln
    if width is None or not idat or not saw_end:
        raise ValueError("missing IHDR/IDAT/IEND")
    raw = zlib.decompress(idat)
    stride = width + 1
    if len(raw) != stride * height:
        raise ValueError("bad scanline length")
    total = 0
    for y in range(height):
        row = raw[y * stride : (y + 1) * stride]
        if row[0] != 0:
            raise ValueError("unsupported filter")
        total += sum(row[1:])
    n = width * height
    return {
        "kind": "image",
        "width": width,
        "height": height,
        "sample_rate": 0,
        "n_frames": 1,
        "mean_byte": total / n if n else 0.0,
    }


def encode_wav(sample_rate: int, samples: bytes) -> bytes:
    """Real mono 8-bit WAV via the stdlib wave module."""
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(sample_rate)
        w.writeframes(samples)
    return buf.getvalue()


def decode_wav(data: bytes) -> dict[str, Any]:
    import wave

    with wave.open(io.BytesIO(data), "rb") as w:
        n = w.getnframes()
        frames = w.readframes(n)
        sr = w.getframerate()
    total = sum(frames)
    return {
        "kind": "audio",
        "width": 0,
        "height": 0,
        "sample_rate": sr,
        "n_frames": n,
        "mean_byte": total / len(frames) if frames else 0.0,
    }


def png_pixels(data: bytes) -> tuple[int, int, bytes]:
    """Decode a PNG (the supported subset) to (width, height, pixels)."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    meta = decode_png(data)  # validates chunks/CRCs
    w, h = meta["width"], meta["height"]
    pos, idat = 8, b""
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat += data[pos + 8 : pos + 8 + ln]
        elif tag == b"IEND":
            break
        pos += 12 + ln
    raw = zlib.decompress(idat)
    stride = w + 1
    pixels = b"".join(raw[y * stride + 1 : (y + 1) * stride] for y in range(h))
    return w, h, pixels


def resize_png(data: bytes, new_w: int, new_h: int) -> bytes:
    """Real nearest-neighbor resample: decode → gather → re-encode. The
    output is again a spec-valid PNG."""
    w, h, px = png_pixels(data)
    out = bytearray(new_w * new_h)
    for y in range(new_h):
        sy = min(h - 1, (y * h) // new_h)
        row = px[sy * w : (sy + 1) * w]
        for x in range(new_w):
            out[y * new_w + x] = row[min(w - 1, (x * w) // new_w)]
    return encode_png(new_w, new_h, bytes(out))


def clip_wav(data: bytes, start_ms: int, dur_ms: int) -> bytes:
    """Real audio clipping: slice frames by time, re-encode WAV."""
    import wave

    with wave.open(io.BytesIO(data), "rb") as w:
        sr = w.getframerate()
        n = w.getnframes()
        frames = w.readframes(n)
    lo = min(n, (start_ms * sr) // 1000)
    hi = min(n, ((start_ms + dur_ms) * sr) // 1000)
    return encode_wav(sr, frames[lo:hi])


def stdlib_codec(content: bytes) -> dict[str, Any]:
    """Magic-sniffing dispatcher: PNG → WAV → GRFT synthetic. The drop-in
    argument for ``multimodal.set_codec``."""
    if content[:8] == PNG_SIG:
        return decode_png(content)
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return decode_wav(content)
    from gcp_etl_pipeline_spark.operators.multimodal import _fake_decode

    return _fake_decode(content)


def wav_samples(data: bytes) -> tuple[int, bytes]:
    """Decode a WAV (the supported mono-8-bit subset) to
    (sample_rate, raw sample bytes) — the audio twin of ``png_pixels``.
    The mono-8-bit contract is ENFORCED: a stereo or 16-bit clip would
    otherwise be fingerprinted byte-wise into a meaningless-but-accepted
    hash; raising routes it into callers' existing undecodable-drop
    path instead."""
    import wave

    with wave.open(io.BytesIO(data), "rb") as w:
        if w.getsampwidth() != 1 or w.getnchannels() != 1:
            raise ValueError(
                "wav_samples supports mono 8-bit only "
                f"(got {w.getnchannels()}ch x {8 * w.getsampwidth()}-bit)"
            )
        return w.getframerate(), w.readframes(w.getnframes())


# ------------------------------------------------ PDF (scoped text codec)
#
# The third real stdlib codec (after PNG/zlib and WAV/wave): a SCOPED
# PDF writer/reader for text-object documents — enough for the crawl
# intake tier to stop dropping application/pdf outright. The writer
# emits genuine PDF 1.4 (correct xref byte offsets, a viewer opens it);
# the reader is Length-driven (never scans for 'endstream', which can
# legally occur inside FlateDecode bytes), inflates /FlateDecode
# content streams with zlib, and extracts Tj/TJ show-text operators
# with full string-literal escape handling (\\ \( \) \n \r \t \b \f,
# octal \ddd, line continuations, nested balanced parens). Out of
# scope — and loudly rejected, never silently mis-read: indirect
# /Length references, non-Flate filters, hex strings, CMap-encoded
# fonts. A real deployment swaps in pdfminer the way PIL swaps into
# stdlib_codec; the Spark plumbing is shared.

PDF_MAGIC = b"%PDF-"


def _pdf_escape(s: str) -> str:
    return (
        s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    )


def encode_pdf(pages: list[str], compress: bool = False) -> bytes:
    """A real single-font PDF 1.4: one page per entry, each page one
    BT/Tj/ET text object. ``compress=True`` FlateDecode-compresses the
    content streams (zlib — same determinism argument as gzip_member).
    Offsets in the xref table are byte-correct."""
    n_pages = len(pages)
    objs: list[bytes] = []
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    font_num = 3 + 2 * n_pages
    for i, text in enumerate(pages):
        content = f"BT /F1 12 Tf 72 720 Td ({_pdf_escape(text)}) Tj ET".encode(
            "latin-1"
        )
        filt = b""
        if compress:
            import zlib

            content = zlib.compress(content, 6)
            filt = b" /Filter /FlateDecode"
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Contents {4 + 2 * i} 0 R "
            f"/Resources << /Font << /F1 {font_num} 0 R >> >> >>".encode()
        )
        objs.append(
            f"<< /Length {len(content)}".encode()
            + filt
            + b" >>\nstream\n"
            + content
            + b"\nendstream"
        )
    objs.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n".encode()
    )
    return bytes(out)


def _pdf_string(b: bytes, i: int) -> tuple[str, int]:
    """Parse one PDF string literal starting at ``b[i] == '('``;
    returns (decoded text, index past the closing paren)."""
    depth, i, out = 1, i + 1, bytearray()
    esc = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}
    while i < len(b) and depth:
        c = b[i]
        if c == 0x5C:  # backslash escape
            i += 1
            if i >= len(b):
                break
            e = b[i]
            if e in esc:
                out.append(esc[e])
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                val, k = 0, 0
                while k < 3 and i < len(b) and 0x30 <= b[i] <= 0x37:
                    val = val * 8 + b[i] - 0x30
                    i += 1
                    k += 1
                out.append(val & 0xFF)
            elif e == 0x0A:  # line continuation
                i += 1
            elif e == 0x0D:
                i += 1
                if i < len(b) and b[i] == 0x0A:
                    i += 1
            else:  # \( \) \\ and any unknown escape: literal char
                out.append(e)
                i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return out.decode("latin-1"), i


def _pdf_streams(data: bytes) -> list[bytes]:
    """All decoded stream objects, Length-driven. The /Length key of
    each stream dict says exactly how many bytes follow the
    ``stream`` keyword's EOL — scanning for ``endstream`` instead
    would tear inside FlateDecode bytes that contain it by chance."""
    import re
    import zlib

    out = []
    # FLAT dicts only ([^<>]*): a lazy .*? could start at an earlier
    # non-stream dict and span across it to the next 'stream' keyword.
    # The scan resumes PAST each Length-driven payload (pos), never
    # inside it — stream bytes that happen to contain '<< /Length n >>
    # stream' must not hijack framing (a finditer form
    # of this scan failed on the writer's own output when a page's
    # text mentioned PDF dict syntax).
    pat = re.compile(rb"<<([^<>]*)>>\s*stream(\r\n|\n)")
    pos = 0
    spans: list[tuple[int, int]] = []  # matched frames + payloads
    while True:
        m = pat.search(data, pos)
        if m is None:
            break
        d = m.group(1)
        lm = re.search(rb"/Length\s+(\d+)", d)
        if not lm:
            raise ValueError("unsupported PDF: missing /Length")
        # indirect-reference detection by direct inspection of what
        # follows the digits — the earlier (?!\s+\d+\s+R) lookahead
        # BACKTRACKED ('/Length 45 0 R' matched with Length=4, then
        # read 4 garbage bytes), so multi-digit object numbers were
        # silently mis-framed instead of loudly rejected
        if re.match(rb"\s+\d+\s+R(?![0-9A-Za-z])", d[lm.end():]):
            raise ValueError("unsupported PDF: indirect /Length")
        start = m.end()
        n = int(lm.group(1))
        if start + n > len(data):
            raise ValueError("truncated PDF stream")
        body = data[start : start + n]
        if b"/Filter" in d:
            if b"FlateDecode" not in d:
                raise ValueError(
                    f"unsupported PDF filter in {d[:80]!r}"
                )
            body = zlib.decompress(body)
        out.append(body)
        spans.append((m.start(), start + n))
        pos = start + n
    # the FLAT-dict pattern cannot match a stream whose dictionary
    # nests another dict (/DecodeParms << ... >>); without this check
    # such a stream would be SILENTLY skipped, against the module's
    # loud-rejection contract. The detector looks for the
    # FRAMING SIGNATURE '>> stream<EOL>' outside matched frames — not
    # bare 'stream' tokens, which are legal content anywhere (a title
    # string '(live stream)' must not abort a valid document; a
    # token form false-rejected exactly that).
    for t in re.finditer(rb">>\s*stream(\r\n|\n)", data):
        o = t.start()
        if not any(s <= o < e for s, e in spans):
            raise ValueError(
                "unsupported PDF: non-flat stream dictionary"
            )
    return out


def pdf_text(data: bytes) -> str:
    """Extract shown text from every content stream: Tj appends its
    string, TJ appends each string element of its array (kerning
    numbers skipped), and each BT..ET text object becomes one output
    line. Raises on non-PDF magic or unsupported constructs — callers
    route that into their decode_error column."""
    if data[: len(PDF_MAGIC)] != PDF_MAGIC:
        raise ValueError("not a PDF (bad magic)")
    streams = _pdf_streams(data)
    if not streams:
        # a text-document PDF with zero content streams is a torn or
        # out-of-scope file — surface it, don't return '' silently
        raise ValueError("no content streams found")
    lines: list[str] = []
    for stream in streams:
        i, cur, shown = 0, [], False
        while i < len(stream):
            c = stream[i]
            if c == 0x28:  # string literal
                s, i = _pdf_string(stream, i)
                cur.append(s)
                continue
            if c == 0x3C:  # '<': hex string or inline dict operand —
                # out of scope; reject loudly per the module contract
                # rather than silently showing '' for <48656c6c6f> Tj
                raise ValueError(
                    "unsupported PDF content: hex string or dict operand"
                )
            if stream[i : i + 2] == b"BT":
                cur, shown = [], False
                i += 2
                continue
            if stream[i : i + 2] == b"ET":
                if shown:
                    lines.append("".join(cur))
                cur, shown = [], False
                i += 2
                continue
            if stream[i : i + 2] in (b"Tj", b"TJ"):
                shown = True
                i += 2
                continue
            i += 1
    return "\n".join(lines)
