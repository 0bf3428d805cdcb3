"""Multimodal (image/audio/video) column plumbing for training-data
pipelines.

Media are opaque ``binary`` columns with a typed metadata struct — the
at-scale layout: bytes stay in parquet/Arrow pages end to end, Spark never
interprets them, and all decode/transform work runs as Arrow-batched
``mapInPandas`` stages that scale with partitions.

The DEFAULT codec is real: spec-valid PNG (zlib/CRC, filter 0) and WAV
(stdlib ``wave``) encode/decode in ``operators/codecs.py`` — no external
image/audio libraries needed. The engine's synthetic GRFT header format
(below) remains as a second dispatch target for structure-only tests;
further formats (PIL, libav) join ``codecs.stdlib_codec``'s dispatch.
Everything around the codec — schemas, batch iteration, partitioning,
fan-out row yields — is format-agnostic.

Synthetic media format (``make_fake_media``): a 16-byte header
``b"GRFT" | kind(1B) | width(2B) | height(2B) | sample_rate(3B) |
n_frames(2B) | seed(2B)`` followed by seed-derived payload bytes. Real
enough to exercise parsing, wrong-magic error paths, and per-frame
sampling.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MAGIC = b"GRFT"
KINDS = {0: "image", 1: "audio", 2: "video"}
KIND_IDS = {v: k for k, v in KINDS.items()}

MEDIA_SCHEMA = (
    "media_id BIGINT, kind STRING, content BINARY, "
    "meta STRUCT<width: INT, height: INT, sample_rate: INT, n_frames: INT, "
    "format: STRING>"
)


def _payload(seed: int, n: int = 256) -> bytes:
    out = b""
    counter = 0
    while len(out) < n:
        out += hashlib.md5(f"{seed}|{counter}".encode()).digest()
        counter += 1
    return out[:n]


_HEADER_FMT = ">BHHIH"  # kind(1) width(2) height(2) sample_rate(4) frames(2)


def encode_fake(kind: str, width: int, height: int, sample_rate: int,
                n_frames: int, seed: int) -> bytes:
    """16-byte header: MAGIC(4) + packed fields(11) + pad(1), then payload."""
    head = MAGIC + struct.pack(
        _HEADER_FMT, KIND_IDS[kind], width, height, sample_rate, n_frames
    ) + b"\x00"
    assert len(head) == 16
    return head + _payload(seed)


def make_fake_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic synthetic media table for tests/benchmarks."""
    rows = []
    for i in range(n):
        kind = KINDS[i % 3]
        w, h = 16 + (i % 8) * 16, 16 + (i % 5) * 16
        sr = 8000 + (i % 4) * 8000
        frames = 1 if kind == "image" else 4 + i % 13
        rows.append(
            (i, kind, encode_fake(kind, w, h, sr, frames, seed=i),
             (w, h, sr, frames, "grft"))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# ------------------------------------------------------------------ codecs

def _fake_decode(content: bytes) -> dict[str, Any]:
    """Deterministic stand-in for a real codec. Raises on bad magic the way
    PIL raises on a corrupt file."""
    if content[:4] != MAGIC:
        raise ValueError("not a GRFT blob")
    kind_id, w, h, sr, frames = struct.unpack(_HEADER_FMT, content[4:15])
    payload = content[16:]
    mean = sum(payload) / max(len(payload), 1)
    return {
        "kind": KINDS.get(kind_id, "unknown"),
        "width": w,
        "height": h,
        "sample_rate": sr,
        "n_frames": frames,
        "mean_byte": float(mean),
    }


def _default_codec(content: bytes) -> dict[str, Any]:
    """Default: the stdlib real-format dispatcher (PNG via zlib, WAV via
    wave — operators/codecs.py), falling back to the synthetic GRFT
    decoder. Real PNG/WAV blobs decode for real, out of the box."""
    from gcp_etl_pipeline_spark.operators.codecs import stdlib_codec

    return stdlib_codec(content)


# -------------------------------------------------------- decode / features

DECODED_SCHEMA = (
    "media_id BIGINT, kind STRING, width INT, height INT, sample_rate INT, "
    "n_frames INT, mean_byte DOUBLE, decode_error STRING"
)


def decode_media(df: DataFrame) -> DataFrame:
    """Arrow-batched decode: one Python process per partition, pandas
    batches in/out, bad blobs become ``decode_error`` rows instead of
    failing the stage (at 100 TB some blobs WILL be corrupt)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    d = _default_codec(bytes(content))
                    out.append(
                        (mid, d["kind"], d["width"], d["height"],
                         d["sample_rate"], d["n_frames"], d["mean_byte"], None)
                    )
                except Exception as e:  # noqa: BLE001
                    out.append((mid, None, None, None, None, None, None, str(e)[:200]))
            yield pd.DataFrame(
                out,
                columns=["media_id", "kind", "width", "height", "sample_rate",
                         "n_frames", "mean_byte", "decode_error"],
            )

    return df.select("media_id", "content").mapInPandas(run, DECODED_SCHEMA)


EMBED_DIM = 16
EMBED_SCHEMA = f"media_id BIGINT, embedding ARRAY<FLOAT>"


def media_embeddings(df: DataFrame) -> DataFrame:
    """Feature-extract stub: a deterministic ``EMBED_DIM``-float embedding from
    the payload bytes (md5 over the hex form of the payload plus the
    component index → [0,1) floats). The Spark shape — binary in,
    array<float> out, Arrow batches — is exactly what a real CLIP/wav2vec
    extractor uses; swap the inner function. Hashing the HEX string (not
    the raw bytes) keeps the stub reproducible by engines whose hash
    functions only take text (the DuckDB differential oracle), at zero
    cost to its purpose."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, vecs = [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                hx = b[16:].hex()
                vec = []
                for k in range(EMBED_DIM):
                    h = hashlib.md5(f"{hx}|{k}".encode()).digest()
                    vec.append(int.from_bytes(h[:4], "big") / 2**32)
                ids.append(mid)
                vecs.append(vec)
            yield pd.DataFrame({"media_id": ids, "embedding": vecs})

    return df.select("media_id", "content").mapInPandas(run, EMBED_SCHEMA)


FRAMES_SCHEMA = (
    "media_id BIGINT, frame_no INT, frame_ms BIGINT, frame_bytes BINARY"
)


def sample_frames(df: DataFrame, every_n: int = 2, fps: int = 10) -> DataFrame:
    """Video frame sampling: FAN-OUT mapInPandas (one input row → many
    frame rows). Frame "decode" slices the payload deterministically; a
    real implementation calls the codec per keyframe."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                try:
                    d = _default_codec(b)
                except Exception:  # noqa: BLE001
                    continue
                if d["kind"] != "video":
                    continue
                payload = b[16:]
                for fno in range(0, d["n_frames"], every_n):
                    lo = (fno * 16) % max(len(payload) - 16, 1)
                    out.append(
                        (mid, fno, int(fno * 1000 / fps), payload[lo:lo + 16])
                    )
            yield pd.DataFrame(
                out, columns=["media_id", "frame_no", "frame_ms", "frame_bytes"]
            )

    return df.select("media_id", "content").mapInPandas(run, FRAMES_SCHEMA)


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize inside the Arrow batch loop. PNG blobs get a REAL
    nearest-neighbor resample (decode → gather → re-encode, still a
    spec-valid PNG — operators/codecs.py); synthetic GRFT blobs re-pack
    the header with the new dims (payload kept). Non-image media pass
    through untouched."""
    from gcp_etl_pipeline_spark.operators import codecs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                # corrupt blobs pass through unchanged rather than failing
                # the stage — same contract as decode_media's error rows
                try:
                    if b[:8] == codecs.PNG_SIG:
                        blobs.append(codecs.resize_png(b, width, height))
                        ids.append(mid)
                        continue
                    d = _default_codec(b)
                except Exception:  # noqa: BLE001
                    blobs.append(b)
                    ids.append(mid)
                    continue
                if d["kind"] != "image":
                    blobs.append(b)
                else:
                    blobs.append(
                        MAGIC
                        + struct.pack(
                            _HEADER_FMT, KIND_IDS[d["kind"]], width, height,
                            d["sample_rate"], d["n_frames"],
                        )
                        + b"\x00"
                        + b[16:]
                    )
                ids.append(mid)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    return df.select("media_id", "content").mapInPandas(
        run, "media_id BIGINT, content BINARY"
    )


def image_dhash(df: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) over grayscale PNG blobs: each
    image is resampled to a 9x8 grid (nearest neighbor, pure integer
    index math) and bit (y, x) of the 64-bit hash is 1 iff
    sample(y, x) > sample(y, x + 1) — the standard brightness-gradient
    fingerprint image dedup pipelines bucket on. Returns
    (media_id, dhash BIGINT, band0..band3 INT) where the bands are the
    hash's four 16-bit halves-of-halves, precomputed here so the banded
    candidate join downstream never touches shift semantics in SQL.

    Decode + hash run inside one Arrow batch loop (the image-lib seam —
    pure-stdlib PNG inflate, deterministic integer arithmetic, so a SQL
    oracle can replay the hash closed-form from the pixel recipe).
    Corrupt or non-PNG blobs are dropped, mirroring decode_media's
    error-row contract."""
    from gcp_etl_pipeline_spark.operators import codecs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            bands: list[list[int]] = [[], [], [], []]
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    w, h, px = codecs.png_pixels(bytes(content))
                except Exception:  # noqa: BLE001
                    continue
                if w < 9 or h < 8:
                    continue
                u = 0
                for y in range(8):
                    sy = y * h // 8
                    row = [px[sy * w + (x * w // 9)] for x in range(9)]
                    for x in range(8):
                        if row[x] > row[x + 1]:
                            u |= 1 << (y * 8 + x)
                ids.append(int(mid))
                hashes.append(u - (1 << 64) if u >= (1 << 63) else u)
                for k in range(4):
                    bands[k].append((u >> (16 * k)) & 0xFFFF)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "dhash": pd.Series(hashes, dtype="int64"),
                    **{
                        f"band{k}": pd.Series(bands[k], dtype="int32")
                        for k in range(4)
                    },
                }
            )

    return df.select("media_id", "content").mapInPandas(
        run,
        "media_id BIGINT, dhash BIGINT, band0 INT, band1 INT, "
        "band2 INT, band3 INT",
    )


def phash_neardup_pairs(
    hashes: DataFrame,
    max_hamming: int = 3,
    expand: bool = True,
    n_bands: int | None = None,
) -> DataFrame:
    """Image near-dup pairs by banded perceptual-hash matching — the
    MinHash-band discipline on 64-bit dHashes, never all-pairs: a pair
    is a CANDIDATE iff any of its four bands collide (a pair within
    Hamming distance d differs in at most d bands, so the pigeonhole
    guarantee holds iff d < 4 — the default max_hamming=3 is the
    largest EXACT threshold), then candidates are verified with one JVM
    bit_count over the xor'd hashes. Returns (a, b, hamming) for
    verified pairs with hamming <= max_hamming.

    Band configurability (the recall dial): by default (n_bands=None)
    the four precomputed 16-bit band columns from ``image_dhash`` /
    ``audio_fingerprint`` are used — exact recall to Hamming 3. Pass
    ``n_bands`` (any divisor of 64 in [2, 32]) to DERIVE that many
    (64/n_bands)-bit bands from the hash itself JVM-side
    (shiftrightunsigned, so the sign bit never smears across bands):
    the pigeonhole guarantee is then exact for max_hamming <=
    n_bands - 1 (n_bands=8 -> exact recall to Hamming 7, the
    re-encode/resize perturbation range; graded with planted
    Hamming-0..8 variants against a brute-force oracle in
    ``image_phash_recall``). A max_hamming >= n_bands is accepted but
    LSH-recall-only above n_bands - 1: a pair differing in every band
    has no colliding band and is never a candidate — raise the band
    count, not the threshold, if exact recall at larger distances is
    required. Cost: narrower bands collide more often (8-bit bands:
    1/256 per band vs 16-bit 1/65536), so raise n_bands only as far
    as the distance bound actually needed.

    Skew discipline (real image corpora are duplicate-heavy — blank
    frames, logos, default avatars — and an exact-duplicate cluster of
    size m collides on ALL four bands): exact duplicates are collapsed
    FIRST (groupBy dhash -> one representative row per DISTINCT hash),
    the banded self-join runs over distinct hashes only, and verified
    representative pairs expand back to member pairs at the end —
    intra-cluster pairs are emitted directly at Hamming 0, never
    through the band join. A 100k-copy logo therefore contributes ONE
    row to the candidate join instead of a 2x10^10-row bucket fan-out.

    Note the expanded OUTPUT is quadratic in exact-dup cluster size (all
    member pairs is the default contract). At corpus scale pass
    ``expand=False`` to stop at the REPRESENTATIVE level: rows are
    (a, b, hamming, na, nb) where a/b are cluster representative ids
    and na/nb the cluster sizes — cross-cluster matches once per hash
    pair (implying na*nb member pairs) plus one (rep, rep, 0, n, n)
    row per exact-dup cluster of n >= 2 (implying n*(n-1)/2 member
    pairs). A 100k-copy logo is then ONE row end to end; consumers
    that only need dedup decisions should use this form (or
    ``phash_incremental``) and never materialize member pairs.

    Scale shape: the band table is 4 small ints per DISTINCT hash; the
    self-join shuffles on (band_id, band_val) buckets; only 64-bit
    hashes and ids shuffle — images and pixels never pair. The hash
    frame feeds the collapse AND both expansion joins, so it is
    persisted and released when the result is GC'd."""
    from pyspark.sql import functions as F

    from gcp_etl_pipeline_spark.operators.similarity import _release_on_gc

    if n_bands is not None and (
        not 2 <= n_bands <= 32 or 64 % n_bands
    ):
        raise ValueError(
            f"phash_neardup_pairs: n_bands must be a divisor of 64 in "
            f"[2, 32], got {n_bands}"
        )
    hp = hashes.persist()
    members = hp.select("media_id", "dhash")
    # one row per DISTINCT hash; the representative id only orders the
    # self-join (each unordered hash pair meets exactly once). Identical
    # dhash implies identical bands, so min() carries them through the
    # collapse without a join back (precomputed-band path), and the
    # derived-band path computes them from the collapsed hash directly.
    if n_bands is None:
        clusters = hp.groupBy("dhash").agg(
            F.min("media_id").alias("__rep"),
            F.count(F.lit(1)).alias("__n"),
            *[F.min(f"band{k}").alias(f"band{k}") for k in range(4)],
        )
        stack_sql = "stack(4, 0, band0, 1, band1, 2, band2, 3, band3)"
    else:
        clusters = hp.groupBy("dhash").agg(
            F.min("media_id").alias("__rep"),
            F.count(F.lit(1)).alias("__n"),
        )
        width = 64 // n_bands
        mask = (1 << width) - 1
        slices = ", ".join(
            f"{k}, (shiftrightunsigned(dhash, {width * k}) & "
            f"CAST({mask} AS BIGINT))"
            for k in range(n_bands)
        )
        stack_sql = f"stack({n_bands}, {slices})"
    stacked = clusters.select(
        "__rep",
        "dhash",
        "__n",
        F.expr(stack_sql).alias("band_id", "band_val"),
    )
    lft = stacked.select(
        F.col("__rep").alias("__ra"),
        F.col("dhash").alias("__ha"),
        F.col("__n").alias("__na"),
        "band_id",
        "band_val",
    )
    rgt = stacked.select(
        F.col("__rep").alias("__rb"),
        F.col("dhash").alias("__hb"),
        F.col("__n").alias("__nb"),
        "band_id",
        "band_val",
    )
    joined = lft.join(rgt, ["band_id", "band_val"])
    verified = (
        joined.where(F.col("__ra") < F.col("__rb"))
        .select("__ra", "__rb", "__ha", "__hb", "__na", "__nb")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
            .cast("bigint"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    if not expand:
        cross_reps = verified.select(
            F.col("__ra").alias("a"),
            F.col("__rb").alias("b"),
            "hamming",
            F.col("__na").alias("na"),
            F.col("__nb").alias("nb"),
        )
        self_reps = clusters.where(F.col("__n") >= 2).select(
            F.col("__rep").alias("a"),
            F.col("__rep").alias("b"),
            F.lit(0).cast("bigint").alias("hamming"),
            F.col("__n").alias("na"),
            F.col("__n").alias("nb"),
        )
        return _release_on_gc(cross_reps.unionByName(self_reps), hp)
    # ONE expansion pass: verified cross-hash pairs union the exact-dup
    # clusters' (h, h, 0) self rows, then both join members twice. A
    # self row's join emits every ordered member combo, so the filter
    # keeps x < y there; cross rows keep all combos (each unordered
    # hash pair appears once).
    pairs_rep = verified.select("__ha", "__hb", "hamming").unionByName(
        clusters.where(F.col("__n") >= 2).select(
            F.col("dhash").alias("__ha"),
            F.col("dhash").alias("__hb"),
            F.lit(0).cast("bigint").alias("hamming"),
        )
    )
    ma = members.select(
        F.col("media_id").alias("__ma"), F.col("dhash").alias("__ha")
    )
    mb = members.select(
        F.col("media_id").alias("__mb"), F.col("dhash").alias("__hb")
    )
    out = (
        pairs_rep.join(ma, "__ha")
        .join(mb, "__hb")
        .where(
            (F.col("__ha") != F.col("__hb"))
            | (F.col("__ma") < F.col("__mb"))
        )
        .select(
            F.least("__ma", "__mb").alias("a"),
            F.greatest("__ma", "__mb").alias("b"),
            "hamming",
        )
    )
    return _release_on_gc(out, hp)


def audio_fingerprint(df: DataFrame) -> DataFrame:
    """Acoustic difference-fingerprint over mono 8-bit WAV blobs — the
    audio twin of ``image_dhash``: the first 132 samples are grouped
    into 33 energy windows (integer sums of 4 samples), and bit k of the
    32-bit fingerprint is 1 iff window k's energy exceeds window k+1's —
    a DC-offset-invariant gradient signature (adding a constant to every
    sample preserves every comparison), the chromaprint-style shape
    audio dedup pipelines bucket on. Returns the same (media_id, dhash,
    band0..band3) schema as ``image_dhash`` with four 8-bit bands, so
    ``phash_neardup_pairs`` applies unchanged.

    Decode + fingerprint run inside one Arrow batch loop (stdlib wave,
    deterministic integer sums — SQL-replayable closed-form). Corrupt
    blobs and clips shorter than the window span are dropped, mirroring
    decode_media's error-row contract."""
    from gcp_etl_pipeline_spark.operators import codecs

    n_windows = 33

    span = 4 * n_windows

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            bands: list[list[int]] = [[], [], [], []]
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    _, smp = codecs.wav_samples(bytes(content))
                except Exception:  # noqa: BLE001
                    continue
                if len(smp) < span:
                    continue
                w = [
                    smp[4 * k] + smp[4 * k + 1] + smp[4 * k + 2]
                    + smp[4 * k + 3]
                    for k in range(n_windows)
                ]
                u = 0
                for k in range(n_windows - 1):
                    if w[k] > w[k + 1]:
                        u |= 1 << k
                ids.append(int(mid))
                hashes.append(u)
                for b in range(4):
                    bands[b].append((u >> (8 * b)) & 0xFF)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "dhash": pd.Series(hashes, dtype="int64"),
                    **{
                        f"band{b}": pd.Series(bands[b], dtype="int32")
                        for b in range(4)
                    },
                }
            )

    return df.select("media_id", "content").mapInPandas(
        run,
        "media_id BIGINT, dhash BIGINT, band0 INT, band1 INT, "
        "band2 INT, band3 INT",
    )


def video_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    min_shared: int = 2,
) -> DataFrame:
    """Video near-duplicate pairs by FRAME-level perceptual matching —
    the third modality of the near-dup tier: each video is an
    ``array<binary>`` of PNG frames (the engine-native layout after
    ``sample_frames``-style extraction); frames are dHash'd in one
    Arrow pass and two videos pair when at least ``min_shared`` of the
    first video's frames match SOME frame of the second within
    ``max_hamming`` (banded candidates first — frames never all-pair;
    the exact-recall bound is max_hamming <= 3 with 4 bands, the
    phash_neardup_pairs contract). Returns (a, b, shared_frames).

    Scale shape: one posexplode (JVM), one Arrow decode/hash pass over
    frames, then THE shared guarded pair join (``phash_neardup_pairs``
    — exact-dup frame collapse, so a corpus-wide repeated frame like a
    black intro card never fans out quadratically in the candidate
    join), and a (video-pair)-keyed
    count-distinct — videos and pixels never join; only 64-bit hashes
    and band ints shuffle. Frame indexes pack into the hash row's id
    (``video_id * 1024 + frame_idx``), so videos are capped at 1024
    frames — sample longer videos first, which a real pipeline does
    anyway — and video ids must be in [0, 2^62/1024] for the packing
    to be collision-free (negative ids would alias under truncating
    div/%; both bounds are enforced)."""
    from pyspark.sql import functions as F

    id_max = (1 << 62) // 1024
    frames = df.select(
        # ENFORCE the packing domain loudly: frame 1024 of video V would
        # alias to frame 0 of video V+1, negative video ids collide with
        # id 0's range under truncate-toward-zero div/%, and ids past
        # 2^62/1024 overflow int64 — all three corrupt pair attribution
        # silently. raise_error is lazy, so compliant rows pay nothing.
        F.when(
            (F.col("media_id") >= 0) & (F.col("media_id") <= F.lit(id_max)),
            F.col("media_id").cast("long"),
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    "video_neardup_pairs: video id outside [0, 2^62/1024] "
                    "— the frame id packing would collide"
                )
            ).cast("long")
        )
        .alias("__vid"),
        F.posexplode("frames").alias("__f", "content"),
    ).select(
        (
            F.col("__vid") * 1024
            + F.when(F.col("__f") < 1024, F.col("__f")).otherwise(
                F.raise_error(
                    F.lit(
                        "video_neardup_pairs: video exceeds the 1024-frame "
                        "id-packing cap — sample frames first"
                    )
                ).cast("int")
            )
        ).alias("media_id"),
        "content",
    )
    pairs = phash_neardup_pairs(image_dhash(frames), max_hamming=max_hamming)
    # packed ids order by (video, frame), so a < b implies video_a <=
    # video_b: cross-video pairs keep the lower video on the a side,
    # same-video frame matches drop here. Catalyst pushes this
    # inequality INTO the expansion join's residual condition (verified
    # in the optimized plan), so intra-video duplicate-frame pairs are
    # filtered inside the join — never materialized downstream, the
    # same work profile as a hand-written in-join predicate.
    return (
        pairs.where(F.expr("a div 1024") != F.expr("b div 1024"))
        .select(
            F.expr("a div 1024").alias("__va"),
            F.expr("b div 1024").alias("__vb"),
            F.expr("a % 1024").alias("__af"),
        )
        .groupBy(F.col("__va").alias("a"), F.col("__vb").alias("b"))
        .agg(F.countDistinct("__af").cast("bigint").alias("shared_frames"))
        .where(F.col("shared_frames") >= min_shared)
    )


def clip_audio(df: DataFrame, start_ms: int, dur_ms: int) -> DataFrame:
    """Audio clipping inside the Arrow batch loop — the temporal twin of
    ``resize_images``: WAV blobs are sliced by time (decode → frame
    slice → re-encode, still a spec-valid WAV); non-audio media pass
    through untouched, corrupt blobs pass through unchanged (the
    decode_media error-row contract)."""
    from gcp_etl_pipeline_spark.operators import codecs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                try:
                    if b[:4] == b"RIFF":
                        blobs.append(codecs.clip_wav(b, start_ms, dur_ms))
                        ids.append(mid)
                        continue
                except Exception:  # noqa: BLE001
                    pass
                blobs.append(b)
                ids.append(mid)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    return df.select("media_id", "content").mapInPandas(
        run, "media_id BIGINT, content BINARY"
    )
