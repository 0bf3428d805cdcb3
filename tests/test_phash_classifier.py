"""Unit tests for perceptual-hash image near-dup and the learned
quality classifier (the round-8 curation additions), plus the
substring-excise ledger compaction seam."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_etl_pipeline_spark.operators import codecs, curation, dedup, multimodal
from gcp_etl_pipeline_spark.session import scratch_dir


def _png_df(spark, pixel_fn, n, w=18, h=16):
    rows = []
    for i in range(n):
        px = bytes(pixel_fn(i, p) for p in range(w * h))
        rows.append((i, codecs.encode_png(w, h, px)))
    return spark.createDataFrame(rows, "media_id BIGINT, content BINARY")


def test_dhash_brightness_invariant(spark):
    # +24 everywhere preserves every gradient comparison -> same hash
    def px(i, p):
        base = (p * 37 + 11) % 200 + 8
        return base + (24 if i == 1 else 0)

    out = {
        r["media_id"]: r["dhash"]
        for r in multimodal.image_dhash(_png_df(spark, px, 2)).collect()
    }
    assert out[0] == out[1]


def test_dhash_single_pixel_bump_hamming_le_1(spark):
    def px(i, p):
        base = (p * 37 + 11) % 200 + 8
        return base + (40 if i == 1 and p == 0 else 0)

    df = multimodal.image_dhash(_png_df(spark, px, 2))
    pairs = multimodal.phash_neardup_pairs(df, max_hamming=6).collect()
    assert len(pairs) == 1
    assert pairs[0]["hamming"] <= 1


def test_dhash_drops_corrupt_and_tiny(spark):
    good = codecs.encode_png(18, 16, bytes(range(200)) + bytes(88))
    tiny = codecs.encode_png(4, 4, bytes(16))
    df = spark.createDataFrame(
        [(0, good), (1, b"not a png"), (2, tiny)],
        "media_id BIGINT, content BINARY",
    )
    out = multimodal.image_dhash(df).collect()
    assert [r["media_id"] for r in out] == [0]


def test_phash_bands_decompose_hash(spark):
    def px(i, p):
        return ((i * 131 + p * 37 + 11) % 200) + 8

    for r in multimodal.image_dhash(_png_df(spark, px, 4)).collect():
        u = r["dhash"] + (1 << 64) if r["dhash"] < 0 else r["dhash"]
        rebuilt = sum(r[f"band{k}"] << (16 * k) for k in range(4))
        assert rebuilt == u


def test_quality_classifier_separates_vocabularies(spark):
    # positives say "good stuff", negatives say "junk noise"; a holdout
    # doc of each vocabulary must land on the right side of the gate
    rows = [(i, "good stuff here", "en") for i in range(10)]
    rows += [(i + 10, "junk noise words", "xx") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, lang STRING")
    w = curation.fit_quality_classifier(docs, "lang = 'en'")
    scored = curation.quality_classifier_score(docs, w)
    by_id = {r["doc_id"]: r for r in scored.collect()}
    assert by_id[0]["keep"] and by_id[0]["prob_u"] > 500_000
    assert not by_id[10]["keep"] and by_id[10]["prob_u"] < 500_000


def test_quality_classifier_zero_token_row(spark):
    docs = spark.createDataFrame(
        [(1, "real text", "en"), (2, "...", "en")],
        "doc_id BIGINT, text STRING, lang STRING",
    )
    w = curation.fit_quality_classifier(docs, "lang = 'en'")
    out = {r["doc_id"]: r for r in curation.quality_classifier_score(docs, w).collect()}
    assert out[2]["n_tokens"] == 0
    assert out[2]["prob_u"] == 500_000
    assert not out[2]["keep"]


def test_quality_classifier_weights_bounded_and_broadcastable(spark):
    docs = spark.createDataFrame(
        [(i, f"tok{i} shared word", "en" if i % 2 == 0 else "xx")
         for i in range(20)],
        "doc_id BIGINT, text STRING, lang STRING",
    )
    w = curation.fit_quality_classifier(docs, "lang = 'en'")
    rows = w.collect()
    assert 0 < len(rows) <= 64
    assert all(-1_000_000 <= r["w_u"] <= 1_000_000 for r in rows)


def test_excise_compaction_preserves_ledger_semantics(spark):
    # increment 1 ledgers chunk fps; compaction rewrites the attempt
    # tree; increment 2 must excise exactly what it would have without
    # the compaction (replaying the same text)
    docs1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id BIGINT, text STRING",
    )
    docs2 = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id BIGINT, text STRING",
    )
    for compact in (False, True):
        store = scratch_dir("exc_t") + "/fps"
        dedup.substring_excise_incremental(docs1, store, attempt_id="i1").collect()
        if compact:
            before, after = dedup.compact_ledger(spark, store)
            assert after <= before
        out = dedup.substring_excise_incremental(
            docs2, store, attempt_id="i2"
        ).collect()
        assert len(out) == 1
        r = out[0]
        # identical text replayed -> every chunk already ledgered
        assert r["excised_chunks"] == r["n_chunks"]
        assert r["clean_text"] == ""
        assert r["n_chunks"] > 0  # non-vacuous: chunks actually existed


def test_audio_fingerprint_dc_offset_invariant(spark):
    def clip(off):
        smp = bytes(((t * 13 + 29) % 180) + 10 + off for t in range(140))
        return codecs.encode_wav(16000, smp)

    df = spark.createDataFrame(
        [(0, clip(0)), (1, clip(7))], "media_id BIGINT, content BINARY"
    )
    out = {r["media_id"]: r["dhash"]
           for r in multimodal.audio_fingerprint(df).collect()}
    assert out[0] == out[1]


def test_audio_fingerprint_drops_short_and_corrupt(spark):
    ok = codecs.encode_wav(8000, bytes(range(132)))
    short = codecs.encode_wav(8000, bytes(range(50)))
    df = spark.createDataFrame(
        [(0, ok), (1, short), (2, b"junk")],
        "media_id BIGINT, content BINARY",
    )
    out = multimodal.audio_fingerprint(df).collect()
    assert [r["media_id"] for r in out] == [0]


def test_intradoc_chunk_dedup_removes_planted_stutter(spark):
    # 'gamma' and 'edge' are CDC boundary tokens (md5 starts '0'); the
    # trailing boundary makes both copies of the doubled text decompose
    # into the SAME two chunks -> exactly those two repeats removed
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa edge"
    docs = spark.createDataFrame(
        [(1, base + " " + base), (2, base)],
        "doc_id BIGINT, text STRING",
    )
    out = {r["doc_id"]: r
           for r in dedup.intradoc_chunk_dedup(docs).collect()}
    # the unique doc is untouched
    assert out[2]["removed_chunks"] == 0
    assert out[2]["kept_tokens"] == 11
    # the doubled doc collapses back to one copy
    assert out[1]["n_chunks"] == 4
    assert out[1]["removed_chunks"] == 2
    assert out[1]["kept_tokens"] == 11
    assert out[1]["clean_text"] == base


def test_intradoc_chunk_dedup_idempotent(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, base + " " + base)], "doc_id BIGINT, text STRING"
    )
    once = dedup.intradoc_chunk_dedup(docs).collect()[0]
    again = dedup.intradoc_chunk_dedup(
        spark.createDataFrame(
            [(1, once["clean_text"])], "doc_id BIGINT, text STRING"
        )
    ).collect()[0]
    assert again["removed_chunks"] == 0
    assert again["clean_text"] == once["clean_text"]


def test_clip_audio_slices_frames_and_passes_non_audio(spark):
    sr = 8000
    smp = bytes(t % 200 for t in range(300))
    wav = codecs.encode_wav(sr, smp)
    png = codecs.encode_png(4, 4, bytes(16))
    df = spark.createDataFrame(
        [(0, wav), (1, png), (2, b"junk")],
        "media_id BIGINT, content BINARY",
    )
    out = {r["media_id"]: bytes(r["content"])
           for r in multimodal.clip_audio(df, 3, 7).collect()}
    lo, hi = 3 * sr // 1000, min(300, 10 * sr // 1000)
    _, clipped = codecs.wav_samples(out[0])
    assert clipped == smp[lo:hi]
    assert out[1] == png       # image passthrough
    assert out[2] == b"junk"   # corrupt passthrough


def test_phash_hot_cluster_collapses_before_band_join(spark):
    """The r9 skew guard: a planted exact-duplicate cluster (the
    100k-copy-logo shape, scaled down) must reach the banded self-join
    as ONE distinct-hash row, and the full member-pair output must
    still come back exactly — m*(m-1)/2 intra pairs at hamming 0 plus
    every cross pair to the near-dup variant."""
    m = 40  # exact copies of the "logo"

    def px(i, p):
        base = (p * 37 + 11) % 200 + 8
        # ids [0, m): identical logo; id m: one-pixel bump near-dup;
        # id m+1: unrelated image
        if i == m:
            return base + (100 if p == 0 else 0)
        if i == m + 1:
            return ((p * 53 + 7) % 200) + 8
        return base

    hashes = multimodal.image_dhash(_png_df(spark, px, m + 2))
    # the banded join must see one row per DISTINCT hash, not per image
    assert hashes.select("dhash").distinct().count() == 3
    rows = multimodal.phash_neardup_pairs(hashes, max_hamming=6).collect()
    intra = [r for r in rows if r["hamming"] == 0]
    cross = [r for r in rows if r["hamming"] > 0]
    assert len(intra) == m * (m - 1) // 2
    assert all(r["a"] < r["b"] < m for r in intra)
    # the bumped variant pairs with every cluster member, never with
    # the unrelated image
    assert len(cross) == m
    assert all(r["b"] == m and r["hamming"] <= 1 for r in cross)


def test_phash_salt_factor_result_identical(spark):
    def px(i, p):
        base = (p * 37 + 11) % 200 + 8
        return base + (40 if i % 3 == 2 and p == i // 3 else 0)

    hashes = multimodal.image_dhash(_png_df(spark, px, 24)).persist()
    plain = sorted(
        map(tuple, multimodal.phash_neardup_pairs(hashes, 6).collect())
    )
    salted = sorted(
        map(
            tuple,
            multimodal.phash_neardup_pairs(hashes, 6, salt_factor=4).collect(),
        )
    )
    assert plain == salted and len(plain) > 0


def test_phash_max_band_df_caps_hot_bands(spark):
    """max_band_df drops band buckets with more DISTINCT hashes than the
    cap — near-dup pairs that only collide there are lost (capped
    recall), but exact-duplicate pairs survive: they never ride the
    band join."""
    # synthesized hash table: ids 0..5 are DISTINCT hashes all sharing
    # band0 = 0 (the hot band) with unique other bands; ids 6..10 are
    # one exact 5-copy cluster
    rows = [(i, i, 0, 100 + i, 200 + i, 300 + i) for i in range(6)]
    rows += [(i, 1024, 9, 19, 29, 39) for i in range(6, 11)]
    hashes = spark.createDataFrame(
        rows,
        "media_id BIGINT, dhash BIGINT, band0 INT, band1 INT, "
        "band2 INT, band3 INT",
    )
    uncapped = multimodal.phash_neardup_pairs(hashes, 6).collect()
    capped = multimodal.phash_neardup_pairs(hashes, 6, max_band_df=2).collect()
    # uncapped: all 15 hot-band pairs + the cluster's 10 hamming-0 pairs
    assert len(uncapped) == 25
    # capped: the hot band (6 distinct hashes > 2) is dropped; the exact
    # cluster's pairs are immune — they never ride the band join
    assert len(capped) == 10
    assert all(r["hamming"] == 0 and 6 <= r["a"] < r["b"] <= 10 for r in capped)


def test_audio_fingerprint_rejects_oversized_n_windows(spark):
    import pytest

    df = spark.createDataFrame([(0, b"")], "media_id BIGINT, content BINARY")
    with pytest.raises(ValueError, match=r"\[2, 65\]"):
        multimodal.audio_fingerprint(df, n_windows=66)


def test_wav_samples_rejects_stereo_and_16bit():
    import io
    import wave

    import pytest

    def make(nch, width):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(width)
            w.setframerate(8000)
            w.writeframes(bytes(64 * nch * width))
        return buf.getvalue()

    with pytest.raises(ValueError, match="mono 8-bit"):
        codecs.wav_samples(make(2, 1))
    with pytest.raises(ValueError, match="mono 8-bit"):
        codecs.wav_samples(make(1, 2))
    # the supported subset still decodes
    sr, smp = codecs.wav_samples(make(1, 1))
    assert sr == 8000 and len(smp) == 64


def test_video_neardup_rejects_negative_video_id(spark):
    import pytest

    frame = codecs.encode_png(18, 16, bytes((p * 37 + 11) % 200 + 8 for p in range(288)))
    df = spark.createDataFrame(
        [(-1, [frame]), (0, [frame])],
        "media_id BIGINT, frames ARRAY<BINARY>",
    )
    with pytest.raises(Exception, match="id outside"):
        multimodal.video_neardup_pairs(df, min_shared=1).collect()


def test_phash_expand_false_rep_level(spark):
    """expand=False stops at representatives: one row per exact-dup
    cluster and per verified cross-hash pair, with sizes that imply the
    exact member-pair counts the expanded form materializes."""
    rows = [(i, 7, 1, 2, 3, 4) for i in range(5)]          # 5-copy cluster
    rows += [(10, 6, 1, 2, 3, 9), (11, 6, 1, 2, 3, 9)]     # 2-copy, ham(7,6)=1
    rows += [(20, 1 << 40, 50, 60, 70, 80)]                 # unrelated
    hashes = spark.createDataFrame(
        rows,
        "media_id BIGINT, dhash BIGINT, band0 INT, band1 INT, "
        "band2 INT, band3 INT",
    ).persist()
    reps = {
        (r["a"], r["b"]): (r["hamming"], r["na"], r["nb"])
        for r in multimodal.phash_neardup_pairs(
            hashes, max_hamming=3, expand=False
        ).collect()
    }
    assert reps == {
        (0, 0): (0, 5, 5),       # the 5-copy cluster: implies 10 pairs
        (10, 10): (0, 2, 2),     # the 2-copy cluster: implies 1 pair
        (0, 10): (1, 5, 2),      # cross pair: implies 5*2 member pairs
    }
    # the expanded form materializes exactly the implied counts
    expanded = multimodal.phash_neardup_pairs(hashes, max_hamming=3).collect()
    assert len(expanded) == 10 + 1 + 10


def test_video_neardup_filter_inside_expansion_join(spark):
    """ADVICE r9: video_neardup_pairs relies on Catalyst pushing the
    cross-video predicate (a div 1024 != b div 1024) into the expansion
    join's residual condition, so intra-video duplicate-frame member
    pairs are filtered inside the join rather than materialized. Assert
    that plan shape: the optimized plan's Join carries the div-1024
    inequality, and no Filter above a join re-applies it."""
    frame = codecs.encode_png(
        18, 16, bytes((p * 37 + 11) % 200 + 8 for p in range(288))
    )
    df = spark.createDataFrame(
        [(0, [frame, frame]), (1, [frame])],
        "media_id BIGINT, frames ARRAY<BINARY>",
    )
    out = multimodal.video_neardup_pairs(df, min_shared=1)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    join_lines = [ln for ln in plan.splitlines() if "Join Inner" in ln]
    # the expansion joins carry the packed-id division predicate as a
    # residual condition (planner regression here would reintroduce
    # ~n^2/2 intra-video rows for static videos before the filter)
    assert any(
        "div 1024" in ln or "/ 1024" in ln for ln in join_lines
    ), f"no division residual on any Join:\n{plan}"
    # and the result is still correct: BOTH of video 0's (duplicate)
    # frames match video 1's frame — shared_frames counts distinct
    # a-side frame indexes, and the intra-video (0,0) frame pair is out
    got = out.collect()
    assert len(got) == 1
    assert (got[0]["a"], got[0]["b"], got[0]["shared_frames"]) == (0, 1, 2)


def _pinned_png(flip_rows=()):
    """9x8 PNG where EVERY pixel is a dhash sample (w=9 -> sx=x, h=8 ->
    sy=y): rows alternate [100, 90, 100, ...] so bit (y, x) = (x even).
    Setting px[9y] = 80 flips exactly bit (y, 0) (px[9y] participates in
    no other comparison) — a surgical Hamming perturbation."""
    px = bytearray(100 if x % 2 == 0 else 90 for _ in range(8) for x in range(9))
    for y in flip_rows:
        px[9 * y] = 80
    return codecs.encode_png(9, 8, bytes(px))


def test_phash_nbands_recall_planted_hamming5(spark):
    """A planted Hamming-5 image pair with flips touching all four
    16-bit bands: invisible to the default banding (the documented
    LSH-recall cliff past Hamming 3), found exactly by n_bands=8
    (flipped bits 0, 8, 16, 32, 48 -> 8-bit bands 0,1,2,4,6 touched,
    bands 3,5,7 still collide)."""
    rows = [
        (1, _pinned_png()),
        (2, _pinned_png(flip_rows=(0, 1, 2, 4, 6))),
    ]
    df = spark.createDataFrame(rows, "media_id BIGINT, content BINARY")
    hashes = multimodal.image_dhash(df).localCheckpoint(eager=True)
    got = {r["media_id"]: r["dhash"] for r in hashes.collect()}
    assert bin((got[1] ^ got[2]) & (2**64 - 1)).count("1") == 5
    assert multimodal.phash_neardup_pairs(hashes, max_hamming=5).count() == 0
    found = multimodal.phash_neardup_pairs(
        hashes, max_hamming=5, n_bands=8
    ).collect()
    assert [(r["a"], r["b"], r["hamming"]) for r in found] == [(1, 2, 5)]


def test_phash_nbands_signed_hash_and_validation(spark):
    """Derived bands use shiftrightunsigned: a hash with bit 63 set
    slices correctly (no sign smear); invalid n_bands raises."""
    import pytest

    u = 0x9E3779B97F4A7C15  # bit 63 set
    mask5 = (1 << 0) | (1 << 1) | (1 << 16) | (1 << 32) | (1 << 48)

    def signed(x):
        return x - (1 << 64) if x >= (1 << 63) else x

    rows = [(1, signed(u)), (2, signed(u ^ mask5))]
    df = spark.createDataFrame(rows, "media_id BIGINT, dhash BIGINT")
    found = multimodal.phash_neardup_pairs(
        df, max_hamming=5, n_bands=8
    ).collect()
    assert [(r["a"], r["b"], r["hamming"]) for r in found] == [(1, 2, 5)]
    with pytest.raises(ValueError, match="divisor of 64"):
        multimodal.phash_neardup_pairs(df, n_bands=5)
    with pytest.raises(ValueError, match="divisor of 64"):
        multimodal.phash_neardup_pairs(df, n_bands=64)
