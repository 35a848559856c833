"""Unit tier for the multimodal operators: the Spark-side plumbing
(schema, batching, partition invariance, stub gating) is real even
though the decode kernel is stubbed (no image/audio libs here)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from sales_etl_spark.operators.multimodal import (
    documents_as_media,
    featurize_media,
    row_kernel,
    sample_frames,
)
from sales_etl_spark.sources.star import load_star

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    return documents_as_media(load_star(spark, SF).documents)


def test_featurize_schema_and_byte_fidelity(spark, media):
    feats = featurize_media(media)
    assert [f.name for f in feats.schema.fields] == [
        "media_id", "media_type", "byte_length", "content_hash",
        "width", "height", "n_frames",
    ]
    # byte_length must equal the JVM-side payload length (bytes crossed
    # the Arrow boundary unmangled)
    jvm = media.select(
        "media_id", F.length("payload").alias("jvm_len")
    )
    mismatch = (
        feats.join(jvm, "media_id")
        .filter(F.col("byte_length") != F.col("jvm_len"))
        .count()
    )
    assert mismatch == 0
    # images decode to exactly 1 frame; audio/video to >= 1
    assert feats.filter(
        (F.col("media_type") == "image") & (F.col("n_frames") != 1)
    ).count() == 0


def test_featurize_partition_invariant(spark, media):
    a = sorted(map(tuple, featurize_media(media.repartition(2)).collect()))
    b = sorted(map(tuple, featurize_media(media.repartition(7)).collect()))
    assert a == b  # batch boundaries must not leak into results


def test_sample_frames_stride_and_video_only(spark, media):
    frames = sample_frames(media, every_n=10)
    rows = frames.collect()
    assert all(r.frame_idx % 10 == 0 for r in rows)
    # only videos explode into frames
    vids = {r.media_id for r in media.filter("media_type = 'video'").collect()}
    assert {r.media_id for r in rows} <= vids
    # every video has at least frame 0
    assert {r.media_id for r in rows if r.frame_idx == 0} == vids


def test_decode_stub_false_raises_at_kernel(spark, media):
    """Without the optional decoders, decode_stub=False must fail at
    the exact kernel site with the honest guard (text payloads typed
    'audio'/'video' hit the libav tier even when PIL exists)."""
    av = media.filter("media_type <> 'image'")
    with pytest.raises(PythonException, match="NotImplementedError"):
        featurize_media(av, decode_stub=False).collect()


def test_decode_real_image_tier_runs_everywhere(spark):
    """The decode_stub=False image tier decodes REAL pixels on every
    box: through PIL when importable, else through the pure-stdlib
    PNG codec (operators/png.py) — no environment leaves the real
    tier unexecuted (the round-5 skip this replaces). Either path
    must recover true dimensions and reject corrupt payloads at the
    kernel site."""
    from sales_etl_spark.operators.multimodal import decode_capability

    caps = decode_capability()
    assert set(caps) == {"pil", "libav", "png_stdlib"}
    assert caps["png_stdlib"] is True

    if caps["pil"]:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (31, 17)).save(buf, format="PNG")
        png = buf.getvalue()
    else:
        from sales_etl_spark.operators.png import encode_png

        png = encode_png(bytes(31 * 17), 31, 17, lambda y: y % 5)

    media = spark.createDataFrame(
        [(1, "image", bytearray(png))],
        "media_id long, media_type string, payload binary",
    )
    row = featurize_media(media, decode_stub=False).collect()[0]
    assert (row.width, row.height, row.n_frames) == (31, 17, 1)

    corrupt = spark.createDataFrame(
        [(2, "image", bytearray(png[:20]))],
        "media_id long, media_type string, payload binary",
    )
    with pytest.raises(PythonException):
        featurize_media(corrupt, decode_stub=False).collect()


def test_png_codec_roundtrip_and_real_world_decode():
    """Driver-side codec contract: (a) encode→decode round-trips every
    filter type bit-exactly on random rasters; (b) the decoder reads
    REAL third-party PNGs (palette / RGBA / gray shapes produced by
    other encoders) when present on the box, proving the unfiltering
    isn't merely self-consistent with our encoder; (c) out-of-scope
    depths and corrupt streams raise ValueError."""
    import random
    from pathlib import Path

    from sales_etl_spark.operators.png import decode_png, encode_png

    rng = random.Random(7)
    for _ in range(10):
        w, h = rng.randint(1, 40), rng.randint(1, 40)
        px = bytes(rng.randrange(256) for _ in range(w * h))
        for mode in range(5):
            w2, h2, ch, out = decode_png(
                encode_png(px, w, h, lambda y, m=mode: m)
            )
            assert (w2, h2, ch, out) == (w, h, 1, px)

    for cand, exp in [
        ("/usr/share/gitweb/static/git-logo.png", (72, 27, 1)),
        ("/usr/share/doc/python3/_static/file.png", (16, 16, 4)),
    ]:
        p = Path(cand)
        if p.exists():
            w, h, ch, out = decode_png(p.read_bytes())
            assert (w, h, ch) == exp
            assert len(out) == w * h * ch

    good = encode_png(bytes(12), 4, 3)
    with pytest.raises(ValueError):
        decode_png(good[:20])  # truncated mid-IHDR
    with pytest.raises(ValueError):
        decode_png(b"\x00" * 32)  # bad signature
    # flip one IDAT byte: CRC check must catch it
    bad = bytearray(good)
    idat_at = good.index(b"IDAT") + 4
    bad[idat_at] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png(bytes(bad))


def test_png_decode_bounds_decompression_bombs():
    """Adversarial-input contract: the decoder must reject crafted
    PNGs WITHOUT materializing attacker-sized buffers — (a) an IHDR
    declaring a raster above the 64 MiB cap fails before any inflate,
    and (b) a small declared raster whose IDAT inflates to far more
    fails after at most raster+1 bytes (bounded decompressobj, not a
    full zlib.decompress)."""
    import struct
    import zlib

    from sales_etl_spark.operators.png import _SIG, _chunk, decode_png

    def craft(w, h, idat_raw):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (
            _SIG
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(idat_raw))
            + _chunk(b"IEND", b"")
        )

    # (a) header alone demands 100_000^2 bytes (~9.3 GiB) — reject on
    # the declared size, with a tiny IDAT so any inflate would succeed
    with pytest.raises(ValueError, match="byte cap"):
        decode_png(craft(100_000, 100_000, b"\x00" * 16))

    # (b) declared 4x3 gray (raster 15 B) but IDAT inflates to 10 MB:
    # the bounded inflate must stop at 16 bytes and raise
    with pytest.raises(ValueError, match="raster length"):
        decode_png(craft(4, 3, b"\x00" * 10_000_000))


def test_demean_embeddings_matches_native_two_pass(spark):
    """applyInPandas grouped demean == the native two-pass form
    (posexplode → per-(group,pos) mean → rebuild) — proving the
    grouped-map kernel against pure-Spark arithmetic."""
    from sales_etl_spark.operators.multimodal import (
        demean_embeddings_per_group,
    )

    emb = load_star(spark, SF).embeddings.limit(200)
    got = {
        r.vec_id: r.centered
        for r in demean_embeddings_per_group(emb).collect()
    }

    pos = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ).withColumn("x", F.col("x").cast("double"))
    means = pos.groupBy("label", "pos").agg(F.avg("x").alias("mu"))
    native = (
        pos.join(means, ["label", "pos"])
        .withColumn("c", F.col("x") - F.col("mu"))
        .groupBy("vec_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "c"))
            ).alias("pairs")
        )
        .select(
            "vec_id",
            F.transform(F.col("pairs"), lambda s: s["c"]).alias("centered"),
        )
    )
    for r in native.collect():
        a, b = got[r.vec_id], r.centered
        assert len(a) == len(b)
        assert all(abs(x - y) < 1e-9 for x, y in zip(a, b)), r.vec_id


def _jpeg_bytes(width: int, height: int) -> bytes:
    """Minimal structurally-valid JPEG prefix: SOI, APP0, one DQT-ish
    filler segment, SOF0 with the real dimensions, EOI."""
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)
    filler = b"\xff\xdb" + (6).to_bytes(2, "big") + bytes(4)
    sof0 = (
        b"\xff\xc0"
        + (17).to_bytes(2, "big")
        + b"\x08"
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + b"\x03"
        + bytes(9)
    )
    return b"\xff\xd8" + app0 + filler + sof0 + b"\xff\xd9"


def _png_bytes(width: int, height: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big")
        + b"IHDR"
        + width.to_bytes(4, "big")
        + height.to_bytes(4, "big")
        + bytes(5)
        + bytes(4)
    )


def test_parse_image_dimensions_jpeg_png_and_fallbacks():
    from sales_etl_spark.operators.multimodal import parse_image_dimensions

    assert parse_image_dimensions(_jpeg_bytes(320, 240)) == (320, 240)
    assert parse_image_dimensions(_jpeg_bytes(8192, 1)) == (8192, 1)
    assert parse_image_dimensions(_png_bytes(640, 480)) == (640, 480)
    gif = b"GIF89a" + (137).to_bytes(2, "little") + (42).to_bytes(2, "little")
    assert parse_image_dimensions(gif) == (137, 42)
    assert parse_image_dimensions(b"GIF89a\x01") is None  # truncated
    assert parse_image_dimensions(b"plain text payload") is None
    assert parse_image_dimensions(b"\xff\xd8\xff\xd9") is None  # no SOF
    assert parse_image_dimensions(b"\x89PNG\r\n\x1a\nXXXXIDAT") is None
    assert parse_image_dimensions(b"") is None


def test_featurize_media_reports_true_jpeg_dimensions(spark):
    from sales_etl_spark.operators.multimodal import featurize_media

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(_jpeg_bytes(320, 240))),
            (2, "image", bytearray(_png_bytes(64, 32))),
            (3, "image", bytearray(b"not an image at all")),
        ],
        "media_id long, media_type string, payload binary",
    )
    got = {
        r.media_id: (r.width, r.height)
        for r in featurize_media(media).collect()
    }
    assert got[1] == (320, 240)  # true header dims, not the stub
    assert got[2] == (64, 32)
    # non-parseable payload falls back to the deterministic stub
    assert 16 <= got[3][0] <= 255 and 16 <= got[3][1] <= 255


# ---------------------------------------------------------------------------
# WAV metadata (real RIFF header parse)
# ---------------------------------------------------------------------------


def _make_wav(rate=16000, channels=1, bits=16, n_frames=800) -> bytes:
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(bits // 8)
        w.setframerate(rate)
        w.writeframes(b"\x00" * (n_frames * channels * (bits // 8)))
    return buf.getvalue()


def test_parse_wav_metadata_real_header():
    from sales_etl_spark.operators.multimodal import parse_wav_metadata

    wav = _make_wav(rate=22050, channels=2, bits=16, n_frames=22050)
    assert parse_wav_metadata(wav) == (22050, 2, 16, 1000)
    assert parse_wav_metadata(b"not a wav at all") is None
    assert parse_wav_metadata(b"RIFF\x00\x00\x00\x00WAVE") is None


def test_audio_metadata_operator_mixed_payloads(spark):
    from sales_etl_spark.operators.multimodal import audio_metadata

    wav = _make_wav(rate=8000, channels=1, bits=8, n_frames=4000)
    media = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"JUNKJUNKJUNK"))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in audio_metadata(media).collect()}
    assert rows[1]["sample_rate"] == 8000
    assert rows[1]["channels"] == 1
    assert rows[1]["bits"] == 8
    assert rows[1]["duration_ms"] == 500
    assert rows[2]["sample_rate"] is None  # quarantine, not an error
    assert rows[2]["byte_length"] == 12


def test_jpeg_constant_tiles_roundtrip_bit_exact():
    """The JPEG exactness contract the hash-checked query rides on:
    rasters whose 8x8 blocks are each constant survive
    encode->decode BIT-EXACTLY with the all-ones quantization table
    (forward DCT = a lone exact DC coefficient; every AC is a
    mathematically-zero cosine sum that quantization rounds away)."""
    import random

    from sales_etl_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = random.Random(11)
    for _ in range(15):
        tw, th = rng.randint(1, 4), rng.randint(1, 4)
        w, h = 8 * tw, 8 * th
        tiles = [
            [rng.randrange(256) for _ in range(tw)] for _ in range(th)
        ]
        px = bytes(
            tiles[y // 8][x // 8] for y in range(h) for x in range(w)
        )
        assert decode_jpeg(encode_jpeg(px, w, h)) == (w, h, 1, px)


def test_jpeg_general_rasters_near_lossless_and_lossy_tier():
    """(a) Arbitrary rasters (non-multiple-of-8 geometry -> the edge
    replication padding + crop path; nonzero ACs -> run-length/ZRL/EOB
    Huffman coding) round-trip within +-1 with the all-ones table —
    the DCT float noise bound. (b) The standard Annex K table
    compresses (smaller payload) and stays within a small error on a
    smooth gradient — the realistic lossy tier."""
    import random

    import numpy as np

    from sales_etl_spark.operators.jpeg import (
        STD_LUMA_QUANT,
        decode_jpeg,
        encode_jpeg,
    )

    rng = random.Random(13)
    for _ in range(5):
        w, h = rng.randint(3, 30), rng.randint(3, 30)
        px = bytes(rng.randrange(256) for _ in range(w * h))
        w2, h2, ch, out = decode_jpeg(encode_jpeg(px, w, h))
        assert (w2, h2, ch) == (w, h, 1)
        d = np.abs(
            np.frombuffer(out, np.uint8).astype(int)
            - np.frombuffer(px, np.uint8).astype(int)
        )
        assert d.max() <= 1, d.max()

    w, h = 24, 16
    px = bytes((x * 4 + y * 3) % 256 for y in range(h) for x in range(w))
    lossless = encode_jpeg(px, w, h)
    lossy = encode_jpeg(px, w, h, STD_LUMA_QUANT)
    assert len(lossy) < len(lossless)
    w2, h2, ch, out = decode_jpeg(lossy)
    d = np.abs(
        np.frombuffer(out, np.uint8).astype(int)
        - np.frombuffer(px, np.uint8).astype(int)
    )
    assert d.max() <= 8 and d.mean() <= 3, (d.max(), d.mean())


def test_jpeg_real_world_decode_matches_java_imageio(spark):
    """Independence check mirroring the PNG real-world tier, but
    stronger: decode REAL third-party baseline JPEGs (a 4:2:0 photo
    and a 4:4:4 graphic shipped with Spark/gsutil) and compare every
    RGB sample against Java ImageIO's decode (Spark's `image` data
    source, BGR order) — a genuinely independent implementation.
    Decoders may differ by a few ULPs of IDCT + chroma-upsample
    (ImageIO interpolates chroma; we replicate), so the bar is a tight
    MEAN error with bounded outliers, not bit equality."""
    from pathlib import Path

    import numpy as np

    from sales_etl_spark.operators.jpeg import decode_jpeg

    cases = [
        (
            "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/"
            "kittens/DP802813.jpg",
            0.5,  # 4:2:0 — replication vs interpolation on edges
        ),
        (
            "/usr/lib/google-cloud-sdk/platform/gsutil/third_party/"
            "requests/ext/flower-of-life.jpg",
            0.5,  # 4:4:4 — pure IDCT/rounding differences
        ),
    ]
    ran = 0
    for path, mean_bound in cases:
        if not Path(path).exists():
            continue
        row = (
            spark.read.format("image")
            .load(path)
            .select("image.*")
            .collect()[0]
        )
        assert row.nChannels == 3
        ref = np.frombuffer(bytes(row.data), np.uint8).reshape(
            row.height, row.width, 3
        )[:, :, ::-1].astype(int)  # BGR -> RGB
        w, h, ch, out = decode_jpeg(Path(path).read_bytes())
        assert (w, h, ch) == (row.width, row.height, 3)
        ours = np.frombuffer(out, np.uint8).reshape(h, w, 3).astype(int)
        d = np.abs(ours - ref)
        assert d.mean() <= mean_bound, d.mean()
        assert (d > 16).mean() <= 0.001, (d > 16).mean()
        ran += 1
    if not ran:
        import pytest as _pytest

        _pytest.skip("no system baseline JPEGs on this box")


def test_jpeg_rejects_progressive_and_bounds_declared_rasters():
    """(a) Progressive (SOF2) streams raise ValueError — out of
    baseline scope, must fail loudly rather than mis-decode. (b) A
    crafted SOF declaring a raster past the 64 MiB cap raises BEFORE
    entropy decode allocates anything."""
    import struct
    from pathlib import Path

    import pytest as _pytest

    from sales_etl_spark.operators.jpeg import decode_jpeg, encode_jpeg

    prog = Path("/usr/share/doc/nodejs/thin-white-stripe.jpg")
    if prog.exists():
        with _pytest.raises(ValueError, match="baseline"):
            decode_jpeg(prog.read_bytes())

    good = bytearray(encode_jpeg(bytes(64), 8, 8))
    sof_at = bytes(good).index(b"\xff\xc0")
    # SOF0 body: len(2) prec(1) height(2) width(2) — patch the geometry
    good[sof_at + 5 : sof_at + 9] = struct.pack(">HH", 30000, 30000)
    with _pytest.raises(ValueError, match="byte cap"):
        decode_jpeg(bytes(good))


def test_wav_pcm_decode_matches_stdlib_wave_reader():
    """decode_wav_pcm (independent RIFF walk + signed-16 unpack) must
    agree sample-for-sample with the stdlib wave reader on files the
    stdlib wrote — byte order, sign extension and data-chunk bounds
    all on the line — and fail loudly on non-PCM payloads."""
    import io
    import random
    import struct
    import wave

    from sales_etl_spark.operators.multimodal import decode_wav_pcm

    rng = random.Random(17)
    for _ in range(5):
        n = rng.randint(1, 500)
        rate = rng.choice([8000, 16000, 44100])
        samples = [rng.randint(-32768, 32767) for _ in range(n)]
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(struct.pack(f"<{n}h", *samples))
        got_rate, got_ch, got = decode_wav_pcm(buf.getvalue())
        assert (got_rate, got_ch, got) == (rate, 1, samples)

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav_pcm(b"\x00" * 64)
    # 8-bit PCM is out of the 16-bit contract: must raise, not
    # silently mis-unpack
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(b"\x80" * 10)
    with pytest.raises(ValueError, match="16-bit"):
        decode_wav_pcm(buf.getvalue())


def test_avi_mjpeg_container_roundtrip_and_strictness():
    """The AVI writer/parser pair: (a) frames survive the container
    byte-for-byte in order, geometry and fps parse back from
    avih/strh, odd-length frames exercise the word-alignment padding;
    (b) non-AVI and non-MJPG streams raise."""
    import random

    from sales_etl_spark.operators.avi import (
        encode_avi_mjpeg,
        parse_avi_mjpeg,
    )
    from sales_etl_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = random.Random(19)
    frames = []
    for f in range(5):
        w, h = 16, 8
        px = bytes(
            (f * 29 + (y // 8) * 19 + (x // 8) * 11) % 256
            for y in range(h)
            for x in range(w)
        )
        frames.append(encode_jpeg(px, w, h))
    avi = encode_avi_mjpeg(frames, 16, 8, fps=25)
    w2, h2, fps, got = parse_avi_mjpeg(avi)
    assert (w2, h2, fps) == (16, 8, 25)
    assert got == frames
    for payload in got:
        fw, fh, ch, _ = decode_jpeg(payload)
        assert (fw, fh, ch) == (16, 8, 1)

    # word-alignment padding path, GUARANTEED exercised: raw payloads
    # of every parity (the container is content-agnostic)
    mixed = [b"x" * n for n in (1, 2, 253, 254, 255, 256, 257)]
    assert parse_avi_mjpeg(encode_avi_mjpeg(mixed, 4, 4))[3] == mixed

    with pytest.raises(ValueError, match="RIFF/AVI"):
        parse_avi_mjpeg(b"RIFF\x00\x00\x00\x00WAVE")
    bad = bytearray(avi)
    at = avi.index(b"MJPG")
    bad[at : at + 4] = b"H264"
    with pytest.raises(ValueError, match="not MJPG"):
        parse_avi_mjpeg(bytes(bad))


def test_mjpeg_frame_sampling_stride_inside_kernel(spark):
    """mjpeg_frame_pixels(every_n=2) must emit exactly the frames at
    even indices with the true total frame count — the frame-sample
    contract over REAL container payloads (only sampled frames are
    ever decoded)."""
    from sales_etl_spark.operators.multimodal import (
        documents_as_mjpeg,
        mjpeg_frame_pixels,
    )

    docs = load_star(spark, SF).documents.limit(40)
    rows = mjpeg_frame_pixels(
        documents_as_mjpeg(docs), every_n=2
    ).collect()
    by_media: dict = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    for media_id, rs in by_media.items():
        n = rs[0].n_frames
        assert n == 2 + media_id % 4
        assert sorted(r.frame_idx for r in rs) == list(range(0, n, 2))
        for r in rs:
            assert len(r.pixels) == r.width * r.height


def test_gif_lzw_roundtrip_all_code_paths():
    """GIF is lossless: encode->decode must be bit-exact on arbitrary
    rasters. The trials cover random data (dictionary churn), highly
    repetitive data (deep dictionary chains + width growth), and a
    40k-pixel raster that overflows the 12-bit dictionary (CLEAR
    reset mid-stream + KwKwK cases)."""
    import random

    from sales_etl_spark.operators.gif import decode_gif, encode_gif

    rng = random.Random(23)
    for trial in range(12):
        w, h = rng.randint(1, 60), rng.randint(1, 60)
        kind = trial % 3
        if kind == 0:
            px = bytes(rng.randrange(256) for _ in range(w * h))
        elif kind == 1:
            px = bytes((x % 7) for x in range(w * h))
        else:
            px = bytes((x * 17 + 3) % 256 for x in range(w * h))
        w2, h2, ch, rgb = decode_gif(encode_gif(px, w, h))
        assert (w2, h2, ch) == (w, h, 3)
        assert rgb == bytes(v for p in px for v in (p, p, p))

    w = h = 200  # forces dictionary overflow -> CLEAR reset
    px = bytes(((x // 3) * 31 + (x // 7)) % 256 for x in range(w * h))
    assert decode_gif(encode_gif(px, w, h))[3] == bytes(
        v for p in px for v in (p, p, p)
    )


def test_gif_real_world_decode_and_strictness(spark):
    """(a) The decoder reads REAL third-party GIFs (87a and 89a with
    extension blocks, different encoders) when present, and the
    full-frame ones match Java ImageIO's decode EXACTLY — GIF is
    lossless, so unlike JPEG the cross-decoder comparison is
    bit-equality. (b) Non-GIF payloads and oversized declared rasters
    raise."""
    from pathlib import Path

    import numpy as np
    import pytest as _pytest

    from sales_etl_spark.operators.gif import decode_gif

    candidates = [
        "/usr/share/doc/libxslt1-dev/html/redhat.gif",
        "/usr/share/doc/libxslt1-dev/html/smallfootonly.gif",
    ]
    ran = 0
    for cand in candidates:
        p = Path(cand)
        if not p.exists():
            continue
        w, h, ch, rgb = decode_gif(p.read_bytes())
        assert ch == 3 and len(rgb) == w * h * 3
        rows = (
            spark.read.format("image").load(cand).select("image.*").collect()
        )
        if rows and rows[0].nChannels in (3, 4):
            r = rows[0]
            if (r.width, r.height) == (w, h):
                ref = np.frombuffer(bytes(r.data), np.uint8).reshape(
                    h, w, r.nChannels
                )
                ours = np.frombuffer(rgb, np.uint8).reshape(h, w, 3)
                # Spark image source is BGR(A): take the first three
                # channels reversed to get RGB
                ref_rgb = ref[:, :, [2, 1, 0]]
                assert (ours == ref_rgb).all()
        ran += 1
    if not ran:
        _pytest.skip("no system GIFs on this box")

    with _pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"\x00" * 32)


def test_gif_decode_bounds_declared_rasters():
    """A crafted image descriptor declaring a raster past the 64 MiB
    cap must raise before the LZW expand allocates anything, and an
    LZW stream producing more indices than the declared raster stops
    at raster+1 (bounded expand, the PNG/JPEG bomb contract)."""
    import struct

    import pytest as _pytest

    from sales_etl_spark.operators.gif import decode_gif, encode_gif

    good = bytearray(encode_gif(bytes(20), 5, 4))
    at = 6 + 7 + 768  # header + LSD + global table -> image descriptor
    assert good[at] == 0x2C
    bomb = bytearray(good)
    bomb[at + 5 : at + 9] = struct.pack("<HH", 60000, 60000)
    with _pytest.raises(ValueError, match="byte cap"):
        decode_gif(bytes(bomb))

    # declared 5x4 but the LZW stream encodes 2000 indices
    overrun = bytearray(encode_gif(bytes(2000), 50, 40))
    overrun[at + 5 : at + 9] = struct.pack("<HH", 5, 4)
    with _pytest.raises(ValueError, match="exceeds declared|indices"):
        decode_gif(bytes(overrun))


def test_jpeg_fill_bytes_and_corrupt_streams():
    """(a) T.81 B.1.1.2: 0xFF fill bytes may pad before any marker —
    a spec-valid stream with them must decode identically (some
    encoders/camera firmware emit them). (b) Malformed streams —
    truncation mid-entropy-data, a scan referencing an undefined
    Huffman table, a short segment header — must raise the module's
    documented ValueError, never leak IndexError/KeyError/
    struct.error (quarantine tiers classify on one exception type)."""
    from sales_etl_spark.operators.jpeg import decode_jpeg, encode_jpeg

    px = bytes(range(64))
    good = encode_jpeg(px, 8, 8)
    # inject fill bytes before the DQT marker (first marker after APP0)
    at = good.index(b"\xff\xdb")
    padded = good[:at] + b"\xff\xff\xff" + good[at:]
    assert decode_jpeg(padded) == decode_jpeg(good) == (8, 8, 1, px)

    for bad in [
        good[: len(good) // 2],          # truncated mid-entropy-data
        good[:20],                        # truncated mid-segment
        good.replace(b"\xff\xc4", b"\xff\xfe", 1),  # DHT -> COM: no tables
    ]:
        with pytest.raises(ValueError):
            decode_jpeg(bad)


def test_png_rejects_truncated_deflate_with_matching_length():
    """The bounded-inflate change must NOT cost stream validation: an
    IDAT whose deflate stream is cut right after emitting all raster
    bytes (no final block / Adler-32 trailer) has the CORRECT output
    length but is corrupt — it must raise, not decode silently into
    the hash-checked tier."""
    import struct
    import zlib

    from sales_etl_spark.operators.png import _SIG, _chunk, decode_png

    w, h = 4, 3
    raw = b"".join(
        b"\x00" + bytes(range(y * w, y * w + w)) for y in range(h)
    )
    full = zlib.compress(raw)
    # find the shortest prefix that still inflates to the full raster
    # but has not reached the stream end (trailer missing)
    cut = None
    for k in range(4, len(full)):
        d = zlib.decompressobj()
        try:
            out = d.decompress(full[:k], len(raw) + 1)
        except zlib.error:
            continue
        if len(out) == len(raw) and not d.eof:
            cut = full[:k]
            break
    assert cut is not None, "could not construct a trailerless prefix"
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    png = (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", cut)
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="truncated|corrupt"):
        decode_png(png)


def test_decode_tier_exception_contract_is_valueerror():
    """Every decoder in the tier normalizes malformed-stream failures
    to ValueError (quarantine tiers classify on one exception type):
    truncated GIF headers/sub-blocks, truncated AVI chunk headers, a
    crafted deep-nested LIST tower (stack bomb), and a WAV data chunk
    cut mid-sample must all raise ValueError — never leak
    struct.error/IndexError/RecursionError."""
    import struct

    from sales_etl_spark.operators.avi import (
        encode_avi_mjpeg,
        parse_avi_mjpeg,
    )
    from sales_etl_spark.operators.gif import decode_gif, encode_gif
    from sales_etl_spark.operators.multimodal import decode_wav_pcm

    gif = encode_gif(bytes(20), 5, 4)
    for cut in (8, len(gif) - 3):
        with pytest.raises(ValueError):
            decode_gif(gif[:cut])

    avi = encode_avi_mjpeg([b"frame"], 4, 4)
    with pytest.raises(ValueError):
        parse_avi_mjpeg(avi[:40])
    # LIST tower: 1000 nested movi LISTs must hit the depth cap, not
    # the Python recursion limit
    inner = b""
    for _ in range(1000):
        inner = (
            b"LIST" + struct.pack("<I", len(inner) + 4) + b"movi" + inner
        )
    bomb = b"RIFF" + struct.pack("<I", len(inner) + 4) + b"AVI " + inner
    with pytest.raises(ValueError, match="nesting|avih"):
        parse_avi_mjpeg(bomb)

    # WAV data chunk with an odd byte count: fail loud, don't decode
    # a plausible shorter sample list
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 1, 2, 3, 4))
    wav = bytearray(buf.getvalue())
    at = bytes(wav).index(b"data")
    size = int.from_bytes(wav[at + 4 : at + 8], "little")
    wav[at + 4 : at + 8] = (size - 1).to_bytes(4, "little")
    with pytest.raises(ValueError, match="mid-sample"):
        decode_wav_pcm(bytes(wav[:-1]))


def test_jpeg_rejects_non_integral_sampling_ratio():
    """T.81 permits e.g. 3:2 luma:chroma sampling; the replication
    upsampler handles only integral ratios — it must REFUSE such a
    stream rather than silently decode chroma on the wrong grid."""
    import struct

    from sales_etl_spark.operators.jpeg import (
        STD_AC_BITS,
        STD_AC_VALS,
        STD_DC_BITS,
        STD_DC_VALS,
    )
    from sales_etl_spark.operators.jpeg import decode_jpeg

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dqt = seg(0xDB, bytes([0]) + bytes([16] * 64))
    sof = seg(
        0xC0,
        struct.pack(">BHHB", 8, 16, 16, 2)
        + bytes([1, 0x33, 0])  # component 1: 3x3
        + bytes([2, 0x22, 0]),  # component 2: 2x2 -> ratio 3/2
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(STD_DC_BITS) + bytes(STD_DC_VALS)
        + bytes([0x10]) + bytes(STD_AC_BITS) + bytes(STD_AC_VALS),
    )
    sos = seg(0xDA, bytes([2, 1, 0x00, 2, 0x00, 0, 63, 0]))
    stream = b"\xff\xd8" + dqt + sof + dht + sos + b"\x00" * 8 + b"\xff\xd9"
    with pytest.raises(ValueError, match="sampling ratio"):
        decode_jpeg(stream)


def test_avi_multi_stream_frame_isolation_and_second_vids_rejected():
    """A two-stream AVI (audio stream 0 + MJPG video stream 1) must
    collect ONLY the video stream's 01dc chunks — a foreign 00dc
    chunk in movi is ignored, not interleaved. A file declaring TWO
    vids streams raises (the parser owns exactly one video stream)."""
    import struct

    from sales_etl_spark.operators.avi import (
        _chunk,
        _list,
        parse_avi_mjpeg,
    )

    def strh(fcc_type: bytes, handler: bytes) -> bytes:
        return _chunk(
            b"strh",
            fcc_type
            + handler
            + struct.pack(
                "<IHHIIIIIIII4H",
                0, 0, 0, 0,
                1, 25,  # scale, rate
                0, 2, 64, 0xFFFFFFFF, 0, 0, 0, 16, 8,
            ),
        )

    avih = struct.pack(
        "<14I", 40_000, 64 * 25, 0, 0x10, 2, 0, 2, 64, 16, 8, 0, 0, 0, 0
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", strh(b"auds", b"\x00\x00\x00\x00"))
        + _list(b"strl", strh(b"vids", b"MJPG")),
    )
    video = [b"frameA", b"frameB"]
    movi = _list(
        b"movi",
        _chunk(b"00wb", b"pcm-bytes")  # audio data, ignored by suffix
        + _chunk(b"01dc", video[0])
        + _chunk(b"00dc", b"NOT-A-FRAME")  # foreign dc chunk, stream 0
        + _chunk(b"01dc", video[1]),
    )
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    w, h, fps, frames = parse_avi_mjpeg(avi)
    assert (w, h, fps) == (16, 8, 25)
    assert frames == video  # 00dc excluded, order preserved

    two_vids = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", strh(b"vids", b"MJPG"))
        + _list(b"strl", strh(b"vids", b"MJPG")),
    )
    body2 = b"AVI " + two_vids + movi
    with pytest.raises(ValueError, match="multiple video streams"):
        parse_avi_mjpeg(b"RIFF" + struct.pack("<I", len(body2)) + body2)


def test_chirp_wav_fixture_and_audio_fingerprint_semantics(spark):
    """The perceptual-audio tier: (a) the chirp fixture round-trips
    through the independent decode_wav_pcm walk with the documented
    closed-form samples; (b) identical clips (equal (13d+nc) % 65536
    residue AND equal length) receive identical 64-bit fingerprints,
    so they collide in all four LSH bands — the duplicate-catching
    contract; (c) every reported bucket's n_pairs is C(n_clips, 2)."""
    import numpy as np

    from sales_etl_spark.operators.multimodal import (
        decode_wav_pcm,
        documents_as_chirp_wav,
    )
    from sales_etl_spark.plans import QUERY_REGISTRY

    # (a) closed-form round-trip on a 2-row frame
    docs = spark.createDataFrame(
        [(7, "x" * 123), (12, "y" * 223)], "doc_id long, text string"
    ).selectExpr("doc_id", "length(text) AS n_chars")
    out = {
        r["media_id"]: bytes(r["payload"])
        for r in documents_as_chirp_wav(docs).collect()
    }
    for d, nc in ((7, 123), (12, 223)):
        rate, ch, samples = decode_wav_pcm(out[d])
        assert (rate, ch) == (8000 + (d % 4) * 4000, 1)
        n = 100 + nc % 400
        i = np.arange(n, dtype=np.int64)
        want = (((d * 13 + nc) + 7 * i * i) % 65536 - 32768).tolist()
        assert samples == want

    # (b)+(c) on the real fixture corpus
    res = QUERY_REGISTRY["dedup_audio_fingerprint"].builder(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert res, "no candidate buckets at sf0.001"
    for r in res:
        assert r["n_pairs"] == r["n_clips"] * (r["n_clips"] - 1) // 2
        assert 0 <= r["band_val"] < 65536 and 0 <= r["band_idx"] < 4

    # exact duplicates in fixture space: clips with equal residue and
    # equal n are byte-identical, so each duplicate group of size g
    # contributes >= 1 bucket with n_clips >= g in EVERY band
    import duckdb

    con = duckdb.connect()
    groups = con.execute(
        """
        SELECT ((doc_id * 13 + n_chars) % 65536) AS res,
               (100 + n_chars % 400) AS n, COUNT(*) AS g
        FROM read_parquet('/root/testdata/sf0.001/documents.parquet')
        GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY g DESC LIMIT 1
        """
    ).fetchone()
    if groups is not None:
        g = groups[2]
        by_band = {}
        for r in res:
            by_band.setdefault(r["band_idx"], []).append(r["n_clips"])
        for band in range(4):
            assert max(by_band.get(band, [0])) >= g, (band, g)


def test_avi_short_foreign_strh_still_counts_in_stream_index():
    """A foreign stream whose strh is SHORT (<56 bytes) must still
    advance the positional stream index — otherwise the following
    MJPG stream is matched against the wrong NN prefix and every
    valid frame silently drops. A short VIDS strh raises instead."""
    import struct

    from sales_etl_spark.operators.avi import (
        _chunk,
        _list,
        parse_avi_mjpeg,
    )

    def full_strh(fcc_type: bytes, handler: bytes) -> bytes:
        return _chunk(
            b"strh",
            fcc_type + handler + struct.pack(
                "<IHHIIIIIIII4H",
                0, 0, 0, 0, 1, 25, 0, 1, 64, 0xFFFFFFFF, 0, 0, 0, 16, 8,
            ),
        )

    avih = struct.pack(
        "<14I", 40_000, 64 * 25, 0, 0x10, 1, 0, 2, 64, 16, 8, 0, 0, 0, 0
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", b"auds"))  # short foreign strh
        + _list(b"strl", full_strh(b"vids", b"MJPG")),
    )
    movi = _list(b"movi", _chunk(b"01dc", b"frameX"))
    body = b"AVI " + hdrl + movi
    w, h, fps, frames = parse_avi_mjpeg(
        b"RIFF" + struct.pack("<I", len(body)) + body
    )
    assert frames == [b"frameX"] and (w, h, fps) == (16, 8, 25)

    bad_hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", b"vids" + b"MJPG")),  # short
    )
    body2 = b"AVI " + bad_hdrl + movi
    with pytest.raises(ValueError, match="truncated vids strh"):
        parse_avi_mjpeg(b"RIFF" + struct.pack("<I", len(body2)) + body2)


def test_phash_pairs_verify_contract(spark):
    """dedup_phash_pairs: every emitted pair is ordered (a < b),
    verified (hamming <= 6), and consistent with the full hashes —
    recomputing the two aHashes for a sample of pairs reproduces the
    reported Hamming distance exactly."""
    from pyspark.sql import functions as F

    from sales_etl_spark.operators.multimodal import (
        documents_as_png,
        png_ahash,
    )
    from sales_etl_spark.plans import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"
    pairs = QUERY_REGISTRY["dedup_phash_pairs"].builder(spark, sf)
    rows = pairs.limit(2000).collect()
    assert rows, "no verified pairs at sf0.001"
    assert all(r["media_a"] < r["media_b"] for r in rows)
    assert all(0 <= r["hamming"] <= 6 for r in rows)

    hashes = {
        r["media_id"]: (r["hash_lo"], r["hash_hi"])
        for r in png_ahash(
            documents_as_png(spark.read.parquet(f"{sf}/documents.parquet"))
        ).collect()
    }
    for r in rows[:50]:
        lo_a, hi_a = hashes[r["media_a"]]
        lo_b, hi_b = hashes[r["media_b"]]
        want = bin((lo_a ^ lo_b)).count("1") + bin((hi_a ^ hi_b)).count("1")
        assert want == r["hamming"], (r, want)


def test_audio_pairs_verify_contract(spark):
    """dedup_audio_pairs: the audio twin of the phash pair contract —
    ordered pairs, hamming <= 6, distances consistent with the full
    fingerprints."""
    from sales_etl_spark.operators.multimodal import (
        documents_as_chirp_wav,
        wav_energy_hash,
    )
    from sales_etl_spark.plans import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = (
        QUERY_REGISTRY["dedup_audio_pairs"].builder(spark, sf)
        .limit(2000)
        .collect()
    )
    assert rows, "no verified audio pairs at sf0.001"
    assert all(r["media_a"] < r["media_b"] for r in rows)
    assert all(0 <= r["hamming"] <= 6 for r in rows)
    hashes = {
        r["media_id"]: (r["hash_lo"], r["hash_hi"])
        for r in wav_energy_hash(
            documents_as_chirp_wav(
                spark.read.parquet(f"{sf}/documents.parquet")
            )
        ).collect()
    }
    for r in rows[:50]:
        lo_a, hi_a = hashes[r["media_a"]]
        lo_b, hi_b = hashes[r["media_b"]]
        want = bin(lo_a ^ lo_b).count("1") + bin(hi_a ^ hi_b).count("1")
        assert want == r["hamming"], (r, want)


def test_banded_hamming_pairs_drops_hot_buckets(spark):
    """The cap path: a band bucket holding more than ``cap`` members
    contributes NO candidate pairs (an inverted anti-join that kept
    only hot buckets would flip this), while small buckets still
    pair — exercised directly on an engineered fingerprint frame."""
    from sales_etl_spark.operators.dedup import banded_hamming_pairs

    # 10 identical hashes -> every band bucket has 10 members (> cap
    # 4); plus one near-dup pair (1 bit apart) in its own buckets
    rows = [(i, 1111, 2222) for i in range(10)]
    rows += [(100, 1 << 20, 0), (101, (1 << 20) | 1, 0)]
    hashed = spark.createDataFrame(
        rows, "media_id long, hash_lo long, hash_hi long"
    )
    got = {
        (r["media_a"], r["media_b"], r["hamming"])
        for r in banded_hamming_pairs(hashed, cap=4, max_hamming=6)
        .collect()
    }
    # the hot identical-hash clique is fully suppressed; the pair
    # (100, 101) collides in 3 of 4 bands (bands 1-3 agree; band 0
    # differs by the low bit) and verifies at hamming 1 exactly once
    assert got == {(100, 101, 1)}, got


def test_video_grid_signature_semantics():
    """video_grid_hash on engineered frames: (a) temporal slots — two
    uniform frames (dim then bright) must put the bright frame's half
    of the grid above the video mean (hash_lo = 0, hash_hi = 2^32-1);
    (b) spatial columns — a single 16x2 frame whose right half is
    bright must set exactly the c >= 4 column bits of every temporal
    row (0xF0F0F0F0 in both halves), proving the nearest-neighbor
    column map (c*width) DIV 8 and the h-weighted cross-multiplied
    threshold."""
    from sales_etl_spark.operators.multimodal import video_grid_hash

    # video 1: sampled frames all 10s, then all 30s (8x8)
    dim_bright = [(8, 8, bytes([10] * 64)), (8, 8, bytes([30] * 64))]
    assert video_grid_hash(dim_bright) == (0, 0xFFFFFFFF)
    # video 2: one 16x2 frame, left half 0, right half 100
    halves = [(16, 2, bytes(([0] * 8 + [100] * 8) * 2))]
    assert video_grid_hash(halves) == (0xF0F0F0F0, 0xF0F0F0F0)


def test_video_pairs_verify_contract(spark):
    """dedup_video_pairs: the video leg of the perceptual pair
    contract — ordered pairs, hamming <= 6, distances consistent with
    the full grid signatures recomputed independently."""
    from sales_etl_spark.operators.multimodal import (
        documents_as_mjpeg,
        mjpeg_grid_hash,
    )
    from sales_etl_spark.plans import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = (
        QUERY_REGISTRY["dedup_video_pairs"].builder(spark, sf)
        .limit(2000)
        .collect()
    )
    assert rows, "no verified video pairs at sf0.001"
    assert all(r["media_a"] < r["media_b"] for r in rows)
    assert all(0 <= r["hamming"] <= 6 for r in rows)
    hashes = {
        r["media_id"]: (r["hash_lo"], r["hash_hi"])
        for r in mjpeg_grid_hash(
            documents_as_mjpeg(spark.read.parquet(f"{sf}/documents.parquet")),
            every_n=2,
        ).collect()
    }
    for r in rows[:50]:
        lo_a, hi_a = hashes[r["media_a"]]
        lo_b, hi_b = hashes[r["media_b"]]
        want = bin(lo_a ^ lo_b).count("1") + bin(hi_a ^ hi_b).count("1")
        assert want == r["hamming"], (r, want)


def test_video_motion_features_semantics():
    """video_motion on engineered frames: a static 3-frame video has
    motion 0 and no cuts; a video with two small deltas and one hard
    cut counts exactly one scene cut (strict 2x-mean rule); a
    single-sampled-frame video emits zeros."""
    from sales_etl_spark.operators.multimodal import video_motion

    def frame(v):  # one 8x1 frame of constant value v
        return 8, 1, bytes([v] * 8)

    # video 1: three identical frames -> static
    assert video_motion([frame(5)] * 3) == (3, 0, 0, 0)
    # video 2: deltas 8, 8, then a hard cut of 800 > 2*mean(272)
    cut = [frame(0), frame(1), frame(2), frame(102)]
    assert video_motion(cut) == (4, 816, 800, 1)
    # video 3: single sampled frame
    assert video_motion([frame(9)]) == (1, 0, 0, 0)


def test_video_incremental_equals_full_restricted(spark):
    """The dedup_video_incremental contract, asserted engine-side as
    well as by its oracle: the index-probe result must equal the
    full-corpus pair set restricted to batch-touching pairs — same
    caps, same Hamming threshold, nothing recomputed differently."""
    from pyspark.sql import functions as F

    from sales_etl_spark.plans import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"
    inc = {
        (r["media_a"], r["media_b"], r["hamming"])
        for r in QUERY_REGISTRY["dedup_video_incremental"]
        .builder(spark, sf).collect()
    }
    full = {
        (r["media_a"], r["media_b"], r["hamming"])
        for r in QUERY_REGISTRY["dedup_video_pairs"]
        .builder(spark, sf)
        .filter(
            (F.col("media_a") % 5 == 0) | (F.col("media_b") % 5 == 0)
        )
        .collect()
    }
    assert inc, "no batch-touching pairs at sf0.001"
    assert inc == full


def test_planted_variants_land_at_exact_hamming_k(spark):
    """documents_as_mjpeg_planted's contract, through the REAL
    decode pipeline: each (base, variant) pair's grid-signature
    Hamming distance is EXACTLY k = 1 + doc_id % 6 (two-level cells
    make the mean threshold degenerate to level identity), and every
    distance 1..6 has a non-empty population — the ground truth the
    rewritten dedup_video_recall_eval measures banding recall on."""
    from sales_etl_spark.operators.multimodal import (
        VARIANT_OFFSET,
        documents_as_mjpeg_planted,
        mjpeg_grid_hash,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter("doc_id % 5 = 1 AND doc_id < 300")
        .select("doc_id", "n_chars")
    )
    sig = mjpeg_grid_hash(documents_as_mjpeg_planted(docs), every_n=2)
    rows = {r.media_id: (r.hash_lo, r.hash_hi) for r in sig.collect()}
    seen = set()
    for mid, (lo, hi) in rows.items():
        if mid >= VARIANT_OFFSET:
            continue
        vlo, vhi = rows[mid + VARIANT_OFFSET]
        ham = bin((lo ^ vlo) & 0xFFFFFFFF).count("1") + bin(
            (hi ^ vhi) & 0xFFFFFFFF
        ).count("1")
        assert ham == 1 + mid % 6, f"doc {mid}: ham {ham}"
        seen.add(ham)
    assert seen == {1, 2, 3, 4, 5, 6}


def test_planted_image_audio_variants_exact_hamming_k(spark):
    """The image and audio planted corpora carry the same contract as
    the video one: each (base, variant) pair's production-path hash
    distance is EXACTLY k = 1 + doc_id % 6, with all six distances
    populated — through the real PNG decode/thumbnail and PCM
    decode/window-energy pipelines respectively."""
    from sales_etl_spark.operators.multimodal import (
        VARIANT_OFFSET,
        documents_as_png_planted,
        documents_as_wav_planted,
        png_ahash,
        wav_energy_hash,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "n_chars")

    for gen, hasher, residue in (
        (documents_as_png_planted, png_ahash, 2),
        (documents_as_wav_planted, wav_energy_hash, 3),
    ):
        sub = docs.filter(f"doc_id % 5 = {residue} AND doc_id < 300")
        rows = {
            r.media_id: (r.hash_lo, r.hash_hi)
            for r in hasher(gen(sub)).collect()
        }
        seen = set()
        for mid, (lo, hi) in rows.items():
            if mid >= VARIANT_OFFSET:
                continue
            vlo, vhi = rows[mid + VARIANT_OFFSET]
            ham = bin((lo ^ vlo) & 0xFFFFFFFF).count("1") + bin(
                (hi ^ vhi) & 0xFFFFFFFF
            ).count("1")
            assert ham == 1 + mid % 6, f"doc {mid}: ham {ham}"
            seen.add(ham)
        assert seen == {1, 2, 3, 4, 5, 6}


def test_recall_floors_gated_per_modality(spark):
    """GATE on the banding recall values themselves (round-10 verdict
    ask #2): the three planted recall evals are oracle-checked for
    cross-engine agreement, but the oracle agrees with whatever the
    banding does — a silent banding regression (fewer effective
    bands, a cap mis-sizing, a band-split typo) would stay
    oracle-green. This test pins the curve:

    - hamming 1..3: recall_ppm == 1_000_000 EXACTLY — the pigeonhole
      guarantee of the 4x16-bit band split (3 flips cannot touch all
      4 bands), which holds absent cap losses on this planted corpus;
    - hamming 4: recall_ppm >= 400_000 — the documented floor; the
      planted flip pattern leaves one band untouched for about half
      the h=4 population (measured 500_000-529_411 ppm across the
      three modalities at sf0.001);
    - hamming 1..6 populations all non-empty (the eval is measuring
      something at every distance).

    The evals are deterministic (planted corpus + deterministic
    codecs), so these floors are stable, not flaky."""
    from sales_etl_spark.plans import QUERY_REGISTRY

    sf = "/root/testdata/sf0.001"
    for key in (
        "dedup_video_recall_eval",
        "dedup_image_recall_eval",
        "dedup_audio_recall_eval",
    ):
        rows = {
            r.hamming: r for r in QUERY_REGISTRY[key].builder(spark, sf).collect()
        }
        assert set(rows) == {1, 2, 3, 4, 5, 6}, f"{key}: distances {set(rows)}"
        for h in (1, 2, 3):
            assert rows[h].n_exact > 0, f"{key}: empty population at h={h}"
            assert rows[h].recall_ppm == 1_000_000, (
                f"{key}: banding guarantee broken at h={h}: "
                f"{rows[h].recall_ppm} ppm"
            )
        assert rows[4].recall_ppm >= 400_000, (
            f"{key}: h=4 floor broken: {rows[4].recall_ppm} ppm"
        )


def test_mp4_mp3_metadata_parsers_roundtrip_and_robustness(spark):
    """The container-probe parsers are true byte walks: (a) every
    fixture round-trips to the generator's closed form (the
    media_container_probe oracle), (b) the MP4 walk survives a
    64-bit largesize box and ignores audio-only tkhds, (c) the MP3
    sync scan skips leading junk (an ID3v2-tag stand-in) and a
    truncated tail frame ends the walk cleanly."""
    from sales_etl_spark.operators.multimodal import (
        documents_as_mp3_headers,
        documents_as_mp4_headers,
        parse_mp3_metadata,
        parse_mp4_metadata,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "n_chars")
        .filter("doc_id < 60")
    )
    nc = {r.doc_id: r.n_chars for r in docs.collect()}
    mp4 = {r.media_id: bytes(r.payload)
           for r in documents_as_mp4_headers(docs).collect()}
    for mid, payload in mp4.items():
        assert parse_mp4_metadata(payload) == (
            500 + (mid % 97) * 40,
            16 * (1 + mid % 9),
            16 * (1 + nc[mid] % 7),
        )
    mp3 = {r.media_id: bytes(r.payload)
           for r in documents_as_mp3_headers(docs).collect()}
    for mid, payload in mp3.items():
        rate = (44100, 48000, 32000)[mid % 3]
        kbps = (64, 96, 128, 160, 192)[nc[mid] % 5]
        frames = 4 + mid % 13
        assert parse_mp3_metadata(payload) == (
            rate, kbps, (frames * 1152 * 1000) // rate
        )

    # (b) 64-bit largesize wrapper around a real payload's moov
    sample = mp4[1]
    # sample = ftyp + moov + mdat; rewrap the leading ftyp with a
    # largesize header (size==1 + 8-byte size), parser must keep
    # walking past it to moov
    import struct

    ftyp_size = struct.unpack(">I", sample[:4])[0]
    ftyp_body = sample[8:ftyp_size]
    rest = sample[ftyp_size:]
    wrapped = (
        struct.pack(">I", 1) + b"ftyp"
        + struct.pack(">Q", 16 + len(ftyp_body)) + ftyp_body + rest
    )
    assert parse_mp4_metadata(wrapped) == parse_mp4_metadata(sample)

    # (c) junk prefix + truncated tail on a real MP3 payload
    sample3 = mp3[2]
    junky = b"ID3\x04\x00junkjunk" + sample3 + sample3[:3]
    assert parse_mp3_metadata(junky) == parse_mp3_metadata(sample3)
    assert parse_mp3_metadata(b"\x00\x01\x02") is None
    assert parse_mp4_metadata(b"\x00\x01\x02") is None


def _fanout(spark):
    # one input row gives i % 3 output rows: 0, 1 and 2
    df = spark.range(0, 6, 1, 2)
    want = [(i, j) for i in range(6) for j in range(i % 3)]
    return row_kernel(df, lambda i: ((i, j) for j in range(i % 3)),
                      "id long, j int"), want


def _mjpeg_sampled_frames(spark):
    # every 3rd of 2..5 frames: one or two rows per video
    from sales_etl_spark.operators.multimodal import (
        documents_as_mjpeg,
        mjpeg_frame_pixels,
    )

    docs = load_star(spark, SF).documents.filter("doc_id < 8")
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    df = mjpeg_frame_pixels(documents_as_mjpeg(docs), every_n=3).select(
        "media_id", "frame_idx", "n_frames")
    want = [(d, f, 2 + d % 4) for d in ids for f in range(0, 2 + d % 4, 3)]
    return df, want


def _planted_base_and_variant(spark):
    # one document gives its base and its re-encoded variant
    from sales_etl_spark.operators.multimodal import (
        VARIANT_OFFSET,
        documents_as_png_planted,
    )

    docs = spark.createDataFrame([(3, 40), (4, 41)], "doc_id long, n_chars int")
    df = documents_as_png_planted(docs).select("media_id")
    return df, [(m,) for d in (3, 4) for m in (d, d + VARIANT_OFFSET)]


def _empty_partitions(spark):
    # 3 rows over 5 partitions, a partition whose rows all yield
    # nothing (an empty output batch), and no rows at all
    df = spark.range(0, 3, 1, 5).unionByName(
        spark.range(10, 14, 1, 1)).unionByName(spark.range(0))
    out = row_kernel(df, lambda i: [(i * 10,)] if i < 10 else [], "x long")
    return out, [(0,), (10,), (20,)]


def _null_fields(spark):
    from sales_etl_spark.operators.multimodal import audio_metadata

    media = spark.createDataFrame(
        [(7, bytearray(b"JUNKJUNKJUNK"))], "media_id long, payload binary")
    want = [(7, 12, hashlib.md5(b"JUNKJUNKJUNK").hexdigest(),
             None, None, None, None)]
    return audio_metadata(media), want


def _binary_and_int_array(spark):
    payloads = [b"", b"\x00\xff\x00", bytes(range(256))]
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "i long, payload binary")
    out = row_kernel(
        df,
        lambda i, p: [(i, p, list(p), type(p).__name__)],
        "i long, payload binary, ints array<int>, kind string",
    )
    want = [(i, p, list(p), "bytes") for i, p in enumerate(payloads)]
    return out, want


def _int_out_of_range(spark):
    return row_kernel(spark.range(1), lambda i: [(2**31,)], "v int"), None


@pytest.mark.parametrize("case", [
    _fanout, _mjpeg_sampled_frames, _planted_base_and_variant,
    _empty_partitions, _null_fields, _binary_and_int_array,
    _int_out_of_range,
], ids=lambda c: c.__name__.lstrip("_"))
def test_row_kernel_rows_types_and_range_checks(spark, case):
    """``row_kernel`` gives exactly the tuples its row function yields,
    typed by the DDL: any number of rows per input row, empty
    partitions, NULL fields, ``binary`` in and out as ``bytes``, and
    ``array<int>``. A value outside the DDL's ``int`` raises instead
    of wrapping."""
    df, want = case(spark)
    if want is None:
        with pytest.raises(PythonException, match="too large"):
            df.collect()
        return
    got = [
        tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
        for r in df.collect()
    ]
    assert sorted(got, key=repr) == sorted(want, key=repr)
