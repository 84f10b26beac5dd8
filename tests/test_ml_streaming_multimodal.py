"""ML pipeline and multimodal plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.catalog import Warehouse
from teleco_etl_pipeline_spark.plans import ml
from teleco_etl_pipeline_spark.plans.pipeline import run_warehouse
from tests.conftest import write_ingest_csv


@pytest.fixture(scope="module")
def gold_wh(tmp_path_factory, spark):
    """One 10-row warehouse for the module: training only reads gold,
    and the predictions table inference adds is read by no other test."""
    root = tmp_path_factory.mktemp("gold_wh")
    staging_dir = root / "landing"
    staging_dir.mkdir()
    write_ingest_csv(str(staging_dir / "churn.csv"))
    run_warehouse(spark, str(root / "wh"), str(staging_dir), run_date="2026-08-13")
    return Warehouse(spark, str(root / "wh"))


def test_train_and_infer(gold_wh, tmp_path):
    models_dir = str(tmp_path / "models")
    import os

    os.makedirs(models_dir, exist_ok=True)
    report = ml.train(gold_wh, models_dir, version="2026_08_13")
    assert report["rows"] == 10
    assert report["train_auc"] > 0.5  # separable synthetic labels

    n = ml.run_batch_inference(gold_wh, models_dir, "2026-08-13")
    assert n == 10
    preds = gold_wh.read("gold", "churn_predictions")
    assert preds.filter(F.col("churn_prediction").isin(0, 1)).count() == 10
    probs = [float(r["churn_probability"]) for r in preds.collect()]
    assert all(0.0 <= p <= 1.0 for p in probs)

    # a second day appends; the count is that day's rows only
    assert ml.run_batch_inference(gold_wh, models_dir, "2026-08-14") == 10
    assert gold_wh.read("gold", "churn_predictions").count() == 20

    # idempotent per-day rerun (M5): no duplicates
    assert ml.run_batch_inference(gold_wh, models_dir, "2026-08-13") == 10
    assert gold_wh.read("gold", "churn_predictions").count() == 20


def test_latest_model_wins(gold_wh, tmp_path):
    models_dir = str(tmp_path / "models")
    import os

    os.makedirs(models_dir, exist_ok=True)
    ml.train(gold_wh, models_dir, version="2026_01_01")
    ml.train(gold_wh, models_dir, version="2026_06_01")
    assert ml.latest_model_path(models_dir).endswith("churn_model_2026_06_01")


def test_multimodal_plumbing(spark):
    from teleco_etl_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_image_batch,
        extract_binary_features,
        frame_sample_plan,
    )

    rows = [
        (1, b"\x89PNG\r\n" + b"x" * 100, "image/png", (64, 64, None)),
        (2, b"\xff\xd8\xff\xe0" + b"y" * 50, "image/jpeg", (32, 32, None)),
        (3, b"RIFF" + b"z" * 200, "audio/wav", (None, None, 3500)),
        (4, None, None, (None, None, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    feats = {r["media_id"]: r for r in extract_binary_features(media).collect()}
    assert feats[1]["sniffed_type"] == "image/png"
    assert feats[2]["sniffed_type"] == "image/jpeg"
    assert feats[3]["sniffed_type"] == "audio/wav"
    assert feats[4]["n_bytes"] == 0
    assert feats[1]["n_bytes"] == 106

    # real decode path (r9): non-PNG / truncated payloads yield NULL
    # feature columns instead of raising
    real = {r["media_id"]: r for r in decode_image_batch(media).collect()}
    assert all(real[i]["width"] is None for i in (1, 2, 3, 4))
    decoded = {r["media_id"]: r for r in decode_image_batch(media, fake=True).collect()}
    assert 16 <= decoded[1]["width"] < 80

    frames = frame_sample_plan(media.filter(F.col("media_id") == 3), every_ms=1000)
    assert frames.count() == 4  # 0,1000,2000,3000 for 3500ms


def _encode_png(pixels, nch, filters=None):
    """Minimal test-side PNG writer (spec-straight: IHDR/IDAT/IEND,
    chosen per-row filter types) so the decoder is checked against an
    INDEPENDENT encoder, not itself."""
    import struct
    import zlib

    h = len(pixels)
    w = len(pixels[0]) // nch
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[nch]

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    filters = filters or [0] * h
    raw = bytearray()
    prev = bytearray(w * nch)
    for y, row in enumerate(pixels):
        f = filters[y]
        raw.append(f)
        line = bytearray(row)
        enc = bytearray(line)
        for i in range(len(line)):
            a = line[i - nch] if i >= nch else 0
            b = prev[i]
            c = prev[i - nch] if i >= nch else 0
            if f == 1:
                enc[i] = (line[i] - a) & 0xFF
            elif f == 2:
                enc[i] = (line[i] - b) & 0xFF
            elif f == 3:
                enc[i] = (line[i] - ((a + b) >> 1)) & 0xFF
            elif f == 4:
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                enc[i] = (line[i] - pred) & 0xFF
        raw.extend(enc)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_real_png_decode(spark):
    from teleco_etl_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_image_batch,
        decode_png,
    )

    # 4x3 RGB gradient exercising every filter type, + a grey image
    rgb = [
        bytes(((x * 37 + y * 11 + c * 5) & 0xFF) for x in range(4) for c in range(3))
        for y in range(3)
    ]
    png_rgb = _encode_png(rgb, 3, filters=[0, 1, 2])
    png_rgb_paeth = _encode_png(rgb, 3, filters=[3, 4, 4])
    grey = [bytes((x * 50 + y) & 0xFF for x in range(5)) for y in range(2)]
    png_grey = _encode_png(grey, 1, filters=[2, 1])
    exp_rgb = round(sum(sum(r) for r in rgb) / (3 * 4 * 3), 4)
    exp_grey = round(sum(sum(r) for r in grey) / (2 * 5), 4)

    # pure-function check: filters must not change the decoded pixels
    assert decode_png(png_rgb) == (4, 3, exp_rgb)
    assert decode_png(png_rgb_paeth) == (4, 3, exp_rgb)
    assert decode_png(png_grey) == (5, 2, exp_grey)
    assert decode_png(b"\x89PNG\r\n\x1a\n" + b"junk") is None

    # through the Arrow-batched Spark path, mixed with undecodables
    rows = [
        (1, png_rgb, "image/png", (4, 3, None)),
        (2, png_grey, "image/png", (5, 2, None)),
        (3, b"\xff\xd8\xffjpegish", "image/jpeg", (None, None, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in decode_image_batch(media).collect()}
    assert (got[1]["width"], got[1]["height"]) == (4, 3)
    assert got[1]["pixels_mean"] == exp_rgb
    assert (got[2]["width"], got[2]["height"]) == (5, 2)
    assert got[2]["pixels_mean"] == exp_grey
    assert got[3]["width"] is None and got[3]["pixels_mean"] is None


def test_resize_plan_and_payload_path_agree(spark):
    """The metadata resize PLAN and the payload path (here in its
    fake=True plumbing mode over non-PNG payloads; the real PNG mode
    is covered by test_resize_image_batch_real_path) apply the same
    fit-within integer math: feeding the plan the fake
    decoder's dims must reproduce the batch output exactly. Also
    covers the edge cases: upscale suppression (small image passes
    through) and extreme aspect ratio (dim clamps to >= 1)."""
    from pyspark.sql import functions as F

    from teleco_etl_pipeline_spark.operators.multimodal import (
        decode_image_batch,
        resize_image_batch,
        resize_plan,
        synthetic_media_from_documents,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} payload text") for i in range(24)], ["doc_id", "text"]
    )
    media = synthetic_media_from_documents(docs)

    # payload path (fake decode dims → fit-within)
    sized = {
        r["media_id"]: (r["out_w"], r["out_h"])
        for r in resize_image_batch(media, max_w=48, max_h=40, fake=True).collect()
    }
    # metadata plan fed the SAME fake-decoded dims
    decoded = decode_image_batch(media, fake=True).select(
        "media_id",
        F.struct(
            F.col("width"), F.col("height"), F.lit(None).cast("int").alias("duration_ms")
        ).alias("meta"),
    )
    planned = {
        r["media_id"]: (r["out_w"], r["out_h"])
        for r in resize_plan(decoded, max_w=48, max_h=40).collect()
    }
    assert sized == planned and len(sized) == 24

    # upscale suppression + >=1 clamp on a degenerate aspect ratio
    crafted = spark.createDataFrame(
        [(1, 10, 10, None), (2, 10000, 1, None)],
        "media_id long, width int, height int, duration_ms int",
    ).select(
        "media_id",
        F.struct("width", "height", "duration_ms").alias("meta"),
    )
    out = {
        r["media_id"]: (r["out_w"], r["out_h"], r["downscaled"])
        for r in resize_plan(crafted, max_w=512, max_h=384).collect()
    }
    assert out[1] == (10, 10, False)      # no upscale
    assert out[2] == (512, 1, True)       # floor(1*512/10000)=0 → clamp 1


def test_resize_plan_invariants_dense_grid(spark):
    """Fit-within invariants over a dense grid of dims, verified in
    ONE Spark job: output within the target box (unless the input
    already fits), dims never below 1, no upscaling, and aspect ratio
    preserved to within integer rounding (cross-multiplied bound)."""
    from pyspark.sql import functions as F

    from teleco_etl_pipeline_spark.operators.multimodal import resize_plan

    MAX_W, MAX_H = 512, 384
    dims = [
        (i, w, h)
        for i, (w, h) in enumerate(
            (w, h)
            for w in [1, 2, 3, 17, 100, 383, 384, 385, 511, 512, 513, 1000, 7919]
            for h in [1, 2, 3, 19, 99, 383, 384, 385, 511, 512, 513, 999, 7907]
        )
    ]
    media = spark.createDataFrame(dims, "media_id long, w int, h int").select(
        "media_id",
        F.struct(
            F.col("w").alias("width"),
            F.col("h").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    rows = resize_plan(media, max_w=MAX_W, max_h=MAX_H).collect()
    assert len(rows) == len(dims)
    for r in rows:
        w, h, ow, oh = r["width"], r["height"], r["out_w"], r["out_h"]
        assert ow >= 1 and oh >= 1, r
        if w <= MAX_W and h <= MAX_H:
            assert (ow, oh) == (w, h) and not r["downscaled"], r
        else:
            assert r["downscaled"] and ow <= MAX_W and oh <= MAX_H, r
            assert ow <= w and oh <= h, r  # never upscale
            # aspect preserved to integer rounding:
            # |ow/oh - w/h| bounded by one rounding step on each axis
            assert abs(ow * h - oh * w) <= max(w, h), r


def test_media_builders_pickle_by_value(tmp_path):
    """The _media_from_documents contract (r10 ADVICE): every
    generator's build closure — including its references to the
    module-level encoder globals — must unpickle and RUN in a Python
    process where this repo is NOT importable. The encoder globals
    are factory closures (qualname `_png_encode_fn.<locals>.encode`),
    so cloudpickle's importability check fails and serializes them by
    value; this test pins that property against a refactor that
    hoists an encoder to a plain module-level def (which WOULD pickle
    by reference and break the harness's executors)."""
    import subprocess
    import sys as _sys

    from pyspark import cloudpickle

    from teleco_etl_pipeline_spark.operators.multimodal import (
        encode_ebml,
        encode_png,
        encode_wav,
    )

    def build_png(mid: int) -> bytes:
        w, h = 8 + mid % 16, 6 + mid % 12
        rows = [
            bytes((mid * 31 + y * w + x) % 256 for x in range(w))
            for y in range(h)
        ]
        return encode_png(w, h, rows, nch=1, filt=lambda y: y % 3)

    def build_wav(mid: int) -> bytes:
        n = 64 + mid % 128
        return encode_wav(
            8000, [((mid * 37 + i * 11) % 2048) - 1024 for i in range(n)]
        )

    def build_ebml(mid: int) -> bytes:
        return encode_ebml(float(500 + (mid % 5) * 1000), 1 + mid % 3)

    blob_path = tmp_path / "builders.pkl"
    blob_path.write_bytes(
        cloudpickle.dumps([build_png, build_wav, build_ebml])
    )
    probe = (
        "import sys\n"
        "sys.path = [p for p in sys.path if 'repo' not in p]\n"
        "from pyspark import cloudpickle\n"
        f"fns = cloudpickle.loads(open({str(blob_path)!r},'rb').read())\n"
        "lens = [len(f(5)) for f in fns]\n"
        "assert all(n > 0 for n in lens), lens\n"
        "print('OK', lens)\n"
    )
    r = subprocess.run(
        [_sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        timeout=120,
    )
    assert r.returncode == 0 and "OK" in r.stdout, r.stderr[-2000:]


def test_png_bounded_inflate_rejects_oversize_idat():
    """r10 ADVICE: a corrupt PNG whose tiny IDAT inflates far past
    the IHDR-implied raster must be REJECTED without materializing
    the inflated buffer (decompressobj max_length cap). Valid
    payloads — including one whose stream ends exactly at the bound —
    still decode."""
    import struct
    import zlib

    from teleco_etl_pipeline_spark.operators.multimodal import (
        encode_png,
        png_pixels,
    )

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    # 4x3 greyscale header, but IDAT inflates to 64 MiB of zeros
    # (compressed to ~64 KiB) — far past the 3*(4+1)=15-byte bound.
    ihdr = struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0)
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(64 * 1024 * 1024)))
        + chunk(b"IEND", b"")
    )
    assert png_pixels(bomb) is None
    # control: a genuine 4x3 payload still decodes
    rows = [bytes((y * 4 + x) % 256 for x in range(4)) for y in range(3)]
    ok = png_pixels(encode_png(4, 3, rows, nch=1))
    assert ok is not None and [bytes(r) for r in ok[3]] == rows


def test_png_encoder_roundtrip_and_nn_resample():
    """r10 resize-execute foundations, pure-function level: the
    module's own encoder must round-trip bit-exact through the
    decoder for every filter it writes (and agree with the
    INDEPENDENT test-side writer), and the NN resampler must match a
    brute-force index-formula reference, with identity at fitting
    dims."""
    from teleco_etl_pipeline_spark.operators.multimodal import (
        encode_png,
        nn_resample,
        png_pixels,
    )

    for mid, w, h, nch in [(0, 8, 6, 1), (7, 23, 17, 1), (3, 5, 9, 3)]:
        rows = [
            bytes((mid * 31 + y * w * nch + i) % 256 for i in range(w * nch))
            for y in range(h)
        ]
        blob = encode_png(w, h, rows, nch=nch, filt=lambda y: y % 3)
        got = png_pixels(blob)
        assert got is not None
        gw, gh, gnch, grows = got
        assert (gw, gh, gnch) == (w, h, nch)
        assert [bytes(r) for r in grows] == rows
        # independent writer (all five filter types) → same pixels
        indep = _encode_png(rows, nch, filters=[(y % 5) for y in range(h)])
        got2 = png_pixels(indep)
        assert [bytes(r) for r in got2[3]] == rows
        # NN resample vs the index formula, plus identity
        for ow, oh in [(w, h), (3, 2), (1, 1), (w // 2 + 1, h // 2 + 1)]:
            res = nn_resample(grows, w, h, nch, ow, oh)
            for y in range(oh):
                for x in range(ow):
                    sy, sx = (y * h) // oh, (x * w) // ow
                    assert (
                        res[y][x * nch : (x + 1) * nch]
                        == grows[sy][sx * nch : (sx + 1) * nch]
                    )
        assert [bytes(r) for r in nn_resample(grows, w, h, nch, w, h)] == rows


def test_resize_exec_spark_path_matches_python(spark):
    """The full Spark resize-execute path (genuine PNG payloads →
    stdlib decode → NN resample → exact integer sums) must equal a
    straight Python evaluation of the same closed forms."""
    from teleco_etl_pipeline_spark.operators.multimodal import (
        png_media_from_documents,
        resize_png_exact,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    )
    got = {
        r["media_id"]: r
        for r in resize_png_exact(
            png_media_from_documents(docs), max_w=12, max_h=9
        ).collect()
    }
    assert len(got) == 40
    for mid in range(40):
        w, h = 8 + mid % 16, 6 + mid % 12
        if w <= 12 and h <= 9:
            ow, oh = w, h
        elif 12 * h <= 9 * w:
            ow, oh = 12, max(1, (h * 12) // w)
        else:
            ow, oh = max(1, (w * 9) // h), 9
        exp = sum(
            (mid * 31 + ((y * h) // oh) * w + ((x * w) // ow)) % 256
            for y in range(oh)
            for x in range(ow)
        )
        r = got[mid]
        assert (r["out_w"], r["out_h"]) == (ow, oh)
        assert r["px_sum"] == exp and r["n_px"] == ow * oh


def test_resize_image_batch_real_path(spark):
    """resize_image_batch(fake=False) — previously the declared
    NotImplementedError stub — now decodes and resamples real PNGs;
    non-PNG payloads yield NULLs."""
    from teleco_etl_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        resize_image_batch,
    )

    grey = [bytes((x * 7 + y) & 0xFF for x in range(20)) for y in range(10)]
    blob = _encode_png(grey, 1, filters=[(y % 5) for y in range(10)])
    rows = [
        (1, blob, "image/png", (20, 10, None)),
        (2, b"\xff\xd8\xffnope", "image/jpeg", (None, None, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r["media_id"]: r
        for r in resize_image_batch(media, max_w=10, max_h=8).collect()
    }
    # 20x10 into (10, 8): width-bound (10*10 <= 8*20) → (10, 5)
    assert (got[1]["out_w"], got[1]["out_h"]) == (10, 5)
    exp = round(
        sum(grey[(y * 10) // 5][(x * 20) // 10] for y in range(5) for x in range(10))
        / 50.0,
        4,
    )
    assert got[1]["pixels_mean"] == exp
    assert got[2]["out_w"] is None and got[2]["pixels_mean"] is None


def test_wav_encoder_roundtrip_and_decimate(spark):
    """Audio twin of the PNG round-trip pins: the module's WAV
    encoder must round-trip bit-exact through the chunk-walking
    decoder (mono and stereo), the decimator must match the NN index
    formula, and non-WAV payloads must yield NULLs through the
    Spark path."""
    from teleco_etl_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decimate_wav_exact,
        encode_wav,
        wav_pcm,
    )

    mono = [((i * 31) % 2048) - 1024 for i in range(100)]
    blob = encode_wav(8000, mono)
    got = wav_pcm(blob)
    assert got == (8000, 1, mono)
    stereo = [((i * 7) % 512) - 256 for i in range(80)]  # 40 frames
    got2 = wav_pcm(encode_wav(16000, stereo, nch=2))
    assert got2 == (16000, 2, stereo)
    assert wav_pcm(b"RIFFxxxxWAVEjunk") is None
    assert wav_pcm(b"\x89PNG\r\n\x1a\n") is None

    rows = [
        (1, blob, "audio/wav", (None, None, None)),
        (2, b"RIFFnope", "audio/wav", (None, None, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {
        r["media_id"]: r
        for r in decimate_wav_exact(media, out_n=32).collect()
    }
    exp = sum(abs(mono[(i * 100) // 32]) for i in range(32))
    r1 = out[1]
    assert (r1["sample_rate"], r1["n_samples"], r1["decim_n"]) == (8000, 100, 32)
    assert r1["abs_sum"] == exp
    assert out[2]["abs_sum"] is None


def test_ebml_roundtrip_and_probe(spark):
    """Video-container twin of the PNG/WAV round-trip pins: the EBML
    writer must round-trip through the varint walker (including a
    multi-byte-size body and a non-default timecode scale), and
    garbage / sniff-only payloads must yield NULLs via Spark."""
    from teleco_etl_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        ebml_probe,
        encode_ebml,
        probe_video_batch,
    )

    assert ebml_probe(encode_ebml(3500.0, 2)) == (1000000, 3500.0, 2)
    # non-default scale + enough tracks to push the Segment size
    # into a 2-byte varint
    blob = encode_ebml(12345.0, 40, scale=500000)
    # Segment body exceeds 126 bytes, so its size is a 2-byte vint
    # (visible as the 0x40xx marker) — the multi-byte reader path.
    assert len(blob) > 200 and b"\x18S\x80g\x40" in blob
    assert ebml_probe(blob) == (500000, 12345.0, 40)
    assert ebml_probe(b"\x1aE\xdf\xa3" + b"not ebml at all") is None
    assert ebml_probe(b"RIFF....WAVE") is None

    rows = [
        (1, encode_ebml(1500.0, 3), "video/webm", (None, None, 1500)),
        (2, b"\x1aE\xdf\xa3junk", "video/webm", (None, None, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in probe_video_batch(media).collect()}
    assert (
        got[1]["timecode_scale"],
        got[1]["duration_ms"],
        got[1]["n_tracks"],
    ) == (1000000, 1500, 3)
    assert got[2]["duration_ms"] is None


def test_wav_truncated_chunk_is_undecodable():
    # A data chunk whose declared length exceeds the payload is
    # corrupt media, not shorter media — must yield None rather than
    # a plausible partial decode (review finding, r10).
    from teleco_etl_pipeline_spark.operators.multimodal import (
        encode_wav,
        wav_pcm,
    )

    blob = encode_wav(8000, [1, -2, 3, -4, 5])
    assert wav_pcm(blob) == (8000, 1, [1, -2, 3, -4, 5])
    assert wav_pcm(blob[:-4]) is None  # truncated data chunk
    assert wav_pcm(blob[:-1]) is None


def test_media_codec_roundtrips_property():
    """Hypothesis property pins for the three pure-stdlib codecs:
    arbitrary pixel grids / sample vectors / duration-track combos
    must round-trip bit-exact through encode -> decode."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from teleco_etl_pipeline_spark.operators.multimodal import (
        ebml_probe,
        encode_ebml,
        encode_png,
        encode_wav,
        png_pixels,
        wav_pcm,
    )

    @settings(max_examples=30, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 10),
        nch=st.sampled_from([1, 3]),
        seed=st.integers(0, 2**31),
    )
    def png_rt(w, h, nch, seed):
        rows = [
            bytes((seed + y * w * nch + i) % 256 for i in range(w * nch))
            for y in range(h)
        ]
        got = png_pixels(encode_png(w, h, rows, nch=nch, filt=lambda y: y % 3))
        assert got is not None
        assert (got[0], got[1], got[2]) == (w, h, nch)
        assert [bytes(r) for r in got[3]] == rows

    @settings(max_examples=30, deadline=None)
    @given(
        samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=200),
        rate=st.sampled_from([8000, 16000, 44100]),
        nch=st.sampled_from([1, 2]),
    )
    def wav_rt(samples, rate, nch):
        if nch == 2 and len(samples) % 2:
            samples = samples + [0]
        assert wav_pcm(encode_wav(rate, samples, nch=nch)) == (
            rate,
            nch,
            samples,
        )

    @settings(max_examples=30, deadline=None)
    @given(
        dur=st.integers(0, 10**9),
        tracks=st.integers(0, 200),
        scale=st.integers(1, 2**40),
    )
    def ebml_rt(dur, tracks, scale):
        got = ebml_probe(encode_ebml(float(dur), tracks, scale=scale))
        assert got == (scale, float(dur), tracks)

    png_rt()
    wav_rt()
    ebml_rt()
