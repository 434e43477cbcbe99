"""Multimodal binary-column pipeline tests: container roundtrip, Arrow
batch shape, frame sampling, resize semantics, real-codec gate."""

import hashlib

import pytest
from pyspark.sql import functions as F

from dsci551_edfs_spark.pipeline import multimodal as MM
from dsci551_edfs_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    return MM.attach_media(load_table(spark, sf_dir, "documents")).cache()


def test_container_layout(media):
    row = media.filter("doc_id = 2").first()
    b = bytes(row["media"])
    assert b.startswith(b"FAKE|vid|")
    assert b[: MM.HEADER_LEN].endswith(b"|")
    meta = row["media_meta"]
    assert (meta["kind"], meta["width"], meta["height"], meta["n_frames"]) == (
        "vid", 18, 18, 4,
    )


def test_decode_roundtrip(media, spark, sf_dir):
    """decode(attach(df)) must reproduce the metadata struct and the payload
    md5 of the source text, across multiple partitions."""
    decoded = MM.decode_media(media.repartition(5)).collect()
    docs = {r["doc_id"]: r["text"] for r in
            load_table(spark, sf_dir, "documents").collect()}
    assert len(decoded) == len(docs)
    for r in decoded:
        raw = docs[r["doc_id"]].encode()
        assert r["payload_bytes"] == len(raw)
        assert r["payload_md5"] == hashlib.md5(raw).hexdigest()
        assert r["kind"] == ("img", "aud", "vid")[r["doc_id"] % 3]


def test_decode_empty_partition(media):
    """mapInPandas must tolerate partitions that receive no batches."""
    out = MM.decode_media(media.repartition(64))
    assert out.count() == media.count()


def test_frame_sample(media):
    frames = MM.frame_sample(media, every=2)
    rows = frames.filter("doc_id = 2").collect()  # doc 2: vid, 4 frames
    assert sorted(r["frame_idx"] for r in rows) == [0, 2]
    # frame slices must be distinct content with equal length
    assert len({r["frame_sig"] for r in rows}) == 2
    assert len({r["frame_bytes"] for r in rows}) == 1
    # only videos produce frames
    kinds = frames.join(media, "doc_id").select("media_meta.kind").distinct().collect()
    assert [k["kind"] for k in kinds] == ["vid"]


def test_resize_crops_and_rewrites_header(media):
    resized = MM.decode_media(MM.resize_media(media, 8, 8))
    for r in resized.collect():
        assert (r["width"], r["height"]) == (8, 8)
        assert r["payload_bytes"] <= 64
    # kind and frame metadata survive the resize
    kinds = set(r["kind"] for r in resized.collect())
    assert kinds == {"img", "aud", "vid"}


def test_real_resize_decodes_resamples_reencodes(spark):
    """use_real=True runs a genuine decode→resample→encode through the
    stdlib PNG codec: output payloads are valid PNGs at the target dims,
    header dims are rewritten to match, and a uniform-shade image keeps
    its shade through the resample (pixel-level check, not header-level)."""
    from dsci551_edfs_spark.pipeline.png_stdlib import decode_png, encode_png_gray

    rows = [
        (
            i,
            b"FAKE|img|w=%04d|h=%04d|f=01|r=00000|" % (10 + i, 14 + i)
            + encode_png_gray([[50 * i] * (10 + i) for _ in range(14 + i)]),
        )
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    out = MM.resize_media(df.repartition(3), 6, 5, use_real=True)
    decoded = MM.decode_media(out).collect()
    assert {(r["width"], r["height"]) for r in decoded} == {(6, 5)}
    for r in out.collect():
        w, h, ch, pix = decode_png(bytes(r["media"])[MM.HEADER_LEN :])
        assert (w, h, ch) == (6, 5, 1)
        assert set(pix) == {50 * r["doc_id"]}  # shade survives resampling


def test_injected_codec(media, spark, sf_dir):
    """A user-supplied codec drops into decode_media without engine changes:
    base columns unchanged, codec columns appended with the declared types."""
    from pyspark.sql import types as T

    def _toy_codec(kind, payload):
        # stand-in for a real decoder: derives typed features from the bytes
        # (what PIL/torchaudio would compute from pixels/samples); defined
        # in-function so cloudpickle ships it by value to executors
        return {
            "first_byte": int(payload[0]) if payload else -1,
            "codec_tag": f"toy-{kind}",
        }

    out = MM.decode_media(
        media.repartition(5),
        codec=_toy_codec,
        codec_fields=[
            T.StructField("first_byte", T.IntegerType()),
            T.StructField("codec_tag", T.StringType()),
        ],
    )
    docs = {r["doc_id"]: r["text"] for r in
            load_table(spark, sf_dir, "documents").collect()}
    rows = out.collect()
    assert len(rows) == len(docs)
    for r in rows:
        raw = docs[r["doc_id"]].encode()
        assert r["payload_md5"] == hashlib.md5(raw).hexdigest()  # base intact
        assert r["first_byte"] == (raw[0] if raw else -1)
        assert r["codec_tag"] == f"toy-{r['kind']}"
    # codec and codec_fields must travel together
    with pytest.raises(ValueError):
        MM.decode_media(media, codec=_toy_codec)


def test_byte_histogram(media):
    hist = MM.media_byte_histogram(media, buckets=16)
    row = hist.filter("doc_id = 0").first()
    assert len(row["hist"]) == 16
    payload = bytes(media.filter("doc_id = 0").first()["media"])[MM.HEADER_LEN:]
    assert sum(row["hist"]) == len(payload)
    assert row["mean_byte"] == pytest.approx(sum(payload) / len(payload))


def test_real_image_codec_through_hook(spark):
    """A REAL image codec drops into the exact codec= call site the
    deterministic fake occupies: container payloads are genuine PNGs, the
    injected codec decodes them executor-side, and the reported dimensions
    come from the actual image data (not the container header). Runs
    UNSKIPPED everywhere via the pure-stdlib PNG codec; when Pillow is
    present the same fixtures are additionally decoded with PIL and the
    two codecs must agree exactly."""
    from pyspark.sql import types as T

    from dsci551_edfs_spark.pipeline.png_stdlib import encode_png_gray, png_codec

    def png_bytes(w, h, shade):
        return encode_png_gray([[shade] * w for _ in range(h)])

    fixtures = [(4 + i, 6 + i, 40 * i) for i in range(4)]
    rows = [
        (i, b"FAKE|img|w=%04d|h=%04d|f=01|r=00000|" % (w, h) + png_bytes(w, h, s))
        for i, (w, h, s) in enumerate(fixtures)
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")

    out = MM.decode_media(
        df.repartition(3),
        codec=png_codec,
        codec_fields=[
            T.StructField("px_width", T.IntegerType()),
            T.StructField("px_height", T.IntegerType()),
            T.StructField("px_mean", T.DoubleType()),
        ],
    ).collect()
    assert len(out) == 4
    for r in out:
        # real pixel dims agree with the container header fields
        assert (r["px_width"], r["px_height"]) == (r["width"], r["height"])
        assert abs(r["px_mean"] - 40 * r["doc_id"]) < 1e-9

    if MM.HAS_IMAGE_CODEC:  # cross-check vs a third-party codec when present
        from io import BytesIO

        from PIL import Image

        for i, (w, h, s) in enumerate(fixtures):
            img = Image.open(BytesIO(png_bytes(w, h, s)))
            assert img.size == (w, h)
            assert set(img.getdata()) == {s}


def test_audio_band_energies_match_numpy(spark, sf_dir):
    """The distributed FFT features equal a direct numpy computation on
    the collected payloads (same int8 view, same rfft, same banding)."""
    import numpy as np

    from dsci551_edfs_spark.pipeline import multimodal as MM
    from dsci551_edfs_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    media = MM.attach_media(docs)
    got = {
        (r["doc_id"], r["band"]): r["energy_milli"]
        for r in MM.audio_band_energies(media).collect()
    }
    rows = media.filter("media_meta.kind = 'aud'").select(
        "doc_id", "media"
    ).collect()
    assert rows, "fixture must contain audio docs"
    n_checked = 0
    for r in rows:
        payload = bytes(r["media"])[36:]  # fixed fake-container header
        x = np.frombuffer(payload, dtype=np.int8).astype(np.float64)
        if len(x) == 0:
            continue
        spec = np.abs(np.fft.rfft(x)) ** 2
        for b, ch in enumerate(np.array_split(spec, 4)):
            expect = int(round(1e3 * np.log1p(ch.sum())))
            assert got[(r["doc_id"], b)] == expect
            n_checked += 1
    assert n_checked > 0


def test_shot_boundary_is_argmax_delta(spark, sf_dir):
    """The reported cut frame is the true per-video argmax of the
    signature deltas (earliest frame on ties)."""
    from dsci551_edfs_spark.pipeline import multimodal as MM
    from dsci551_edfs_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    media = MM.attach_media(load_table(spark, sf_dir, "documents"))
    frames = MM.frame_sample(media, every=1)
    sig = frames.select(
        "doc_id",
        "frame_idx",
        F.conv(F.substring("frame_sig", 1, 4), 16, 10).cast("long").alias("v"),
    ).collect()
    by_doc = {}
    for r in sig:
        by_doc.setdefault(r["doc_id"], []).append((r["frame_idx"], r["v"]))
    cuts = {
        r["doc_id"]: (r["cut_frame_idx"], r["delta"])
        for r in MM.shot_boundaries(media).collect()
    }
    for did, fr in by_doc.items():
        fr.sort()
        deltas = [
            (abs(v - pv), idx)
            for (pidx, pv), (idx, v) in zip(fr, fr[1:])
        ]
        best = max(deltas, key=lambda t: (t[0], -t[1]))
        assert cuts[did] == (best[1], best[0])
