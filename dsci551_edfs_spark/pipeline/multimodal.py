"""Multimodal (image/audio/video) columns as opaque binary + typed metadata.

The reference is CSV-only (SURVEY.md §1.1: "no streams, graphs, ... arrays");
these are the Spark-native additions a training-data pipeline needs: media
rides through the engine as an opaque `binary` column with a typed metadata
struct, and decode / feature-extraction / resize / frame-sampling run as
Arrow-batched `mapInPandas` stages (or pure JVM expressions where the
semantics allow).

Third-party image/audio codecs (Pillow, torchaudio, ffmpeg) are NOT in
this container, so the *codec* step has three clearly-marked tiers:

- the default path uses the deterministic FAKE container format below, so
  the Spark-side plumbing — schema, partitioning, Arrow batch shape, UDF
  signatures, binary slicing — is real and fully tested, byte-for-byte
  reproducible by the DuckDB oracle;
- ``use_real=True`` / ``decode_media(codec=png_stdlib.png_codec, ...)``
  run a GENUINE codec everywhere: `png_stdlib` is a pure-stdlib PNG
  encoder/decoder (zlib + struct — real DEFLATE, real scanline filters,
  real pixels), so real decode→resample→encode is exercised even without
  Pillow;
- a PIL/torchaudio/ffmpeg codec drops into the same ``codec=`` injection
  point unchanged for formats beyond PNG (`tests/test_multimodal.py`
  cross-checks the stdlib decoder against Pillow whenever it is present).

FAKE container format (fixed 36-byte ASCII header + raw payload)::

    FAKE|<kind>|w=%04d|h=%04d|f=%02d|r=%05d|<payload-bytes>

``kind`` is ``img``/``aud``/``vid``; the payload is the UTF-8 bytes of the
source document. Every header field is a pure function of ``doc_id``, so an
oracle can restate the whole container in SQL.

Scale notes (the 100 TB shape of the problem):
- media bytes never leave their partition: decode/features are narrow
  mapInPandas stages (no shuffle), frame sampling is a per-row explode;
- metadata predicates (`media_meta.kind = 'vid'`) are struct-field filters
  that prune before any byte-level work;
- on a real lakehouse the binary column lives in Parquet with a small
  row-group size so column pruning keeps metadata-only queries from ever
  reading media bytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # real-codec gate: none of these ship in this container
    import PIL  # type: ignore # noqa: F401

    HAS_IMAGE_CODEC = True
except ImportError:  # pragma: no cover - expected path here
    HAS_IMAGE_CODEC = False

__all__ = [
    "HEADER_LEN",
    "attach_media",
    "attach_png_media",
    "decode_media",
    "media_byte_histogram",
    "media_phash",
    "resize_media",
    "frame_sample",
]

HEADER_LEN = 36  # 5+3+1+6+1+6+1+4+1+7+1 fixed ASCII bytes

_KIND = "CASE doc_id % 3 WHEN 0 THEN 'img' WHEN 1 THEN 'aud' ELSE 'vid' END"
_WIDTH = "CAST(16 + doc_id % 48 AS INT)"
_HEIGHT = "CAST(16 + doc_id % 32 AS INT)"
_FRAMES = "CAST(CASE WHEN doc_id % 3 = 2 THEN 2 + doc_id % 7 ELSE 1 END AS INT)"
_RATE = "CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 5) * 4000 ELSE 0 END AS INT)"


def attach_media(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize the opaque ``media`` binary column + ``media_meta`` struct.

    Deterministic in ``doc_id``/``text`` only — both engines can rebuild the
    identical bytes. All JVM expressions (format_string/encode/concat); the
    binary never round-trips through Python.
    """
    header = F.format_string(
        "FAKE|%s|w=%04d|h=%04d|f=%02d|r=%05d|",
        F.expr(_KIND),
        F.expr(_WIDTH),
        F.expr(_HEIGHT),
        F.expr(_FRAMES),
        F.expr(_RATE),
    )
    return df.select(
        F.col(id_col),
        F.concat(
            F.encode(header, "UTF-8"), F.encode(F.col(text_col), "UTF-8")
        ).alias("media"),
        F.struct(
            F.expr(_KIND).alias("kind"),
            F.expr(_WIDTH).alias("width"),
            F.expr(_HEIGHT).alias("height"),
            F.expr(_FRAMES).alias("n_frames"),
            F.expr(_RATE).alias("sample_rate"),
        ).alias("media_meta"),
    )


def attach_png_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Containers whose payloads are REAL PNGs via the stdlib codec —
    the all-real counterpart of `attach_media`'s text payload: width
    ``8 + id % 16``, height ``8 + id % 12``, uniform shade ``id % 256``,
    all pure functions of the id so an oracle can state the decoded pixel
    stats arithmetically while the engine does genuine DEFLATE/filter
    work. Arrow-batched ``mapInPandas``, narrow (no shuffle)."""
    from .png_stdlib import encode_png_gray

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("media", T.BinaryType()),
        ]
    )

    def _attach(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, media = [], []
            for i in pdf[id_col]:
                i = int(i)
                w, h, shade = 8 + i % 16, 8 + i % 12, i % 256
                hdr = b"FAKE|img|w=%04d|h=%04d|f=01|r=00000|" % (w, h)
                ids.append(i)
                media.append(hdr + encode_png_gray([[shade] * w] * h))
            yield pd.DataFrame({id_col: ids, "media": media})

    return df.select(id_col).mapInPandas(_attach, schema)


_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("payload_bytes", T.LongType()),
        T.StructField("payload_md5", T.StringType()),
    ]
)


def decode_media(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    codec: Callable[[str, bytes], dict] | None = None,
    codec_fields: list[T.StructField] | None = None,
) -> DataFrame:
    """Parse the binary container back into typed fields — the decode stage.

    Arrow-batched ``mapInPandas``: each batch arrives as a pandas DataFrame
    whose binary column is ``bytes`` objects; we parse headers and hash
    payloads in Python exactly where a real codec (``PIL.Image.open(BytesIO
    (payload))``) would be invoked. Narrow stage — no shuffle, media bytes
    stay on their partition.

    ``codec`` is the real-codec injection point: a picklable callable
    ``(kind, payload) -> dict`` invoked per media object at the exact call
    site a PIL/torchaudio/ffmpeg decode would occupy. Its returned keys must
    match ``codec_fields`` (StructFields appended to the output schema); the
    base header/md5 columns are always produced, so an injected codec adds
    typed feature columns without touching the engine. The callable ships to
    executors via closure pickling — it must not capture a SparkSession or
    other driver-only state. Default ``None`` keeps the deterministic fake.
    """
    if (codec is None) != (codec_fields is None):
        raise ValueError("codec and codec_fields must be supplied together")
    schema = T.StructType(list(_DECODE_SCHEMA.fields) + list(codec_fields or []))
    names = schema.fieldNames()

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in names}
            for doc_id, raw in zip(pdf[id_col], pdf[media_col]):
                b = bytes(raw)
                magic, kind, w, h, f, r, payload = b.split(b"|", 6)
                if magic != b"FAKE":
                    raise ValueError(f"bad media container magic: {magic!r}")
                kind_s = kind.decode()
                # >>> real codec call site: PIL.Image.open(BytesIO(payload))
                out["doc_id"].append(int(doc_id))
                out["kind"].append(kind_s)
                out["width"].append(int(w[2:]))
                out["height"].append(int(h[2:]))
                out["n_frames"].append(int(f[2:]))
                out["sample_rate"].append(int(r[2:]))
                out["payload_bytes"].append(len(payload))
                out["payload_md5"].append(hashlib.md5(payload).hexdigest())
                if codec is not None:
                    extra = codec(kind_s, payload)
                    for fld in codec_fields:
                        out[fld.name].append(extra[fld.name])
            yield pd.DataFrame(out)

    return df.select(id_col, media_col).mapInPandas(_decode, schema)


def media_byte_histogram(
    df: DataFrame,
    buckets: int = 16,
    media_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document byte histogram of the payload — the feature-extraction
    stage (stand-in for pixel/spectral features). numpy-vectorized inside
    Arrow batches: ``frombuffer`` + ``bincount``, no per-byte Python loop."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("hist", T.ArrayType(T.LongType())),
            T.StructField("byte_sum", T.LongType()),
            T.StructField("mean_byte", T.DoubleType()),
        ]
    )
    width = 256 // buckets

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hists, sums, means = [], [], [], []
            for doc_id, raw in zip(pdf[id_col], pdf[media_col]):
                payload = np.frombuffer(bytes(raw), dtype=np.uint8)[HEADER_LEN:]
                counts = np.bincount(payload // width, minlength=buckets)
                ids.append(int(doc_id))
                hists.append(counts[:buckets].tolist())
                sums.append(int(payload.sum(dtype=np.int64)))
                means.append(float(payload.mean()) if payload.size else 0.0)
            yield pd.DataFrame(
                {"doc_id": ids, "hist": hists, "byte_sum": sums, "mean_byte": means}
            )

    return df.select(id_col, media_col).mapInPandas(_features, schema)


def media_phash(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    grid: tuple[int, int] = (8, 9),
) -> DataFrame:
    """Perceptual difference-hash (dHash) of the decoded payload: the
    payload bytes stand in for grayscale pixels (a real deployment decodes
    with Pillow at exactly this point — same batch shape), average-pool
    into an ``rows x cols`` grid, and set bit (r, c) when cell (r, c) is
    brighter than its right neighbor — 64 bits for the default 8x9 grid.

    dHash is stable under LOCALIZED edits — a changed region flips only
    the bits of the cells it lands in — so Hamming-near phashes are
    near-duplicate media. As with real image dHash (where the resize
    normalizes dimensions but cropping still breaks alignment), a global
    shift of the payload moves every pool boundary and is NOT in the
    robustness class. The output schema is ``(id, phash)`` — rename
    ``phash`` to ``simhash`` and the pigeonhole-banded `simhash_pairs`
    pair generator applies UNCHANGED: one Hamming-banding engine serves
    text and media dedup.

    Arrow-batched ``mapInPandas``; numpy pooling, no per-byte Python loop;
    zero shuffle (pairing happens downstream in the banding join)."""
    import numpy as np

    rows, cols = grid
    if rows * (cols - 1) != 64:
        raise ValueError("grid must yield 64 comparison bits (rows*(cols-1)==64)")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("phash", T.LongType()),
        ]
    )
    weights = (1 << np.arange(64, dtype=np.uint64)).astype(np.uint64)

    def _phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for doc_id, raw in zip(pdf[id_col], pdf[media_col]):
                payload = np.frombuffer(bytes(raw), dtype=np.uint8)[HEADER_LEN:]
                if payload.size == 0:
                    payload = np.zeros(1, dtype=np.uint8)
                cells = np.array(
                    [seg.mean() if seg.size else 0.0
                     for seg in np.array_split(payload, rows * cols)]
                ).reshape(rows, cols)
                bits = (cells[:, :-1] > cells[:, 1:]).ravel()
                h = int((weights * bits.astype(np.uint64)).sum())
                ids.append(int(doc_id))
                hashes.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame({"id": ids, "phash": hashes})

    return df.select(id_col, media_col).mapInPandas(_phash, schema)


def resize_media(
    df: DataFrame,
    width: int,
    height: int,
    media_col: str = "media",
    use_real: bool = False,
) -> DataFrame:
    """Resize stage, two codecs:

    - default fake: rewrites the header dims and center-crops the payload
      to ``width*height`` bytes — pure JVM expressions, no Python.
    - ``use_real=True``: genuine decode → resample → encode through the
      stdlib PNG codec (`png_stdlib`, zlib+struct — no third-party image
      library needed): payloads must be real PNGs; each is decoded,
      nearest-neighbor index-mapped to ``width x height`` (multi-channel
      inputs collapse to grayscale by channel mean), re-encoded as 8-bit
      gray PNG, and the container header dims are updated to match.
      Arrow-batched ``mapInPandas``, numpy index mapping — the identical
      batch shape a Pillow-backed resize would use; production swaps
      PIL in at this same call site for formats beyond PNG.
    """
    if use_real:
        import re

        import numpy as np

        from .png_stdlib import decode_png, encode_png_gray

        def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                new_media = []
                for raw in pdf[media_col]:
                    b = bytes(raw)
                    header, payload = b[:HEADER_LEN], b[HEADER_LEN:]
                    sw, sh, ch, pix = decode_png(payload)
                    arr = np.frombuffer(pix, dtype=np.uint8).reshape(sh, sw, ch)
                    gray = arr.mean(axis=2) if ch > 1 else arr[:, :, 0]
                    ys = (np.arange(height) * sh) // height
                    xs = (np.arange(width) * sw) // width
                    resized = gray[np.ix_(ys, xs)].astype(np.uint8)
                    hdr = re.sub(
                        rb"h=\d{4}",
                        b"h=%04d" % height,
                        re.sub(rb"w=\d{4}", b"w=%04d" % width, header),
                    )
                    new_media.append(hdr + encode_png_gray(resized))
                pdf = pdf.copy()
                pdf[media_col] = new_media
                yield pdf

        return df.mapInPandas(_resize, df.schema)
    media = F.col(media_col)
    header = F.decode(F.substring(media, 1, HEADER_LEN), "UTF-8")
    new_header = F.regexp_replace(
        F.regexp_replace(header, r"w=\d{4}", F.format_string("w=%04d", F.lit(width))),
        r"h=\d{4}",
        F.format_string("h=%04d", F.lit(height)),
    )
    keep = F.least(F.octet_length(media) - HEADER_LEN, F.lit(width * height))
    out = df.withColumn(
        media_col,
        F.concat(
            F.encode(new_header, "UTF-8"),
            media.substr(F.lit(HEADER_LEN + 1), keep),
        ),
    )
    if "media_meta" in df.columns:
        out = out.withColumn(
            "media_meta",
            F.col("media_meta")
            .withField("width", F.lit(width))
            .withField("height", F.lit(height)),
        )
    return out


def frame_sample(
    df: DataFrame,
    every: int = 2,
    media_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sample every ``every``-th frame of video payloads — pure JVM plan.

    The payload is split into ``n_frames`` equal byte-slices; sampled frame
    indices come from ``sequence(0, n-1, every)`` + ``explode``; the slice
    itself is a binary ``substring``. Fingerprint = md5 over the uppercase
    hex of the slice (hex-space so the DuckDB oracle can state the same
    bytes without blob slicing). Whole thing is codegen'd — media bytes are
    sliced exactly once and never cross a shuffle.
    """
    n = F.col("media_meta.n_frames")
    payload_len = F.octet_length(F.col(media_col)) - HEADER_LEN
    frame_len = F.floor(payload_len / n).cast("int")
    vids = df.filter(F.col("media_meta.kind") == "vid").select(
        id_col,
        media_col,
        frame_len.alias("_flen"),
        F.explode(F.sequence(F.lit(0), n - 1, F.lit(every))).alias("frame_idx"),
    )
    frame = F.expr(f"substring({media_col}, {HEADER_LEN} + 1 + frame_idx * _flen, _flen)")
    return vids.select(
        F.col(id_col),
        F.col("frame_idx"),
        F.col("_flen").cast("long").alias("frame_bytes"),
        F.md5(F.hex(frame)).alias("frame_sig"),
    )


def shot_boundaries(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Most likely shot boundary per video: every frame is fingerprinted
    (the `frame_sample` slicing), consecutive fingerprints are compared
    in a 16-bit signature space (md5-prefix → int, the house hex-nibble
    trick both engines can state), and the frame with the LARGEST
    signature jump is returned as the cut —
    ``(doc_id, cut_frame_idx, delta)``.

    On the FAKE container this is a deterministic signature-space change
    detector (exactly restatable by the oracle); with a real codec the
    same plan consumes perceptual hashes (`media_phash`) instead of
    md5 prefixes — the lag/argmax shape is identical. All windows are
    video-keyed; frames never cross a shuffle before the per-doc argmax.
    """
    frames = frame_sample(df, every=1, media_col=media_col, id_col=id_col)
    val = F.conv(F.substring("frame_sig", 1, 4), 16, 10).cast("long")
    w = Window.partitionBy(id_col).orderBy("frame_idx")
    deltas = frames.select(
        F.col(id_col),
        F.col("frame_idx"),
        F.abs(val - F.lag(val).over(w)).alias("delta"),
    ).filter(F.col("delta").isNotNull())
    pick = Window.partitionBy(id_col).orderBy(
        F.col("delta").desc(), F.col("frame_idx")
    )
    return (
        deltas.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select(
            id_col,
            F.col("frame_idx").cast("long").alias("cut_frame_idx"),
            F.col("delta").cast("long").alias("delta"),
        )
    )


def audio_band_energies(
    df: DataFrame,
    n_bands: int = 4,
    media_col: str = "media",
    id_col: str = "doc_id",
) -> DataFrame:
    """Spectral band energies per audio payload: bytes → int8 PCM samples
    → rFFT → |X|² summed into ``n_bands`` equal frequency bands, emitted
    as ``(id, band, energy_milli)`` (round(1e3·log1p(energy)) — the
    log-energy feature a speech-quality or music/speech classifier
    consumes).

    Arrow `mapInPandas`, one numpy rfft per payload, media bytes never
    leave their partition. numpy's FFT is deterministic for a given
    input, but not ANSI-SQL — registered rows-only with a pytest
    numpy-parity contract (the same tier as the phash family)."""
    import numpy as np

    payload = F.expr(f"substring({media_col}, {HEADER_LEN} + 1, octet_length({media_col}))")
    auds = df.filter(F.col("media_meta.kind") == "aud").select(
        F.col(id_col).alias("_id"), payload.alias("_p")
    )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bands, vals = [], [], []
            for _id, buf in zip(pdf["_id"], pdf["_p"]):
                x = np.frombuffer(bytes(buf), dtype=np.int8).astype(np.float64)
                if len(x) == 0:
                    continue
                spec = np.abs(np.fft.rfft(x)) ** 2
                chunks = np.array_split(spec, n_bands)
                for b, ch in enumerate(chunks):
                    ids.append(_id)
                    bands.append(b)
                    vals.append(int(round(1e3 * np.log1p(ch.sum()))))
            yield pd.DataFrame({"doc_id": ids, "band": bands, "energy_milli": vals})

    return auds.mapInPandas(feats, f"{id_col} long, band int, energy_milli long")
