"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas UDFs.

Two decode tiers:

- **Real** (operators/media_codecs.py — pure stdlib/numpy): PPM, PNG
  (8-bit non-interlaced), baseline JPEG (full DCT/Huffman codec, JFIF
  4:4:4), PCM16 WAV, and mp4/ISO-BMFF container METADATA (moov/mvhd
  duration+timescale, tkhd display dims) decode FOR REAL;
  ``with_real_media`` synthesizes deterministic real buffers across all
  modalities, ``extract_real_media_features`` computes genuine
  per-modality features (dims + mean luminance; sample count/rate + RMS +
  zero crossings; video duration/timescale/dims) and ``resize_media_real``
  does an actual nearest-neighbor resample and re-encode.
- **Stubbed**: only formats that genuinely need an external codec lib
  (mp4/h264 FRAME decode, webm/VP8+) keep the honest NotImplementedError /
  deterministic-fake contract (``decode_image_batch(fake=True)``), which
  also remains the driver oracle's path (DuckDB can twin the fake's
  codepoint arithmetic, not a PNG inflate or a JPEG IDCT). Video FRAME
  decode itself is REAL for AVI/MJPG (``video_frames`` — per-frame numpy
  JPEG decode).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .widen import widen_if_narrow

MEDIA_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes int, "
    "width int, height int, checksum string"
)


def with_fake_media(docs: DataFrame) -> DataFrame:
    """Attach a deterministic binary payload column (UTF-8 text bytes stand
    in for encoded media) + media_type metadata."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("media"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
    )


def decode_image_batch(buf: bytes, fake: bool) -> tuple[int, int]:
    """STUB: real impl would be e.g. PIL.Image.open(io.BytesIO(buf)).size.
    Deterministic fake keeps the pipeline testable without the lib. Fake
    dims come from the first/last UNICODE CODEPOINT of the UTF-8 payload
    (not the first/last byte): the DuckDB oracle twin can only express
    ascii(first_char) — byte indexing would silently diverge on the first
    multi-byte character (é = 0xC3 0xA9 vs codepoint 233)."""
    if not fake:
        raise NotImplementedError(
            "image decode requires an imaging library not present in this "
            "container; run with fake=True for deterministic fake features"
        )
    if not buf:
        return 1, 1
    s = bytes(buf).decode("utf-8")
    return ord(s[0]) % 64 + 1, ord(s[-1]) % 64 + 1


def extract_media_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas feature extraction: per Arrow batch, vectorized byte-level
    metadata + (stubbed) decode. Batch shape and schema are the real
    contract; swap the stub for a real decoder on a cluster with the libs."""

    def feats(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        for pdf in it:
            out = pd.DataFrame()
            out["doc_id"] = pdf["doc_id"]
            out["media_type"] = pdf["media_type"]
            out["n_bytes"] = pdf["media"].map(len).astype("int32")
            dims = pdf["media"].map(lambda b: decode_image_batch(b, fake))
            out["width"] = dims.map(lambda t: t[0]).astype("int32")
            out["height"] = dims.map(lambda t: t[1]).astype("int32")
            out["checksum"] = pdf["media"].map(lambda b: hashlib.md5(b).hexdigest())
            yield out

    return widen_if_narrow(media).mapInPandas(feats, schema=MEDIA_SCHEMA)


CHUNK_SCHEMA = "doc_id bigint, chunk_id int, chunk_len int, chunk_md5 string"


def media_chunks(media: DataFrame, chunk_chars: int = 64) -> DataFrame:
    """Frame-sampling plumbing: explode each media buffer into fixed-size
    chunks (the video frame / audio window analog) — a mapInPandas stage
    whose OUTPUT has more rows than its input (the UDTF shape). Chunking is
    vectorized (pandas str.findall + explode per Arrow batch); a real
    decoder would replace the UTF-8 decode with frame extraction."""
    import re as _re

    pat = _re.compile(f".{{1,{chunk_chars}}}", _re.DOTALL)

    def chunks(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        for pdf in it:
            text = pdf["media"].map(lambda b: bytes(b).decode("utf-8"))
            # chunk_id is the index WITHIN this row's findall list — a pure
            # per-row property. A groupby(doc_id).cumcount() here would be
            # batch-dependent state: a doc_id appearing twice (union of
            # receiver branches, resampled corpus) would get interleaved or
            # colliding (doc_id, chunk_id) pairs depending on which Arrow
            # batch each copy landed in.
            found = text.str.findall(pat)
            exploded = pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "ch": found,
                "ids": found.map(lambda cs: list(range(len(cs)))),
            }).explode(["ch", "ids"])
            exploded = exploded[exploded["ch"].notna()]
            out = pd.DataFrame()
            out["doc_id"] = exploded["doc_id"].astype("int64")
            out["chunk_id"] = exploded["ids"].astype("int32")
            out["chunk_len"] = exploded["ch"].str.len().astype("int32")
            out["chunk_md5"] = exploded["ch"].map(
                lambda s: hashlib.md5(s.encode("utf-8")).hexdigest())
            yield out

    return widen_if_narrow(media).mapInPandas(chunks, schema=CHUNK_SCHEMA)

def sample_frames(chunks: DataFrame, every_k: int = 4,
                  offset: int = 0) -> DataFrame:
    """Deterministic frame sampling: keep every ``every_k``-th chunk/frame
    (video keyframe-rate / audio window-stride analog). Runs JVM-side as a
    modular filter on the chunk index — after the Python explode has
    already paid for chunking, sampling costs one codegen'd predicate, no
    second Python pass. At scale the filter composes with the explode in
    one stage; pushing the sample INTO the decoder (decode only sampled
    frames) is the real-decoder optimization the stub can't show."""
    if not 0 <= offset < every_k:
        raise ValueError(
            f"offset must be in [0, every_k): got offset={offset}, "
            f"every_k={every_k} — chunk_id % {every_k} never equals "
            f"{offset}, so the sample would be silently empty")
    return chunks.filter((F.col("chunk_id") % every_k) == offset)


# -- the REAL tier (media_codecs.py decoders) ---------------------------------
REAL_MEDIA_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes int, width int, height int, "
    "mean_lum double, n_samples int, sample_rate int, rms double, "
    "zero_crossings int, duration_s double, timescale int, checksum string"
)


def with_real_media(docs: DataFrame) -> DataFrame:
    """Attach REAL encoded media, deterministically synthesized from doc_id:
    PNG (RGB gradient), PCM16 WAV (two-tone square-ish wave), or binary PPM
    — all decodable by media_codecs.py with no external libs. Runs in
    mapInPandas (byte assembly is inherently per-buffer Python, the carved-
    out layer for opaque binaries)."""
    from .widen import widen_if_narrow

    def gen(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from . import media_codecs as mc

        for pdf in it:
            media, mtype = [], []
            for did in pdf["doc_id"].astype("int64"):
                w, h = 8 + did % 9, 6 + did % 5
                if did % 4 == 0:
                    px = ((np.arange(h)[:, None, None] * 31
                           + np.arange(w)[None, :, None] * 17
                           + np.arange(3)[None, None, :] * 7
                           + did) % 256).astype(np.uint8)
                    media.append(mc.encode_png(px, filter_type=int(did % 5)))
                    mtype.append("image/png")
                elif did % 4 == 1:
                    n = 64 + did % 41
                    t = np.arange(n)
                    x = np.where((t // (2 + did % 6)) % 2 == 0,
                                 1000 + did % 7000, -(1200 + did % 5000))
                    media.append(mc.encode_wav(x.astype(np.int16),
                                               rate=8000 + int(did % 3) * 4000))
                    mtype.append("audio/wav")
                elif did % 4 == 2:
                    px = ((np.arange(h)[:, None, None] * 13
                           + np.arange(w)[None, :, None] * 5
                           + np.arange(3)[None, None, :] * 29
                           + did) % 256).astype(np.uint8)
                    if did % 8 == 6:   # every other residue-2 doc: REAL jpeg
                        media.append(mc.encode_jpeg(px, quality=90))
                        mtype.append("image/jpeg")
                    else:
                        media.append(mc.encode_ppm(px))
                        mtype.append("image/ppm")
                elif did % 8 == 7:   # every other residue-3 doc: REAL
                    # multi-frame video (AVI/MJPG — full frame decode)
                    nf = 3 + int(did % 4)
                    frames = [((np.arange(h)[:, None, None] * 11
                                + np.arange(w)[None, :, None] * 3
                                + np.arange(3)[None, None, :] * 19
                                + did + 41 * fi) % 256).astype(np.uint8)
                              for fi in range(nf)]
                    media.append(mc.encode_avi_mjpeg(
                        frames, fps=int(4 + did % 9), quality=90))
                    mtype.append("video/x-msvideo")
                else:
                    media.append(mc.encode_mp4_meta(
                        duration=int(600 + did % 9000),
                        timescale=int(600 * (1 + did % 2)),
                        width=int(160 + 8 * (did % 20)),
                        height=int(90 + 8 * (did % 12))))
                    mtype.append("video/mp4")
            yield pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"),
                                "media": media, "media_type": mtype})

    return widen_if_narrow(docs.select("doc_id")).mapInPandas(
        gen, schema="doc_id bigint, media binary, media_type string")


def extract_real_media_features(media: DataFrame) -> DataFrame:
    """Genuine decode + per-modality features per Arrow batch; image rows
    fill (width, height, mean_lum), audio rows fill (n_samples, sample_rate,
    rms, zero_crossings), the other modality's columns stay NULL. Unknown
    media types raise — the honest contract, not a silent NULL row.

    Video rows: ``duration_s`` is authoritative. For an AVI, ``timescale``
    is only the fps rounded to an int label (an NTSC 30000/1001 file reads
    30), so n_frames / timescale is NOT its duration; use ``duration_s``,
    which is computed from the exact rational rate."""

    def feats(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        from . import media_codecs as mc

        for pdf in it:
            rows = []
            for did, buf, mt in zip(pdf["doc_id"], pdf["media"],
                                    pdf["media_type"]):
                b = bytes(buf)
                base = {"doc_id": int(did), "media_type": mt,
                        "n_bytes": len(b),
                        "checksum": hashlib.md5(b).hexdigest(),
                        "width": None, "height": None, "mean_lum": None,
                        "n_samples": None, "sample_rate": None, "rms": None,
                        "zero_crossings": None, "duration_s": None,
                        "timescale": None}
                if mt in ("image/png", "image/ppm", "image/jpeg"):
                    w, h, lum = mc.image_stats(mc.decode_image(b, mt))
                    base.update(width=w, height=h, mean_lum=lum)
                elif mt == "audio/wav":
                    n, rate, rms, zc = mc.audio_stats(*mc.decode_wav(b))
                    base.update(n_samples=n, sample_rate=rate, rms=rms,
                                zero_crossings=zc)
                elif mt == "video/mp4":
                    # real ISO-BMFF box parse (moov/mvhd + tkhd): container
                    # metadata needs no codec lib (mp4 FRAME decode does —
                    # the AVI/MJPG branch below decodes frames for real)
                    dur, ts, w, h = mc.decode_mp4_meta(b)
                    base.update(width=w, height=h, timescale=ts,
                                duration_s=mc.video_stats(dur, ts))
                elif mt == "video/x-msvideo":
                    # REAL frame decode: every MJPG frame through the
                    # numpy JPEG codec; timescale carries the fps
                    frames, fps = mc.decode_avi_mjpeg(b)
                    _, _, w, h, dur_s, lum = mc.avi_video_stats(frames, fps)
                    # timescale is an int column; fps can be a rational
                    # float for external AVIs (30000/1001) — duration_s
                    # above already carries the exact value
                    base.update(width=w, height=h, timescale=int(round(fps)),
                                duration_s=dur_s, mean_lum=lum)
                else:
                    raise NotImplementedError(
                        f"no stdlib decoder for {mt}; extend "
                        f"media_codecs.py or use the fake tier")
                rows.append(base)
            yield pd.DataFrame(rows)

    return widen_if_narrow(media).mapInPandas(feats, schema=REAL_MEDIA_SCHEMA)


VIDEO_FRAME_SCHEMA = (
    "doc_id bigint, frame_id int, width int, height int, frame_md5 string"
)


def video_frames(media: DataFrame, every_k: int = 1,
                 offset: int = 0) -> DataFrame:
    """REAL video frame sampling: decode every MJPG frame of each
    AVI buffer (media_codecs.decode_avi_mjpeg → per-frame numpy JPEG
    decode) and keep frames with frame_id % every_k == offset — the
    frame-extraction stage a video training pipeline runs before image
    featurization. Output rows > input rows (the UDTF shape, like
    media_chunks, but over genuinely decoded pixels: frame_md5 hashes the
    PPM re-encode of the REAL frame). Non-AVI rows are filtered JVM-side;
    frame_id is a per-buffer property, so the op is batch- and
    partition-placement-invariant."""
    if every_k < 1 or not 0 <= offset < every_k:
        raise ValueError(
            f"video_frames needs every_k >= 1 and offset in [0, every_k): "
            f"got every_k={every_k}, offset={offset}")

    def fr(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        from . import media_codecs as mc

        for pdf in it:
            rows = []
            for did, buf in zip(pdf["doc_id"], pdf["media"]):
                frames, _ = mc.decode_avi_mjpeg(bytes(buf))
                for fi, f in enumerate(frames):
                    if fi % every_k != offset:
                        continue
                    rows.append({
                        "doc_id": int(did), "frame_id": fi,
                        "width": f.shape[1], "height": f.shape[0],
                        "frame_md5": hashlib.md5(
                            mc.encode_ppm(f[:, :, :3])).hexdigest()})
            yield pd.DataFrame(rows)

    vids = media.filter(F.col("media_type") == "video/x-msvideo")
    return widen_if_narrow(vids).mapInPandas(fr, schema=VIDEO_FRAME_SCHEMA)


REAL_RESIZE_SCHEMA = (
    "doc_id bigint, media_type string, width int, height int, "
    "out_width int, out_height int, resized_md5 string"
)


def resize_media_real(media: DataFrame, out_width: int = 8,
                      out_height: int = 8) -> DataFrame:
    """ACTUAL resize for the image modalities: decode → nearest-neighbor
    resample (numpy index arithmetic) → re-encode as PPM → md5 of the real
    resampled buffer. Audio/other rows are filtered out up front (JVM-side
    predicate — no Python is paid for rows the op doesn't apply to)."""

    def rs(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import numpy as np
        import pandas as pd

        from . import media_codecs as mc

        for pdf in it:
            rows = []
            for did, buf, mt in zip(pdf["doc_id"], pdf["media"],
                                    pdf["media_type"]):
                b = bytes(buf)
                arr = mc.decode_image(b, mt)
                if arr.shape[2] == 4:  # drop alpha for the PPM re-encode
                    arr = arr[:, :, :3]
                elif arr.shape[2] == 1:  # gray PNG (color type 0) → RGB
                    arr = np.repeat(arr, 3, axis=2)
                small = mc.resize_nearest(arr, out_width, out_height)
                rows.append({
                    "doc_id": int(did), "media_type": mt,
                    "width": arr.shape[1], "height": arr.shape[0],
                    "out_width": out_width, "out_height": out_height,
                    "resized_md5": hashlib.md5(
                        mc.encode_ppm(small)).hexdigest()})
            yield pd.DataFrame(rows)

    imgs = media.filter(F.col("media_type").startswith("image/"))
    return widen_if_narrow(imgs).mapInPandas(rs, schema=REAL_RESIZE_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id bigint, media_type string, width int, height int, "
    "out_width int, out_height int, resized_md5 string"
)


def resize_media(media: DataFrame, out_width: int = 32,
                 out_height: int = 32, fake: bool = True) -> DataFrame:
    """Resize plumbing (PIL.Image.resize analog), decode step stubbed like
    extract_media_features: per Arrow batch, derive source dims from the
    (fake) decode, emit target dims plus a deterministic checksum of the
    'resized' payload — real contract is the schema, batching, and the
    fact that output bytes depend on (payload, target dims). Swap the two
    marked lines for a real decode+resize on a cluster with the libs."""

    def rs(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        for pdf in it:
            out = pd.DataFrame()
            out["doc_id"] = pdf["doc_id"]
            out["media_type"] = pdf["media_type"]
            dims = pdf["media"].map(lambda b: decode_image_batch(b, fake))
            out["width"] = dims.map(lambda t: t[0]).astype("int32")
            out["height"] = dims.map(lambda t: t[1]).astype("int32")
            out["out_width"] = out["width"].clip(upper=out_width).astype("int32")
            out["out_height"] = out["height"].clip(upper=out_height).astype("int32")
            # STUB resize: checksum binds output to payload+target dims;
            # a real impl hashes the actual resampled pixel buffer
            out["resized_md5"] = [
                hashlib.md5(bytes(b) + f":{w}x{h}".encode()).hexdigest()
                for b, w, h in zip(pdf["media"], out["out_width"],
                                   out["out_height"])
            ]
            yield out

    return widen_if_narrow(media).mapInPandas(rs, schema=RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# Image perceptual near-dup: average-hash (aHash) over the REAL decode
# path. The standard image-dedup identity for crawl pipelines (LAION-style
# pHash-family dedup): resize to 8x8, grayscale, threshold each cell
# against the image mean, pack 64 bits. Near-identical images (re-encodes,
# small edits) land within a few Hamming bits; pairing reuses the SimHash
# banding discipline (dedup.py simhash_band_pairs).
# ---------------------------------------------------------------------------

AHASH_SCHEMA = "doc_id bigint, media_type string, ahash bigint"
_AHASH_SIDE = 8  # 8x8 = 64 bits


def ahash_from_pixels(arr) -> int:
    """The ONE aHash definition (the Python model in tests recomputes it
    loop-wise): nearest-neighbor resample to 8x8 (media_codecs.resize_nearest
    — integer index arithmetic), grayscale as the integer CHANNEL SUM
    (0..765 — no float weights), threshold cell > image mean via the exact
    integer cross-multiplication ``lum*64 > total`` (no division, no float
    anywhere), bit i = row-major cell index. Bit 63 may be set: the packed
    value is returned as a SIGNED int64 (two's complement) because Spark
    BIGINT and DuckDB BIGINT both are — PARITY trap 23 is about SQL-side
    shifting into the sign bit, which this module never does (band
    extraction masks AFTER shifting, see image_hash_bands)."""
    from . import media_codecs as mc

    small = mc.resize_nearest(arr, _AHASH_SIDE, _AHASH_SIDE)
    lum = small.astype("int64").sum(axis=2)  # (8, 8) channel sums
    total = int(lum.sum())
    bits = 0
    for i, v in enumerate(int(x) for x in lum.flatten()):
        if v * (_AHASH_SIDE * _AHASH_SIDE) > total:
            bits |= 1 << i
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits


def image_ahash(media: DataFrame) -> DataFrame:
    """(doc_id, media_type, ahash) for image rows (image/png, image/ppm,
    image/jpeg); non-image rows are filtered out JVM-SIDE before the kernel
    (the decode never sees audio/video buffers). mapInPandas Arrow batches
    — the decode is inherently Python; everything downstream of this table
    is pure JVM expressions."""

    def hashes(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from . import media_codecs as mc

        for pdf in it:
            rows = []
            for did, buf, mt in zip(pdf["doc_id"], pdf["media"],
                                    pdf["media_type"]):
                arr = mc.decode_image(bytes(buf), mt)
                if arr.ndim == 3 and arr.shape[2] == 4:
                    arr = arr[:, :, :3]
                if arr.ndim == 3 and arr.shape[2] == 1:
                    arr = arr.repeat(3, axis=2)
                rows.append({"doc_id": int(did), "media_type": mt,
                             "ahash": ahash_from_pixels(arr)})
            yield pd.DataFrame(rows)

    imgs = media.filter(
        F.col("media_type").isin("image/png", "image/ppm", "image/jpeg"))
    return widen_if_narrow(imgs).mapInPandas(hashes, schema=AHASH_SCHEMA)


PHASH_SCHEMA = "doc_id bigint, media_type string, phash bigint"
_PHASH_SIDE = 32  # downsample side; DCT top-left 8x8 minus DC = 63 bits


def phash_from_pixels(arr) -> int:
    """The ONE pHash definition (tests recompute it with explicit-loop
    integer sums): nearest-neighbor resample to 32x32 (same integer index
    map as aHash), integer channel-sum luminance, EXACT fixed-point 2D
    DCT (media_codecs.dct_mat_q20 — int64 transform, bitwise reproducible
    across implementations; a float DCT flips near-median bits via
    last-ulp summation order on sparse-spectrum images), keep the
    top-left 8x8 LOW-FREQUENCY block minus the DC term (63 coefs),
    threshold each against the EXACT integer MEDIAN (sorted index 31 of
    63), bit i = row-major coef index. 63 bits → the value never reaches the sign bit; stored BIGINT
    like aHash so the 4x16 banding/pairing plumbing is shared.

    Complementarity (measured on dense-spectrum fixtures): pHash is the
    RE-ENCODE identity — lossy JPEG q90 moves it 0-2 bits (unrelated
    images ~40) because quantization barely shifts the coarse spectrum —
    while small LOCAL edits move 8+ bits (they perturb many mid-frequency
    signs); aHash is the local-edit-tolerant sibling (a 2x2-cell edit
    flips ~0-2 spatial bits). Run both, union the pair sets. Caveat:
    spectrally SPARSE synthetic images (pure gradients) leave most of the
    63 coefficients near zero ≈ the median, so their pHash bits are
    numerically unstable — a property of the hash family, not this
    implementation; real photographs are dense-spectrum."""
    import numpy as np

    from . import media_codecs as mc

    small = mc.resize_nearest(arr, _PHASH_SIDE, _PHASH_SIDE)
    lum = small.astype(np.int64).sum(axis=2)        # channel sums 0..765
    a = mc.dct_mat_q20(_PHASH_SIDE)                 # int64 fixed-point DCT
    coef = (a @ lum @ a.T)[:8, :8].reshape(64)[1:]  # drop DC; exact ints
    med = int(np.sort(coef)[31])
    bits = 0
    for i, v in enumerate(coef):
        if int(v) > med:
            bits |= 1 << i
    return bits


def image_phash(media: DataFrame) -> DataFrame:
    """(doc_id, media_type, phash) for image rows — the DCT perceptual
    hash sibling of image_ahash; identical JVM-side filter + Arrow batch
    shape, and the SAME banded pairing serves both (hash_col='phash')."""

    def hashes(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from . import media_codecs as mc

        for pdf in it:
            rows = []
            for did, buf, mt in zip(pdf["doc_id"], pdf["media"],
                                    pdf["media_type"]):
                arr = mc.decode_image(bytes(buf), mt)
                if arr.ndim == 3 and arr.shape[2] == 4:
                    arr = arr[:, :, :3]
                if arr.ndim == 3 and arr.shape[2] == 1:
                    arr = arr.repeat(3, axis=2)
                rows.append({"doc_id": int(did), "media_type": mt,
                             "phash": phash_from_pixels(arr)})
            yield pd.DataFrame(rows)

    imgs = media.filter(
        F.col("media_type").isin("image/png", "image/ppm", "image/jpeg"))
    return widen_if_narrow(imgs).mapInPandas(hashes, schema=PHASH_SCHEMA)


def image_hash_bands(df: DataFrame, hash_col: str = "ahash",
                     n_bands: int = 4) -> DataFrame:
    """Explode each hash into (band_id, band_key) rows: 4 bands x 16 bits.
    Band extraction is shift-then-mask — arithmetic vs logical shift is
    irrelevant because ``& 65535`` keeps only the low 16 bits either way,
    so Spark shiftright and DuckDB >> agree even on negative hashes."""
    assert 64 % n_bands == 0
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = F.expr(
        f"transform(sequence(0, {n_bands - 1}), "
        f"b -> named_struct('band_id', b, "
        f"'band_key', (shiftright({hash_col}, b * {width}) & {mask})))")
    return (df.withColumn("_b", F.explode(bands))
            .select("*", F.col("_b.band_id").alias("band_id"),
                    F.col("_b.band_key").alias("band_key"))
            .drop("_b"))


def image_near_dup_pairs(hashes: DataFrame, max_hamming: int = 3,
                         id_col: str = "doc_id",
                         hash_col: str = "ahash") -> DataFrame:
    """(id_a, id_b, hamming) with hamming(aHash) <= max_hamming, id_a <
    id_b. Banded equi-join: 4 x 16-bit bands — pigeonhole guarantees
    recall 1.0 for max_hamming <= 3 (4 bands can absorb at most 3 bit
    flips and still share an untouched band); candidates verify with one
    xor+bit_count, distinct-deduped across bands BEFORE the verify
    (each pair carries its two hashes, so dedup and verify need no join
    back). Pure JVM end to end; shuffle keys are (band_id, band_key) then
    the pair dedup — no cartesian anywhere (pinned in tests)."""
    if max_hamming > 3:
        raise ValueError(
            f"4x16 banding guarantees recall only to hamming 3; "
            f"got {max_hamming} (raise n_bands instead)")
    b = image_hash_bands(hashes, hash_col)
    left = b.select(F.col(id_col).alias("id_a"),
                    F.col(hash_col).alias("h_a"), "band_id", "band_key")
    right = b.select(F.col(id_col).alias("id_b"),
                     F.col(hash_col).alias("h_b"), "band_id", "band_key")
    cand = (left.join(right, ["band_id", "band_key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "h_a", "h_b").distinct())
    return (cand.withColumn(
        "hamming", F.bit_count(F.expr("h_a ^ h_b")).cast("int"))
        .filter(F.col("hamming") <= int(max_hamming))
        .select("id_a", "id_b", "hamming"))


def image_near_dup_pairs_sql_duck(hash_rows: list[tuple[int, int]],
                                  max_hamming: int = 3) -> str:
    """DuckDB twin of the band join + verify, over an explicit hash table
    (the hash kernel itself is Python/numpy decode — its oracle is the
    loop-wise Python model in tests; THIS twin proves the pairing logic
    end-to-end from independently computed hashes). VALUES rows CAST
    per trap 18."""
    if not hash_rows:
        return ("SELECT CAST(NULL AS BIGINT) AS id_a, "
                "CAST(NULL AS BIGINT) AS id_b, "
                "CAST(NULL AS INTEGER) AS hamming WHERE FALSE")
    vals = ", ".join(
        f"(CAST({i} AS BIGINT), CAST({h} AS BIGINT))" for i, h in hash_rows)
    return f"""
    WITH hs AS (SELECT * FROM (VALUES {vals}) AS t(doc_id, ahash)),
    bands AS (
      SELECT doc_id, ahash, b.band_id,
             (ahash >> (b.band_id * 16)) & 65535 AS band_key
      FROM hs, (SELECT unnest(range(4)) AS band_id) b
    ), cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
             l.ahash AS h_a, r.ahash AS h_b
      FROM bands l JOIN bands r
        ON l.band_id = r.band_id AND l.band_key = r.band_key
      WHERE l.doc_id < r.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(h_a, h_b)) <= {int(max_hamming)}"""


def audio_ahash_from_samples(samples) -> int:
    """Audio counterpart of ahash_from_pixels — the ONE definition (tests
    recompute it loop-wise): 64 equal time windows (nearest-boundary
    index arithmetic, the resize_nearest rule on the time axis), window
    ENERGY as the integer sum of |sample| (int64 — abs(-32768) overflows
    int16), bit w set iff the window's MEAN energy exceeds the clip mean,
    decided by the exact integer cross-multiplication
    ``sum_w * n > total * len_w`` (no division, no float). Clips shorter
    than 64 samples leave their empty windows at 0 (sum_w = len_w = 0 →
    0 > 0 false). Same signed-int64 packing note as the image hash."""
    n = int(len(samples))
    if n == 0:
        raise ValueError("empty audio clip has no envelope hash")
    absx = [abs(int(s)) for s in samples]
    total = sum(absx)
    bits = 0
    for w in range(64):
        lo, hi = (w * n) // 64, ((w + 1) * n) // 64
        sum_w = sum(absx[lo:hi])
        if sum_w * n > total * (hi - lo):
            bits |= 1 << w
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits


def audio_ahash(media: DataFrame) -> DataFrame:
    """(doc_id, media_type, ahash) for audio/wav rows — the perceptual
    identity for re-encoded / slightly-edited clips; same JVM-side
    modality filter and Arrow-batch shape as image_ahash."""

    def hashes(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from . import media_codecs as mc

        for pdf in it:
            rows = []
            for did, buf in zip(pdf["doc_id"], pdf["media"]):
                samples, _rate = mc.decode_wav(bytes(buf))
                rows.append({"doc_id": int(did), "media_type": "audio/wav",
                             "ahash": audio_ahash_from_samples(samples)})
            yield pd.DataFrame(rows)

    clips = media.filter(F.col("media_type") == "audio/wav")
    return widen_if_narrow(clips).mapInPandas(hashes, schema=AHASH_SCHEMA)


# the pairing is modality-agnostic (any 64-bit perceptual hash):
ahash_near_dup_pairs = image_near_dup_pairs
