"""Multimodal column plumbing: images/audio/video as opaque ``binary``
columns with typed metadata, processed in Arrow batches via
``mapInPandas``.

The decode step is a clearly-marked STUB (the runtime has no image/audio
libraries): :func:`decode_stub` produces deterministic fake metadata from
the content's MD5 so the Spark-side plumbing — schema, batch iteration,
partition sizing — is real and testable end-to-end, while
:func:`decode_real` raises ``NotImplementedError`` with instructions.
Swap the per-batch function and nothing else changes.

At scale: binary payloads dominate partition size, so pipelines should
set ``spark.sql.files.maxPartitionBytes`` (or repartition by a size
estimate) so one Arrow batch of decoded frames fits executor memory;
metadata-only stages should select away the binary column FIRST so the
parquet reader never materializes the blobs (column pruning).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thoth_spark.operators.partitioning import spread_narrow
from thoth_spark.session import drop_zip_finders

#: metadata schema attached by decode
MEDIA_META_SCHEMA = (
    "media_md5 string, media_bytes bigint, width int, height int,"
    " n_channels int, format string"
)


def _spread(df: DataFrame, id_col: str | None = None) -> DataFrame:
    """spread_narrow keyed on the row id when the frame has one (r16
    advice: the keyless form pays a local sort-before-repartition over
    full rows carrying media blobs; hashing on the id makes the narrow
    -path exchange a cheap deterministic hash partition). Falls back to
    ``doc_id`` (every multimodal fixture's id), then keyless."""
    key = id_col if id_col and id_col in df.columns else (
        "doc_id" if "doc_id" in df.columns else None
    )
    return spread_narrow(df, key) if key else spread_narrow(df)


def attach_binary(df: DataFrame, source_col: str, media_col: str = "content") -> DataFrame:
    """Treat a column's bytes as the opaque media payload (demo plumbing:
    real pipelines read binary files via ``spark.read.format('binaryFile')``
    or parquet binary columns)."""
    return df.withColumn(media_col, F.encode(F.col(source_col), "utf-8"))


def decode(
    df: DataFrame,
    decoder: "Callable[[pd.Series], pd.DataFrame]",
    media_col: str = "content",
    meta_schema: str = MEDIA_META_SCHEMA,
) -> DataFrame:
    """Decode media blobs with an INJECTED per-batch decoder.

    ``decoder`` receives one Arrow batch's blobs as a ``pd.Series`` of
    ``bytes`` and returns a ``pd.DataFrame`` whose columns match
    ``meta_schema``. All Spark-side plumbing (schema handling, Arrow
    batching, distribution) lives here, so a real PIL/ffmpeg decoder is a
    one-liner for the caller — and the stub used in tests exercises the
    exact same path."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", " + meta_schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            meta = decoder(pdf[media_col])
            meta.index = pdf.index
            yield pd.concat([pdf, meta], axis=1)

    return _spread(df).mapInPandas(run, schema=out_schema)


def stub_decoder(blobs: pd.Series) -> pd.DataFrame:
    """Deterministic fake image metadata from md5(content) — the default
    decoder while no codec libraries exist in the runtime."""
    md5s = [hashlib.md5(b).hexdigest() for b in blobs]
    return pd.DataFrame(
        {
            "media_md5": md5s,
            "media_bytes": [len(b) for b in blobs],
            # fake-but-deterministic dimensions from the digest
            "width": [16 + int(m[:2], 16) for m in md5s],
            "height": [16 + int(m[2:4], 16) for m in md5s],
            "n_channels": [1 + int(m[4], 16) % 4 for m in md5s],
            "format": [["png", "jpeg", "webp"][int(m[5], 16) % 3] for m in md5s],
        }
    )


def decode_stub(
    df: DataFrame, media_col: str = "content", batch_hint: int = 1024
) -> DataFrame:
    """STUB decode: :func:`decode` with :func:`stub_decoder` injected."""
    return decode(df, stub_decoder, media_col)


def decode_real(df: DataFrame, media_col: str = "content") -> DataFrame:
    """Real image decode — a thin injection of a PIL-backed decoder into
    :func:`decode`; raises when the codec library is absent."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "Image decoding requires Pillow, which is not available in this "
            "runtime. Inject any per-batch callable into decode() instead — "
            "the mapInPandas plumbing and schema stay identical."
        ) from exc

    def pil_decoder(blobs: pd.Series) -> pd.DataFrame:
        import io

        from PIL import Image

        rows = []
        for b in blobs:
            img = Image.open(io.BytesIO(b))
            rows.append(
                {
                    "media_md5": hashlib.md5(b).hexdigest(),
                    "media_bytes": len(b),
                    "width": img.width,
                    "height": img.height,
                    "n_channels": len(img.getbands()),
                    "format": (img.format or "unknown").lower(),
                }
            )
        return pd.DataFrame(rows)

    return decode(df, pil_decoder, media_col)


#: image metadata schema with per-channel stats (see ppm_decoder)
IMAGE_META_SCHEMA = (
    "media_md5 string, media_bytes bigint, width int, height int,"
    " n_channels int, format string, mean_r double, mean_g double,"
    " mean_b double, mean_gray double"
)


def _ppm_pixels(bb: bytes) -> tuple[bytes, int, int, int, "object"]:
    """Parse one binary PPM/PGM (P6/P5) payload to
    ``(magic, w, h, maxval, float64 pixels scaled to 0..255)``.

    Honors the full netpbm header grammar the old regex did not (r10
    advice): ``#`` comments may appear between any header tokens, and
    ``maxval`` selects the sample width — 1 byte up to 255, 2 bytes
    (MSB first) up to 65535; a 16-bit raster previously decoded as
    uint8 garbage. Exactly one whitespace byte separates maxval from
    the raster. Samples are scaled by ``255 / maxval`` so downstream
    stats and perceptual hashes are depth-independent."""
    import numpy as np

    if bb[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PPM/PGM (P6/P5) payload")
    magic, pos, fields = bb[:2], 2, []
    while len(fields) < 3:
        while pos < len(bb) and bb[pos : pos + 1].isspace():
            pos += 1
        if bb[pos : pos + 1] == b"#":
            eol = bb.find(b"\n", pos)
            if eol < 0:
                raise ValueError("unterminated PPM header comment")
            pos = eol + 1
            continue
        start = pos
        while pos < len(bb) and bb[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("malformed PPM header (expected integer)")
        fields.append(int(bb[start:pos]))
    if pos >= len(bb) or not bb[pos : pos + 1].isspace():
        raise ValueError("malformed PPM header (missing raster separator)")
    pos += 1
    w, h, maxval = fields
    if not 0 < maxval < 65536:
        raise ValueError(f"PPM maxval {maxval} outside 1..65535")
    nc = 3 if magic == b"P6" else 1
    dtype = np.dtype(">u2") if maxval > 255 else np.dtype(np.uint8)
    px = (
        np.frombuffer(bb, dtype=dtype, count=w * h * nc, offset=pos)
        .reshape(h, w, nc)
        .astype(np.float64)
        * (255.0 / maxval)
    )
    return magic, w, h, maxval, px


def ppm_decoder(blobs: pd.Series) -> pd.DataFrame:
    """REAL image decode for binary PPM/PGM (P6/P5) — full netpbm
    header parse (comments, 8/16-bit maxval) + numpy pixel stats; the
    uncompressed-raster twin of the PIL path in :func:`decode_real`."""
    rows = []
    for b in blobs:
        bb = bytes(b)
        magic, w, h, _maxval, px = _ppm_pixels(bb)
        nc = 3 if magic == b"P6" else 1
        means = px.mean(axis=(0, 1))
        r, g, bl = (means[0], means[1], means[2]) if nc == 3 else (means[0],) * 3
        rows.append(
            {
                "media_md5": hashlib.md5(bb).hexdigest(),
                "media_bytes": len(bb),
                "width": w,
                "height": h,
                "n_channels": nc,
                "format": "ppm" if nc == 3 else "pgm",
                "mean_r": round(float(r), 6),
                "mean_g": round(float(g), 6),
                "mean_b": round(float(bl), 6),
                "mean_gray": round(float(0.299 * r + 0.587 * g + 0.114 * bl), 6),
            }
        )
    return pd.DataFrame(rows)


def decode_ppm(df: DataFrame, media_col: str = "content") -> DataFrame:
    """Real PPM/PGM decode through the standard :func:`decode` plumbing."""
    return decode(df, ppm_decoder, media_col, meta_schema=IMAGE_META_SCHEMA)


def synth_ppm(df: DataFrame, id_col: str = "doc_id", media_col: str = "content") -> DataFrame:
    """Synthesize a REAL binary PPM (P6) per row: ``16 + id % 16`` ×
    ``16 + (3 * id) % 16`` constant-color raster with channel values
    derived from the id — byte-exact, so decode results are closed-form
    SQL-checkable (see ORACLE_MM_PPM)."""
    import numpy as np

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {media_col} binary"

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            blobs = []
            for d in pdf[id_col]:
                d = int(d)
                w, h = 16 + d % 16, 16 + (3 * d) % 16
                rgb = np.zeros((h, w, 3), dtype=np.uint8)
                rgb[..., 0] = d % 256
                rgb[..., 1] = (3 * d + 7) % 256
                rgb[..., 2] = (5 * d + 11) % 256
                blobs.append(b"P6\n%d %d\n255\n" % (w, h) + rgb.tobytes())
            out = pdf.copy()
            out[media_col] = blobs
            yield out

    return _spread(df, id_col).mapInPandas(synth, schema=out_schema)


def frame_sample_stub(
    df: DataFrame, media_col: str = "content", every_n: int = 10
) -> DataFrame:
    """Video frame-sampling STUB: emits one row per sampled 'frame' with
    deterministic fake frame ids (demonstrates the 1→N mapInPandas
    explode shape used by real frame extraction)."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", frame_idx int, frame_md5 string"

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                blob = row[media_col]
                n_frames = 1 + len(blob) // max(every_n, 1)
                for i in range(min(n_frames, 8)):
                    r = dict(row)
                    r["frame_idx"] = i
                    r["frame_md5"] = hashlib.md5(blob + str(i).encode()).hexdigest()
                    rows.append(r)
            yield pd.DataFrame(rows)

    return _spread(df).mapInPandas(sample, schema=out_schema)

# ---------------------------------------------------------------------------
# Perceptual image hashing + near-duplicate pairs (LAION-style image dedup)
# ---------------------------------------------------------------------------

#: fingerprint frame emitted by :func:`image_phash` — intentionally the
#: SAME ``(id, sim_hi, sim_lo)`` shape as ``dedup.simhash``, so the
#: Manku block-permutation candidate machinery (``simhash_chunks`` /
#: ``simhash_near_dup_pairs`` / ``simhash_pairs_incremental``) runs on
#: image fingerprints unchanged.
PHASH_SCHEMA_SUFFIX = "sim_hi long, sim_lo long"


def _ppm_gray(bb: bytes) -> "object":
    """Decode a binary PPM/PGM (P6/P5) payload to a float64 grayscale
    matrix (ITU-R 601 luma weights, same as :func:`ppm_decoder`);
    header comments and 16-bit maxval handled by :func:`_ppm_pixels`."""
    magic, _w, _h, _maxval, px = _ppm_pixels(bb)
    if magic == b"P6":
        return 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
    return px[..., 0]


def _split_bounds(n: int, k: int):
    """``np.array_split`` segment START offsets for n elements into k
    blocks (first ``n % k`` blocks one longer) — the reduceat index
    form of the same bounds."""
    import numpy as np

    base, rem = divmod(n, k)
    sizes = np.full(k, base, dtype=np.int64)
    sizes[:rem] += 1
    return np.concatenate(([0], np.cumsum(sizes)[:-1]))


def _area_mean(g, rows: int, cols: int):
    """Deterministic area-mean downsample to ``rows x cols`` — each output
    cell is the mean of one contiguous pixel block (``np.array_split``
    bounds, so any input size >= 1 works; tiny inputs are first repeated
    up to the target grid)."""
    import numpy as np

    if g.shape[0] < rows:
        g = np.repeat(g, -(-rows // g.shape[0]), axis=0)
    if g.shape[1] < cols:
        g = np.repeat(g, -(-cols // g.shape[1]), axis=1)
    if not (g % 1.0 == 0.0).all():
        # general path (16-bit scale / P6 luma → non-integer cells):
        # per-block np.mean, pinned bit-for-bit by the independent
        # dHash reference test — summation ORDER matters in the last
        # ulp for non-integer values, so keep numpy's own reduction
        return np.array(
            [
                [c.mean() for c in np.array_split(r, cols, axis=1)]
                for r in np.array_split(g, rows, axis=0)
            ]
        )
    # integer-valued grayscale (8-bit P5/P6 after the 255/maxval=1
    # scale — every synthesized fixture and any 8-bit image): block
    # sums are exact in float64 (≤ 255·|block| ≪ 2^53), so sum order
    # is irrelevant and reduceat-then-divide is bit-identical to
    # np.mean per block — one vectorized pass instead of rows×cols
    # Python-level np.mean calls (measured 0.38 ms → ~0.01 ms per
    # 32×32 image, the hot 96% of phash64)
    rb = _split_bounds(g.shape[0], rows)
    cb = _split_bounds(g.shape[1], cols)
    sums = np.add.reduceat(np.add.reduceat(g, rb, axis=0), cb, axis=1)
    counts = np.outer(np.diff(np.append(rb, g.shape[0])),
                      np.diff(np.append(cb, g.shape[1])))
    return sums / counts


def phash64(bb: bytes, method: str = "dhash") -> tuple[int, int]:
    """64-bit perceptual hash of one PPM/PGM payload, returned as the
    ``(sim_hi, sim_lo)`` unsigned 32-bit halves (global bit k < 32 lives
    in ``sim_lo`` at position k; bit k >= 32 in ``sim_hi`` at k-32 —
    byte-compatible with ``dedup.simhash``'s packing).

    Public algorithms (Krawetz, "Kind of Like That" / "Looks Like It",
    hackerfactor.com, 2011-2013 — the aHash/dHash used for LAION-scale
    image dedup):

    - ``dhash``: area-mean to an 8x9 grayscale grid; bit (r, c) = 1 iff
      cell (r, c) is brighter than its right neighbour (gradient signs
      are robust to global brightness/contrast shifts).
    - ``ahash``: area-mean to 8x8; bit = 1 iff cell >= grid mean.
    """
    g = _ppm_gray(bytes(bb))
    if method == "dhash":
        grid = _area_mean(g, 8, 9)
        bits = (grid[:, :-1] > grid[:, 1:]).reshape(-1)
    elif method == "ahash":
        grid = _area_mean(g, 8, 8)
        bits = (grid >= grid.mean()).reshape(-1)
    else:
        raise ValueError(f"method must be 'dhash' or 'ahash', got {method!r}")
    import numpy as np

    bits = np.asarray(bits, dtype=bool)
    lo = int(bits[:32] @ (np.int64(1) << np.arange(32, dtype=np.int64)))
    hi = int(bits[32:] @ (np.int64(1) << np.arange(32, dtype=np.int64)))
    return hi, lo


def image_phash(
    df: DataFrame,
    id_col: str = "doc_id",
    media_col: str = "content",
    method: str = "dhash",
) -> DataFrame:
    """Perceptual hash per image: ``(id, sim_hi, sim_lo)``.

    Arrow-batched ``mapInPandas`` over just the (id, blob) projection —
    the binary column is selected last so upstream metadata stages keep
    their column pruning. One pass, no shuffle; the output frame is tiny
    (two longs per image) and feeds :func:`image_near_dup_pairs`."""
    if method not in ("dhash", "ahash"):
        raise ValueError(f"method must be 'dhash' or 'ahash', got {method!r}")
    id_type = {f.name: f.dataType.simpleString() for f in df.schema.fields}[id_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            his, los = [], []
            for b in pdf[media_col]:
                hi, lo = phash64(b, method)
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame(
                {"id": pdf[id_col], "sim_hi": his, "sim_lo": los}
            )

    return df.select(id_col, media_col).mapInPandas(
        run, schema=f"id {id_type}, {PHASH_SCHEMA_SUFFIX}"
    )


def image_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    media_col: str = "content",
    max_hamming: int = 3,
    blocks: int = 6,
    method: str = "dhash",
) -> DataFrame:
    """Image near-duplicate pairs within ``max_hamming`` bits of
    perceptual-hash distance: ``(id_a, id_b, hamming)``.

    Candidate generation and verification are EXACTLY
    ``dedup.simhash_near_dup_pairs`` on the :func:`image_phash` frame —
    the Manku block-permutation pigeonhole scheme, O(n²/2³²) expected
    candidates, never a cartesian (plan-locked by the same test family).
    At 100 TB the blob decode dominates; the pairs stage only ever
    shuffles the 3-column fingerprint frame."""
    from thoth_spark.operators.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(
        image_phash(df, id_col, media_col, method), max_hamming, blocks
    )


def synth_ppm_textured(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    media_col: str = "content",
    size: int = 32,
) -> DataFrame:
    """Synthesize a REAL textured grayscale PGM (P5) per row whose pixel
    stream is an MD5-counter keystream of the NORMALIZED text (lowercase,
    collapsed whitespace — the same canonical form as
    ``text.fingerprint``). Rows with identical normalized text produce
    byte-identical images, so the corpus's known exact-text duplicates
    become exact image duplicates — the fixture that lets the image
    near-dup pipeline be verified against the text-dup ground truth
    without shipping real image files."""
    import re

    import numpy as np

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {media_col} binary"
    npix = size * size

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            blobs = []
            for t in pdf[text_col]:
                norm = re.sub(r"\s+", " ", str(t).lower().strip())
                seed = hashlib.md5(norm.encode("utf-8")).digest()
                chunks = []
                need = npix
                ctr = 0
                while need > 0:
                    chunk = hashlib.md5(seed + ctr.to_bytes(4, "big")).digest()
                    chunks.append(chunk)
                    need -= len(chunk)
                    ctr += 1
                px = np.frombuffer(b"".join(chunks), dtype=np.uint8)[:npix]
                blobs.append(b"P5\n%d %d\n255\n" % (size, size) + px.tobytes())
            out = pdf.copy()
            out[media_col] = blobs
            yield out

    return _spread(df, id_col).mapInPandas(synth, schema=out_schema)

# ---------------------------------------------------------------------------
# Audio fingerprinting + near-duplicate pairs (energy-envelope signature)
# ---------------------------------------------------------------------------


def _wav_samples(bb: bytes):
    """Decode a PCM WAV payload to a mono float64 sample vector in
    [-1, 1] (channels averaged; stdlib ``wave`` RIFF parse, so no
    external codec library is needed)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(bytes(bb))) as w:
        nc = w.getnchannels()
        sw = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    dtype = {1: np.int8, 2: np.int16, 4: np.int32}[sw]
    x = np.frombuffer(raw, dtype=dtype).astype(np.float64)
    if nc > 1:
        x = x[: (x.size // nc) * nc].reshape(-1, nc).mean(axis=1)
    return x / float(np.iinfo(dtype).max)


def audio_fingerprint64(bb: bytes) -> tuple[int, int]:
    """64-bit energy-envelope audio fingerprint as ``(sim_hi, sim_lo)``
    unsigned 32-bit halves (``dedup.simhash`` packing).

    The classic envelope signature (the shape behind Shazam-family and
    chromaprint fingerprints, reduced to its scale-relevant core): split
    the track into 64 equal time windows, bit k = 1 iff window k's RMS
    energy exceeds the MEDIAN window energy — thresholding against the
    track's own median makes the signature invariant to global gain, and
    a local edit perturbs only the bits of the windows it touches."""
    import numpy as np

    x = _wav_samples(bb)
    if x.size < 64:
        x = np.pad(x, (0, 64 - x.size))
    # one reduceat pass over the squared samples instead of 64
    # Python-level np.mean calls (same array_split block bounds);
    # gain-invariance is untouched — a global gain scales every
    # window's rms and the median by the same factor
    b = _split_bounds(x.size, 64)
    sums = np.add.reduceat(x * x, b)
    counts = np.diff(np.append(b, x.size))
    rms = np.sqrt(sums / counts)
    bits = rms > np.median(rms)
    lo = int(bits[:32] @ (np.int64(1) << np.arange(32, dtype=np.int64)))
    hi = int(bits[32:] @ (np.int64(1) << np.arange(32, dtype=np.int64)))
    return hi, lo


def audio_phash(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "content"
) -> DataFrame:
    """Energy-envelope fingerprint per audio blob: ``(id, sim_hi,
    sim_lo)`` — the same frame as :func:`image_phash`, so the shared
    SimHash banding machinery consumes it unchanged."""
    id_type = {f.name: f.dataType.simpleString() for f in df.schema.fields}[id_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            his, los = [], []
            for b in pdf[media_col]:
                hi, lo = audio_fingerprint64(b)
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame({"id": pdf[id_col], "sim_hi": his, "sim_lo": los})

    return df.select(id_col, media_col).mapInPandas(
        run, schema=f"id {id_type}, {PHASH_SCHEMA_SUFFIX}"
    )


def audio_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    media_col: str = "content",
    max_hamming: int = 3,
    blocks: int = 6,
) -> DataFrame:
    """Audio near-duplicate pairs within ``max_hamming`` bits of
    envelope-fingerprint distance — ``dedup.simhash_near_dup_pairs`` on
    the :func:`audio_phash` frame (no cartesian; only the 3-column
    fingerprint frame ever shuffles)."""
    from thoth_spark.operators.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(audio_phash(df, id_col, media_col), max_hamming, blocks)


def synth_wav_textured(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    media_col: str = "content",
    n_samples: int = 4096,
) -> DataFrame:
    """Synthesize a REAL 16-bit PCM WAV per row whose sample stream is an
    MD5-counter keystream of the NORMALIZED text — the audio twin of
    :func:`synth_ppm_textured`: identical normalized text ⇒ byte-identical
    audio ⇒ fingerprint distance 0."""
    import io
    import re
    import wave

    import numpy as np

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {media_col} binary"
    nbytes = n_samples * 2

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            blobs = []
            for t in pdf[text_col]:
                norm = re.sub(r"\s+", " ", str(t).lower().strip())
                seed = hashlib.md5(norm.encode("utf-8")).digest()
                chunks = []
                need = nbytes
                ctr = 0
                while need > 0:
                    chunk = hashlib.md5(seed + ctr.to_bytes(4, "big")).digest()
                    chunks.append(chunk)
                    need -= len(chunk)
                    ctr += 1
                pcm = b"".join(chunks)[:nbytes]
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(pcm)
                blobs.append(buf.getvalue())
            out = pdf.copy()
            out[media_col] = blobs
            yield out

    return _spread(df, id_col).mapInPandas(synth, schema=out_schema)

# ---------------------------------------------------------------------------
# Video near-duplicate pairs (per-frame perceptual hashes, inverted index)
# ---------------------------------------------------------------------------


def synth_video_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_frames: int = 8,
    size: int = 32,
) -> DataFrame:
    """Synthesize a deterministic 'video' per row as its extracted frame
    sequence: the NORMALIZED text's words are split into ``n_frames``
    contiguous chunks (word i → chunk ``i * n_frames // n_words`` — a
    closed-form boundary so an oracle can replay it), and each non-empty
    chunk becomes one textured PGM frame (the :func:`synth_ppm_textured`
    keystream of the chunk text). 1→N ``mapInPandas`` — the exact shape
    real frame extraction uses — emitting ``(…, frame_idx, content)``.
    Two documents sharing most of their text share most frame images
    byte-for-byte, which is the fixture video near-dup needs."""
    import re

    import numpy as np

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", frame_idx int, {('content' if text_col != 'content' else 'frame_blob')} binary"
    media_col = "content" if text_col != "content" else "frame_blob"
    npix = size * size

    def keystream_pgm(chunk_text: str) -> bytes:
        seed = hashlib.md5(chunk_text.encode("utf-8")).digest()
        chunks, need, ctr = [], npix, 0
        while need > 0:
            block = hashlib.md5(seed + ctr.to_bytes(4, "big")).digest()
            chunks.append(block)
            need -= len(block)
            ctr += 1
        px = np.frombuffer(b"".join(chunks), dtype=np.uint8)[:npix]
        return b"P5\n%d %d\n255\n" % (size, size) + px.tobytes()

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            # column-wise 1→N expansion: collect (source row, frame)
            # pairs then replicate passthrough columns with one iloc —
            # pandas iterrows() materializes a Series per row and cost
            # ~0.1 ms/row, dominating the synth at corpus scale
            rep_idx: list[int] = []
            fidxs: list[int] = []
            blobs: list[bytes] = []
            for ri, t in enumerate(pdf[text_col].tolist()):
                words = re.sub(r"\s+", " ", str(t).lower().strip()).split(" ")
                n_words = len(words)
                slices: dict[int, list[str]] = {}
                for i, w in enumerate(words):
                    slices.setdefault(i * n_frames // n_words, []).append(w)
                for fi in sorted(slices):
                    rep_idx.append(ri)
                    fidxs.append(fi)
                    blobs.append(keystream_pgm(" ".join(slices[fi])))
            out = pdf.iloc[rep_idx].reset_index(drop=True)
            out["frame_idx"] = pd.Series(fidxs, dtype="int64")
            out[media_col] = blobs
            yield out

    return _spread(df, id_col).mapInPandas(synth, schema=out_schema)


def video_near_dup_pairs(
    frames: DataFrame,
    id_col: str = "doc_id",
    media_col: str = "content",
    min_shared: int = 6,
    hot_frame_cap: int | None = 50,
    method: str = "dhash",
) -> DataFrame:
    """Video near-duplicate pairs: videos sharing at least ``min_shared``
    DISTINCT per-frame perceptual-hash values — the inverted-index shape
    every production video-dedup system uses (frame fingerprint →
    posting list → pair counts), the visual twin of the n-gram Jaccard
    inverted index in ``dedup.py``.

    Input is the extracted-frames frame (one row per (video, frame)
    — e.g. :func:`synth_video_frames` or a real ffmpeg extractor through
    :func:`decode`). Stages, all single-shuffle: per-frame
    :func:`image_phash`; distinct (video, hash); the hot-frame drop —
    hash values present in more than ``hot_frame_cap`` videos (intro
    cards, black frames — the skew that makes the posting-list self-join
    quadratic) are removed exactly like the hot-shingle drop-list in the
    Jaccard path; self-join on the hash value; groupBy pair with a
    distinct-hash count filter. Returns ``(id_a, id_b, shared_frames)``.
    """
    hashes = (
        image_phash(frames, id_col, media_col, method)
        .select("id", "sim_hi", "sim_lo")
        .distinct()
        .localCheckpoint(eager=False)
    )
    if hot_frame_cap is not None:
        hot = (
            hashes.groupBy("sim_hi", "sim_lo")
            .agg(F.count("*").alias("__df"))
            .where(F.col("__df") > hot_frame_cap)
            .select("sim_hi", "sim_lo")
        )
        hashes = hashes.join(F.broadcast(hot), ["sim_hi", "sim_lo"], "left_anti")
    a = hashes.alias("a")
    b = hashes.alias("b")
    return (
        a.join(b, on=["sim_hi", "sim_lo"])
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("shared_frames"))
        .where(F.col("shared_frames") >= min_shared)
    )
