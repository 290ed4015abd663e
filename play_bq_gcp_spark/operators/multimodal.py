"""Multimodal column plumbing (SURVEY.md §2.10).

Images / audio / video are opaque ``binary`` columns plus a typed
metadata struct; compute runs as Arrow-batched ``mapInPandas`` so each
task processes whole record batches without per-row serde.

Audio decode is REAL for 16-bit PCM WAV (stdlib ``wave`` — see
``decode_wav``; stereo downmixed to mono).  Image decode is REAL for
uncompressed BMP (``decode_bmp`` parses the BITMAPFILEHEADER /
BITMAPINFOHEADER container by hand: bottom-up row order, 4-byte row
padding, 8-bit palette and 24-bit BGR pixel formats — no codec
library).  Video decode is REAL for uncompressed AVI (``decode_avi``
walks the RIFF chunk tree and decodes ``00db`` DIB frame chunks).
Compressed video (H.264/...) and compressed BMP remain STUBBED
(``NotImplementedError``) — those codec libraries are not in this
container, and a wrong-but-quiet decode would be worse than a loud
refusal; other image/audio bytes take a deterministic raw fallback
(``decode_image`` / ``decode_audio``).  Everything around the stubs
is real and tested: schema, batching, partition behavior,
deterministic featurization.  Swapping a stub for PIL/pyav is a
one-function change.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from play_bq_gcp_spark.catalog import spread

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("n_chars", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)


def attach_binary(documents: DataFrame) -> DataFrame:
    """Wrap each document as a media record: utf-8 payload bytes + typed
    metadata struct.  (Real pipelines read the bytes from object
    storage; the fixture corpus has no binary column, so text bytes
    stand in — the plumbing is identical.)"""
    return documents.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").cast("long").alias("n_chars"),
        ).alias("meta"),
    )


def encode_bmp(img, bits: int = 8) -> bytes:
    """Encode a 2-D uint8 grayscale array as a genuine BMP container —
    pure stdlib ``struct``, no codec library (the ``encode_wav``
    precedent).  ``bits=8`` writes an indexed image with the identity
    grayscale palette; ``bits=24`` writes BGR triples with R=G=B.
    Rows are stored bottom-up and padded to 4-byte boundaries per the
    format spec, so odd widths exercise the real layout."""
    import struct

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape
    if bits == 8:
        palette = b"".join(
            struct.pack("<BBBB", i, i, i, 0) for i in range(256)
        )
        row_bytes = w
    elif bits == 24:
        palette = b""
        row_bytes = 3 * w
    else:
        raise NotImplementedError(f"bits={bits}: only 8/24-bit BMP")
    pad = (-row_bytes) % 4
    rows = []
    for r in range(h - 1, -1, -1):  # bottom-up storage order
        row = img[r]
        data = row.tobytes() if bits == 8 else np.repeat(row, 3).tobytes()
        rows.append(data + b"\x00" * pad)
    pixels = b"".join(rows)
    offset = 14 + 40 + len(palette)
    file_header = struct.pack(
        "<2sIHHI", b"BM", offset + len(pixels), 0, 0, offset
    )
    info_header = struct.pack(
        "<IiiHHIIiiII",
        40, w, h, 1, bits, 0, len(pixels), 2835, 2835,
        256 if bits == 8 else 0, 0,
    )
    return file_header + info_header + palette + pixels


def decode_bmp(payload: bytes):
    """REAL image decode for uncompressed BMP via hand-parsed headers
    (stdlib ``struct`` only): validates the ``BM`` magic, reads the
    pixel-data offset, dimensions, bit depth and compression mode from
    BITMAPFILEHEADER + BITMAPINFOHEADER, honours bottom-up (positive
    height) vs top-down (negative height) row order and the 4-byte row
    padding, and maps 8-bit palette indices through the palette /
    24-bit BGR triples to grayscale by integer channel mean.  Only
    BI_RGB (uncompressed) 8/24-bit is supported; anything else raises
    rather than silently misdecode — compressed formats (PNG/JPEG)
    genuinely need codec libraries."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload (missing BM magic)")
    (pix_offset,) = struct.unpack_from("<I", payload, 10)
    (hdr_size, w, h, _planes, bits, compression) = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if compression != 0:
        raise NotImplementedError(
            f"BMP compression mode {compression} needs a codec library; "
            "only BI_RGB (uncompressed) is decoded natively"
        )
    if bits not in (8, 24):
        raise NotImplementedError(f"{bits}-bit BMP not supported (8/24 only)")
    top_down = h < 0
    h = abs(h)
    row_bytes = w if bits == 8 else 3 * w
    stride = row_bytes + ((-row_bytes) % 4)
    raw = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=pix_offset
    ).reshape(h, stride)[:, :row_bytes]
    if not top_down:
        raw = raw[::-1]
    if bits == 8:
        palette = np.frombuffer(
            payload, dtype=np.uint8, count=1024, offset=14 + hdr_size
        ).reshape(256, 4)
        gray = (
            palette[:, :3].astype(np.uint16).sum(axis=1) // 3
        ).astype(np.uint8)
        return gray[raw]
    trip = raw.reshape(h, w, 3).astype(np.uint16)
    return (trip.sum(axis=2) // 3).astype(np.uint8)


def encode_avi(frames, fps: int = 10) -> bytes:
    """Encode a stack of 2-D uint8 grayscale frames as a genuine
    uncompressed AVI (RIFF) container — pure stdlib ``struct``:
    ``hdrl`` list with MainAVIHeader + one ``vids/DIB `` stream
    (AVIStreamHeader + BITMAPINFOHEADER), then a ``movi`` list of
    ``00db`` frame chunks holding bottom-up 24-bit BGR DIB rows padded
    to 4 bytes (the BMP pixel layout, per the DIB spec)."""
    import struct

    import numpy as np

    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w = frames[0].shape
    row_bytes = 3 * w
    pad = (-row_bytes) % 4
    frame_size = (row_bytes + pad) * h

    def dib(img) -> bytes:
        rows = []
        for r in range(h - 1, -1, -1):  # bottom-up, like BMP
            rows.append(np.repeat(img[r], 3).tobytes() + b"\x00" * pad)
        return b"".join(rows)

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) % 2 else b""
        )

    def lst(fourcc: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", fourcc + body)

    avih = struct.pack(
        "<14I",
        1_000_000 // fps,          # us per frame
        frame_size * fps,          # max bytes/sec
        0, 0,
        len(frames),               # total frames
        0, 1, frame_size, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", b"DIB ", 0, 0, 0, 0,
        1, fps,                    # scale, rate → fps
        0, len(frames), frame_size, 0, 0xFFFFFFFF,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 2835, 2835, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00db", dib(f)) for f in frames))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi(payload: bytes):
    """REAL video decode for uncompressed AVI via hand-parsed RIFF
    chunks (stdlib ``struct`` only): validates ``RIFF``/``AVI ``,
    walks the chunk tree to the stream-format BITMAPINFOHEADER for
    dimensions/bit depth, then decodes every ``00db`` frame chunk's
    bottom-up padded DIB rows to grayscale (channel mean) — returning
    an (n_frames, h, w) uint8 stack.  Compressed streams (``00dc``
    chunks or non-DIB handlers) raise rather than silently misdecode —
    real video codecs genuinely need external libraries."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload (missing RIFF/AVI magic)")

    w = h = bits = None
    frames = []

    def walk(buf: bytes, off: int, end: int):
        nonlocal w, h, bits
        while off + 8 <= end:
            fourcc = buf[off: off + 4]
            (size,) = struct.unpack_from("<I", buf, off + 4)
            body_start = off + 8
            if fourcc == b"LIST":
                walk(buf, body_start + 4, body_start + size)
            elif fourcc == b"strf" and w is None:
                (_hs, w, h, _planes, bits, comp) = struct.unpack_from(
                    "<IiiHHI", buf, body_start
                )
                if comp != 0 or bits != 24:
                    raise NotImplementedError(
                        "only uncompressed 24-bit DIB AVI streams decode "
                        "natively; compressed video needs codec libraries"
                    )
            elif fourcc == b"00dc":
                raise NotImplementedError(
                    "compressed AVI frame chunks (00dc) need codec libraries"
                )
            elif fourcc == b"00db":
                frames.append((body_start, size))
            off = body_start + size + (size % 2)  # chunks are word-aligned

    walk(payload, 12, len(payload))
    if w is None:
        raise ValueError("AVI stream format (strf) chunk not found")
    row_bytes = 3 * w
    stride = row_bytes + ((-row_bytes) % 4)
    out = []
    for start, size in frames:
        raw = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=start
        ).reshape(h, stride)[:, :row_bytes][::-1]
        trip = raw.reshape(h, w, 3).astype(np.uint16)
        out.append((trip.sum(axis=2) // 3).astype(np.uint8))
    return np.stack(out) if out else np.zeros((0, h, w), dtype=np.uint8)


FEATURE_SCHEMA = "doc_id long, byte_len long, n_chars long, mean_byte double"


def byte_features(media: DataFrame) -> DataFrame:
    """Deterministic byte-level featurization via mapInPandas: byte
    length, metadata passthrough, mean byte value.  This is the exact
    batch shape a real decoder would use (iterator of Arrow batches in,
    iterator out) — only the per-payload function changes."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": payloads.map(len).astype("int64"),
                    "n_chars": pdf["meta"].map(lambda m: m["n_chars"]).astype("int64"),
                    "mean_byte": payloads.map(
                        lambda b: round(sum(b) / len(b), 4) if len(b) else 0.0
                    ),
                }
            )

    # one partition per core → one Python worker per core (a single
    # input file would otherwise funnel every batch through one worker)
    return spread(media).mapInPandas(featurize, FEATURE_SCHEMA)


def fake_decode_gray(payload: bytes):
    """Deterministic stand-in for an image decoder: interpret the
    payload as a square grayscale image of side floor(sqrt(len)).
    Replaced by PIL's ``Image.open`` in a real deployment — the
    downstream resize/feature code is decoder-agnostic."""
    import numpy as np

    side = max(int(len(payload) ** 0.5), 1)
    return np.frombuffer(payload[: side * side], dtype=np.uint8).reshape(
        side, side
    )


def decode_image(payload: bytes):
    """Dispatch: genuine BMP payloads decode for real (``decode_bmp``
    — header parse, bottom-up rows, padding, palette); anything else
    falls back to the deterministic raw-gray interpretation
    (``fake_decode_gray``) so non-image fixture bytes still produce
    stable features.  The ``decode_audio`` twin for images."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    return fake_decode_gray(payload)


THUMB_SCHEMA = "doc_id long, thumb array<double>"


def thumbnail_features(media: DataFrame, out_side: int = 8) -> DataFrame:
    """Decode → resize → flatten, the standard image-embedding front
    half: each payload is decoded (REAL for BMP via ``decode_bmp``,
    deterministic raw-gray fallback otherwise — see ``decode_image``),
    block-averaged down to ``out_side²`` pixels,
    and emitted as an ``array<double>`` feature vector that feeds the
    similarity/dedup stack unchanged (sign-bit LSH buckets, cosine
    verify).  Arrow-batched ``mapInPandas``; per-image work is pure
    numpy, no JVM round-trips inside the batch."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def thumb(b: bytes) -> list[float]:
            img = decode_image(b)
            side = img.shape[0]
            if side < out_side:
                img = np.pad(img, (0, out_side - side), mode="edge")
                side = out_side
            crop = side - side % out_side
            img = img[:crop, :crop].astype(np.float64)
            block = crop // out_side
            pooled = img.reshape(
                out_side, block, out_side, block
            ).mean(axis=(1, 3))
            # floor-tick, not round: block means land on exact .xxxx5
            # decimals (e.g. pixel-sum/64 for block 8) where Python's
            # banker's rounding and SQL's half-away disagree — floor is
            # tie-free, keeping the aHash oracle bit-exact
            return [
                math.floor(float(x) * 10000) / 10000 for x in pooled.ravel()
            ]

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "thumb": pdf["payload"].map(thumb),
                }
            )

    return spread(media).mapInPandas(resize, THUMB_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Plumbing for frame sampling: emits (doc_id, frame_index) rows a
    video decoder would fill — demonstrates fan-out schema/partitioning
    without the codec.  Frame count is faked deterministically from
    payload length (1 frame per 64 bytes)."""
    n_frames = (F.length("payload") / F.lit(64)).cast("int") + 1
    return media.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))).alias(
            "frame_index"
        ),
    )


def fake_decode_pcm(payload: bytes):
    """Deterministic stand-in for a compressed-audio decoder: interpret
    the payload as little-endian int16 PCM samples (torchaudio/pyav's
    ``load`` in a real deployment — the windowed feature code below is
    decoder-agnostic).  Genuine RIFF/WAV payloads take the REAL
    stdlib-``wave`` path (``decode_wav``) via ``decode_audio``."""
    import numpy as np

    usable = len(payload) - (len(payload) % 2)
    return np.frombuffer(payload[:usable], dtype="<i2")


def encode_wav(samples, sample_rate: int = 16000, n_channels: int = 1) -> bytes:
    """Encode int16 samples as a genuine RIFF/WAV container (stdlib
    ``wave`` — no codec libraries needed for PCM WAV).  For stereo,
    ``samples`` is the interleaved frame stream."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes):
    """REAL audio decode for PCM WAV via stdlib ``wave``: parses the
    RIFF container, reads the frames, and downmixes multi-channel audio
    to mono by per-frame channel mean — no external codec library.
    Only 16-bit PCM is supported; other sample widths raise rather than
    silently misdecode."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2:
            raise NotImplementedError(
                f"{8 * w.getsampwidth()}-bit WAV needs a codec library; "
                "only 16-bit PCM is decoded natively"
            )
        x = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
        ch = w.getnchannels()
        if ch > 1:
            x = x.reshape(-1, ch).mean(axis=1).astype("<i2")
        return x


def decode_audio(payload: bytes):
    """Dispatch: genuine RIFF/WAV payloads decode for real
    (``decode_wav``); anything else falls back to the deterministic
    raw-PCM interpretation (``fake_decode_pcm``) so non-audio fixture
    bytes still produce stable features."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    return fake_decode_pcm(payload)


def attach_wav(
    documents: DataFrame,
    sample_rate: int = 16000,
    amplitude_scale: float = 1.0,
) -> DataFrame:
    """Synthesize a genuine RIFF/WAV payload per document so the real
    decoder runs end-to-end on the fixture corpus: samples are the
    utf-8 text bytes recentred to int16 (``(b - 128) << 8``); even
    doc_ids are encoded as 2-channel WAV with identical channels (the
    decoder's downmix must return the same samples), odd doc_ids mono.
    Arrow-batched ``mapInPandas``, stdlib ``wave`` only.
    ``amplitude_scale`` re-levels the waveform (re-normalized duplicate
    ingestion shape for fingerprint dedup tests)."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(doc_id: int, text: str) -> bytes:
            b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
            samples = (b.astype(np.int16) - 128) << 8
            if amplitude_scale != 1.0:
                samples = (samples.astype(np.float64) * amplitude_scale).astype(
                    np.int16
                )
            if doc_id % 2 == 0:
                return encode_wav(np.repeat(samples, 2), sample_rate, 2)
            return encode_wav(samples, sample_rate, 1)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        one(d, t) for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                    "meta": [
                        {"mime": "audio/wav", "n_chars": int(n)}
                        for n in pdf["n_chars"]
                    ],
                }
            )

    return spread(documents.select("doc_id", "text", "n_chars")).mapInPandas(
        synth, MEDIA_SCHEMA
    )


def attach_bmp(documents: DataFrame) -> DataFrame:
    """Synthesize a genuine BMP payload per document so the real image
    decoder runs end-to-end on the fixture corpus (the ``attach_wav``
    precedent): pixels are the utf-8 text bytes arranged as a square
    grayscale image of side floor(sqrt(n)).  Odd doc_ids encode as
    8-bit palette BMP, even as 24-bit BGR with R=G=B — the decoder's
    palette lookup and channel-mean grayscale conversion must return
    identical pixels either way.  Square sides are rarely multiples of
    4, so the genuine row-padding path is exercised on nearly every
    payload.  Arrow-batched ``mapInPandas``, stdlib ``struct`` only."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(doc_id: int, text: str) -> bytes:
            b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
            # isqrt, not **0.5: libm pow is not correctly rounded, and
            # an off-by-one side would silently diverge from the SQL
            # oracle's floor(sqrt(n)) (IEEE sqrt IS correctly rounded)
            side = max(math.isqrt(len(b)), 1)
            img = b[: side * side]
            if len(img) < side * side:  # only for sub-1-pixel payloads
                img = np.pad(img, (0, side * side - len(img)))
            img = img.reshape(side, side)
            return encode_bmp(img, bits=24 if doc_id % 2 == 0 else 8)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        one(d, t) for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                    "meta": [
                        {"mime": "image/bmp", "n_chars": int(n)}
                        for n in pdf["n_chars"]
                    ],
                }
            )

    return spread(documents.select("doc_id", "text", "n_chars")).mapInPandas(
        synth, MEDIA_SCHEMA
    )


def attach_avi(documents: DataFrame, side: int = 8) -> DataFrame:
    """Synthesize a genuine uncompressed AVI payload per document so
    the real video decoder runs end-to-end on the fixture corpus (the
    ``attach_wav``/``attach_bmp`` precedent): consecutive ``side²``
    utf-8 text bytes become one ``side×side`` grayscale frame (text
    shorter than one frame zero-pads; at most 16 frames per doc keeps
    payloads bounded).  Arrow-batched ``mapInPandas``, stdlib
    ``struct`` only."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(text: str) -> bytes:
            b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
            per = side * side
            n = min(max(len(b) // per, 1), 16)
            buf = np.zeros(n * per, dtype=np.uint8)
            buf[: min(len(b), n * per)] = b[: n * per]
            return encode_avi(buf.reshape(n, side, side))

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": pdf["text"].map(one),
                    "meta": [
                        {"mime": "video/avi", "n_chars": int(n)}
                        for n in pdf["n_chars"]
                    ],
                }
            )

    return spread(documents.select("doc_id", "text", "n_chars")).mapInPandas(
        synth, MEDIA_SCHEMA
    )


FRAME_SCHEMA = (
    "doc_id long, frame_index int, n_frames int, "
    "frame_mean double, frame_fp long"
)


def frame_sample(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL video frame sampling: decode the AVI container
    (``decode_avi`` — RIFF chunk walk, DIB rows), keep every
    ``every_n``-th frame, and emit per-frame features: mean intensity
    and a 31-bit rolling fingerprint of the quantized pixels (the
    ``audio_fingerprint`` fold), which equi-joins for frame-level
    dedup.  Arrow-batched ``mapInPandas``; per-clip work is vectorized
    numpy over the decoded frame stack.  The decoder-free plan-shape
    twin (``frame_sample_plan``) stays for payloads without a real
    container."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        rows: dict[str, list] = {
            "doc_id": [], "frame_index": [], "n_frames": [],
            "frame_mean": [], "frame_fp": [],
        }
        for pdf in batches:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                stack = decode_video(bytes(payload))
                n = stack.shape[0]
                for idx in range(0, n, every_n):
                    f = stack[idx]
                    q = (f.astype(np.int64) >> 4).ravel()  # 16-level quant
                    fp = 0
                    for v in q:
                        fp = (fp * 131 + int(v) + 1) % 2147483647
                    rows["doc_id"].append(int(doc_id))
                    rows["frame_index"].append(idx)
                    rows["n_frames"].append(n)
                    # floor-tick, not round: pixel-sum/64 lands on exact
                    # .xxxx5 decimals where Python (banker's) and SQL
                    # (half-away) disagree; floor is tie-free (the 1e-6
                    # centroid convention, at 1e-4 here)
                    rows["frame_mean"].append(
                        math.floor(float(f.mean()) * 10000) / 10000
                    )
                    rows["frame_fp"].append(fp)
        yield pd.DataFrame(rows)

    return spread(media).mapInPandas(feats, FRAME_SCHEMA)


def frame_dup_groups(media: DataFrame, every_n: int = 1) -> DataFrame:
    """Cross-video duplicate-frame groups: frames sharing a
    fingerprint group together — stock intros, repeated title cards,
    re-posted clips.  The video twin of ``audio_dup_groups``: after the
    Python-side decode pays once per clip, dedup is a plain
    fingerprint-key shuffle (8 bytes per frame)."""
    fps = frame_sample(media, every_n=every_n)
    return (
        fps.groupBy("frame_fp")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.concat_ws(
                ",",
                F.sort_array(
                    F.collect_list(
                        F.concat_ws(":", "doc_id", "frame_index")
                    )
                ),
            ).alias("members"),
        )
        .filter(F.col("n_docs") > 1)
    )


def decode_video(payload: bytes):
    """Dispatch: genuine AVI payloads decode for real (``decode_avi``);
    anything else raises — there is no sensible raw interpretation of
    arbitrary bytes as frames (unlike gray images / PCM audio), so the
    fallback is loud, not fake."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return decode_avi(payload)
    raise NotImplementedError(
        "video decode requires an uncompressed AVI container or external "
        "codec libraries"
    )


AUDIO_SCHEMA = (
    "doc_id long, n_samples long, rms array<double>, zcr array<double>"
)


def waveform_features(media: DataFrame, window: int = 256) -> DataFrame:
    """Audio front half: decode (REAL for PCM WAV via stdlib ``wave``,
    deterministic raw-PCM fallback otherwise) → fixed windows →
    per-window RMS energy and zero-crossing rate — the classic cheap
    features a speech-data pipeline gates on (silence stripping,
    clipping detection) before an expensive model runs.  Arrow-batched
    ``mapInPandas``; per-clip work is vectorized numpy (reshape +
    reductions), never per-sample Python."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(b: bytes):
            x = decode_audio(b).astype(np.float64) / 32768.0
            n = len(x)
            usable = n - (n % window)
            if usable == 0:
                return n, [], []
            w = x[:usable].reshape(-1, window)
            rms = np.sqrt((w * w).mean(axis=1))
            sign_flips = (np.diff(np.signbit(w), axis=1) != 0).mean(axis=1)
            return (
                n,
                [round(float(v), 6) for v in rms],
                [round(float(v), 6) for v in sign_flips],
            )

        for pdf in batches:
            trip = pdf["payload"].map(one)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_samples": trip.map(lambda t: t[0]),
                    "rms": trip.map(lambda t: t[1]),
                    "zcr": trip.map(lambda t: t[2]),
                }
            )

    return spread(media).mapInPandas(feats, AUDIO_SCHEMA)


ARROW_PROFILE_SCHEMA = (
    "doc_id long, byte_len long, n_spaces long, n_digits long"
)


def arrow_byte_profile(documents: DataFrame) -> DataFrame:
    """§2.9 ARROW-NATIVE map path (``mapInArrow``): the featurizer
    receives pyarrow RecordBatches and runs vectorized
    ``pyarrow.compute`` kernels — no pandas materialization at all,
    the lowest-overhead Python boundary Spark offers and the right
    shape for byte-level work on multimodal payloads (pandas would
    copy every payload into object cells).  Features chosen to be
    exactly SQL-expressible so the oracle checks the Arrow path
    value-for-value: utf-8 byte length, space count, digit count."""

    def feats(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            text = b.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pc.cast(pc.binary_length(pc.cast(text, pa.binary())), pa.int64()),
                    pc.cast(pc.count_substring(text, " "), pa.int64()),
                    pc.cast(
                        pc.count_substring_regex(text, "[0-9]"), pa.int64()
                    ),
                ],
                names=["doc_id", "byte_len", "n_spaces", "n_digits"],
            )

    return spread(documents.select("doc_id", "text")).mapInArrow(
        feats, ARROW_PROFILE_SCHEMA
    )


FINGERPRINT_SCHEMA = "doc_id long, n_frames int, fp long"


def audio_fingerprint(
    media: DataFrame, frame: int = 128, n_bands: int = 16
) -> DataFrame:
    """Spectral audio fingerprint (Shazam-style constellation idea,
    collapsed to one signature): decode → fixed frames → FFT
    magnitude spectrum → per-frame argmax frequency band → the
    per-frame peak-band sequence folds into a single rolling
    polynomial hash (``fp = fp*131 + peak+1  mod  2^31-1``, a 31-bit
    value — order-sensitive, so clips agree only when their whole
    peak sequences agree).  Identical audio → identical fingerprint; small
    amplitude scaling leaves it unchanged (argmax is scale-invariant),
    so re-encoded/re-normalized duplicate clips equi-join on ``fp``
    exactly — the multimodal twin of digest dedup.

    Arrow ``mapInPandas``; per-clip work is one vectorized
    ``numpy.fft.rfft`` over the framed matrix.  At 100 TB the
    fingerprint column is 8 bytes/clip and the dedup is a plain
    digest-key shuffle.
    """

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(b: bytes):
            x = decode_audio(b).astype(np.float64) / 32768.0
            if len(x) == 0:
                return 0, 0
            if len(x) < frame:  # zero-pad short clips to one frame
                x = np.pad(x, (0, frame - len(x)))
            usable = len(x) - (len(x) % frame)
            w = x[:usable].reshape(-1, frame)
            mag = np.abs(np.fft.rfft(w, axis=1))
            # drop DC, fold the spectrum into n_bands coarse bands
            mag = mag[:, 1 : (mag.shape[1] // n_bands) * n_bands + 1]
            bands = mag.reshape(mag.shape[0], n_bands, -1).sum(axis=2)
            peaks = bands.argmax(axis=1)  # per-frame peak band
            fp = 0
            for pk in peaks:
                fp = (fp * 131 + int(pk) + 1) % 2147483647
            return len(peaks), fp

        for pdf in batches:
            pair = pdf["payload"].map(one)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_frames": pair.map(lambda t: t[0]),
                    "fp": pair.map(lambda t: t[1]),
                }
            )

    return spread(media).mapInPandas(feats, FINGERPRINT_SCHEMA)


def audio_dup_groups(media: DataFrame) -> DataFrame:
    """Exact-fingerprint audio dedup: clips sharing a spectral
    fingerprint group together — one digest-key shuffle, the same
    scale shape as text digest dedup."""
    fps = audio_fingerprint(media)
    return (
        fps.filter(F.col("n_frames") > 0)
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.sort_array(F.collect_list("doc_id")).alias("members"),
        )
        .filter(F.col("n_clips") > 1)
    )


# --- integer-exact spectral fingerprint (oracle twin of the FFT one) ------
#
# The float FFT fingerprint above is rows-only by design (numpy rfft has
# no SQL restatement).  This twin trades resolution for exactness so a
# DuckDB oracle can replay every step: quantized samples, a fixed-point
# DFT basis as INTEGER literals, integer energies, integer argmax.
SPECTRAL_WINDOW = 32   # samples per frame
SPECTRAL_BINS = 8      # DFT bins 1..8 (DC excluded, like the FFT twin)
SPECTRAL_FRAMES = 4    # first 4 full frames fingerprinted
SPECTRAL_TICKS = 10_000

# (i, bin, cos_t, sin_t): the DFT basis quantized to 1e-4 ticks, computed
# ONCE here and embedded as integer literals in BOTH the Spark plan and
# the oracle SQL — neither engine calls cos/sin at query time, so libm
# differences cannot leak in (the psi_feature_drift caveat engineered away).
SPECTRAL_TABLE: list[tuple[int, int, int, int]] = [
    (
        i,
        k,
        round(math.cos(2 * math.pi * k * i / SPECTRAL_WINDOW) * SPECTRAL_TICKS),
        round(math.sin(2 * math.pi * k * i / SPECTRAL_WINDOW) * SPECTRAL_TICKS),
    )
    for k in range(1, SPECTRAL_BINS + 1)
    for i in range(SPECTRAL_WINDOW)
]

SPECTRAL_SAMPLES_SCHEMA = "doc_id long, samples array<long>"


def audio_spectral_exact(media: DataFrame) -> DataFrame:
    """Integer-exact spectral audio fingerprint — the oracle-backed twin
    of ``audio_fingerprint`` (the ``similarity_pq_adc_exact`` precedent
    applied to the audio modality).  Per clip: decode (REAL stdlib-wave
    for RIFF payloads), quantize int16 samples back to the byte-centered
    grid (``x >> 8`` — exact for the synth amplitude), take the first
    ``SPECTRAL_FRAMES`` full 32-sample frames, and for each frame compute
    an 8-bin fixed-point DFT: ``re/im = Σ s_i·table[k][i]`` over the
    integer cos/sin tick tables, energy ``re²+im²`` (max |re| ≤
    128·10⁴·32 ≈ 4.1e7, energy ≤ 3.4e15 — int64-safe in Spark AND DuckDB
    BIGINT).  The per-frame peak bin (ties → lowest bin) folds
    positionally into one fingerprint ``Σ bin_f·17^f`` — order-sensitive
    like the FFT twin's rolling hash, and small enough to stay exact.

    Spark-first shape: Python touches ONLY the decode (Arrow
    ``mapInPandas`` emitting a bounded samples array); the transform is
    a posexplode + broadcast join against the 256-row basis table +
    one partial-aggregated shuffle keyed (doc, frame, bin) + a
    (doc, frame)-partitioned window — every step JVM-side, parallel,
    and linear in clips.  At 100 TB the basis broadcast is constant-size
    and the fingerprint column is 8 bytes/clip, same dedup economics as
    the digest path.

    Returns (doc_id, n_frames_fp, fp_exact, group_size); clips shorter
    than one frame carry no spectral evidence and are excluded (both
    engines agree by construction).
    """
    from pyspark.sql import Window

    win, nfr = SPECTRAL_WINDOW, SPECTRAL_FRAMES

    def samples(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(b: bytes) -> list[int]:
            x = np.asarray(decode_audio(b), dtype=np.int64) >> 8
            usable = min(len(x) - len(x) % win, win * nfr)
            return x[:usable].tolist()

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "samples": pdf["payload"].map(one)}
            )

    decoded = spread(media).mapInPandas(samples, SPECTRAL_SAMPLES_SCHEMA)
    sam = decoded.select(
        "doc_id", F.posexplode("samples").alias("pos", "sv")
    ).select(
        "doc_id",
        F.expr(f"pos div {win}").cast("int").alias("frame"),
        F.expr(f"pos % {win}").cast("int").alias("i"),
        "sv",
    )
    tab = media.sparkSession.createDataFrame(
        SPECTRAL_TABLE, "i int, bin int, cos_t long, sin_t long"
    )
    reim = (
        sam.join(F.broadcast(tab), "i")
        .groupBy("doc_id", "frame", "bin")
        .agg(
            F.sum(F.col("sv") * F.col("cos_t")).alias("re"),
            F.sum(F.col("sv") * F.col("sin_t")).alias("im"),
        )
    )
    energy = F.col("re") * F.col("re") + F.col("im") * F.col("im")
    wpk = Window.partitionBy("doc_id", "frame").orderBy(
        energy.desc(), F.col("bin")
    )
    peaks = (
        reim.withColumn("rn", F.row_number().over(wpk))
        .filter(F.col("rn") == 1)
        .select("doc_id", "frame", "bin")
    )
    # 17 > 2*BINS: positional weights can never alias across frames, and
    # frame counts can't collide either (a k-frame fp < the (k+1)-frame
    # minimum) — still, group on both for self-evidence
    mult = F.element_at(
        F.array(*[F.lit(17**f) for f in range(nfr)]), F.col("frame") + 1
    )
    fp = peaks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames_fp"),
        F.sum(F.col("bin") * mult).cast("long").alias("fp_exact"),
    )
    wg = Window.partitionBy("fp_exact", "n_frames_fp")
    return fp.select(
        "doc_id",
        "n_frames_fp",
        "fp_exact",
        F.count(F.lit(1)).over(wg).cast("long").alias("group_size"),
    ).orderBy("doc_id")


def image_ahash(media: DataFrame) -> DataFrame:
    """64-bit average-hash (aHash) per image: thumbnail to 8x8 (decode
    REAL for BMP payloads — see decode_image), then bit i = block i brighter than
    the thumbnail mean, packed into one long.  Everything after the
    decode is NATIVE Spark HOFs over the thumb array — the perceptual-
    hash step adds zero Python beyond the decoder the thumbnail front
    half already pays for."""
    from play_bq_gcp_spark.operators.text import bind

    t = thumbnail_features(media)  # 64 block means
    row = bind(
        F.col("thumb"),
        lambda th: bind(
            F.aggregate(th, F.lit(0.0), lambda a, x: a + x) / F.size(th),
            lambda mean: bind(
                F.transform(th, lambda x: (x > mean).cast("long")),
                lambda bits: F.struct(
                    *[
                        F.aggregate(
                            F.slice(bits, 16 * j + 1, 16),
                            F.lit(0).cast("long"),
                            lambda acc, b: acc * 2 + b,
                        ).alias(f"k{j}")
                        for j in range(4)
                    ]
                ),
            ),
        ),
    )
    # four 16-bit band keys, never one 64-bit value: bit 63 would
    # overflow signed long under ANSI, and the bands are what the
    # near-dup join keys on anyway (the simhash-oracle packing trick)
    return t.select("doc_id", F.explode(F.array(row)).alias("h")).select(
        "doc_id", "h.k0", "h.k1", "h.k2", "h.k3"
    )


def image_near_dup_pairs(media: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Perceptual image near-dup pairs: 4x16-bit band equi-join over
    the aHash (docs sharing any band are compared — never all-pairs),
    survivors kept at Hamming <= max_hamming.  Same scale shape as the
    text SimHash pipeline: one band-key shuffle, candidates only."""
    h = image_ahash(media)
    banded = h.select(
        "doc_id",
        "k0",
        "k1",
        "k2",
        "k3",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.col(f"k{i}").alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id", "k0", "k1", "k2", "k3",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.k{j}").alias(f"a{j}") for j in range(4)],
            *[F.col(f"b.k{j}").alias(f"b{j}") for j in range(4)],
        )
        .distinct()
    )
    # the bands partition the 64 bits, so summed per-band bit_count IS
    # the full-hash hamming
    hamming = sum(
        F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"b{j}")))
        for j in range(4)
    )
    return cand.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)
