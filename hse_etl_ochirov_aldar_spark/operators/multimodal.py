"""Multimodal column plumbing (north-star op, BASELINE.json).

Treats image/audio/video payloads as opaque ``binary`` columns with a
typed metadata struct, processed by Arrow-batched ``mapInPandas``
pipelines — the canonical Spark pattern for media feature extraction:

    media table (id, payload binary, meta struct)
      -> mapInPandas(decode_and_extract, schema)   # per-batch Python
      -> typed feature columns (JVM side again)

Decoder status: binary PPM (P6) decode is REAL — numpy-only, no codec
library needed (``decode_ppm``, ``ppm_decoder``), as is 8-bit mono PCM WAV
(``decode_wav``). Codec-library formats dispatch to OPTIONAL extras
(r9): ``decode_image`` runs through the ``pil_decoder`` adapter when
pillow is importable and ``decode_audio`` through ``soundfile_decoder``
when soundfile is — each raises a documented NotImplementedError when
its library is absent (as in this container), and the adapters stay
injectable so contract tests prove the seam with stub modules.
``fake_decode_features`` remains the deterministic plumbing stand-in.

Scale notes: payloads never pass through Python row-by-row; Arrow moves
columnar batches. ``spark.sql.execution.arrow.maxRecordsPerBatch``
bounds batch memory (media payloads are big — set it low, e.g. 64, in
a real deployment). Feature extraction is embarrassingly parallel; no
shuffle until the downstream aggregation.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

MEDIA_FEATURES_SCHEMA = (
    "media_id LONG, kind STRING, n_bytes INT, checksum LONG, "
    "width INT, height INT, duration_s DOUBLE"
)

def _try_import(module: str, attr: str | None = None):
    """Lazy optional-dependency probe (PIL / soundfile are extras, not
    requirements): returns the module (or its attr) if importable in
    THIS environment, else None. Probed at call time, never at import,
    so the package loads identically with or without codecs."""
    import importlib

    try:
        m = importlib.import_module(module)
    except ImportError:
        return None
    return getattr(m, attr) if attr else m


def decode_image(payload: bytes, kind: str = "image") -> dict:
    """Codec-format image decode. When pillow is installed this is a
    REAL decoder (r9 — the gate now dispatches instead of always
    raising): PIL opens the payload, features come from the decoded
    pixels via the same pil_decoder adapter the contract tests inject
    a stub through. Without pillow, raises the documented
    NotImplementedError — use ppm_decoder (real, numpy-only) or
    fake_decode_features for plumbing tests."""
    image_mod = _try_import("PIL.Image")
    if image_mod is None:
        raise NotImplementedError(
            "image decoding for codec formats (JPEG/PNG/...) requires "
            "pillow, not present in this environment; PPM (P6) payloads "
            "decode without it via ppm_decoder, and "
            "fake_decode_features covers plumbing tests"
        )
    return pil_decoder(image_mod)(payload, kind)


def decode_audio(payload: bytes, kind: str = "audio") -> dict:
    """Codec-format audio decode (FLAC/OGG/...). When soundfile is
    installed this is a REAL decoder via the soundfile_decoder adapter;
    8-bit mono PCM WAV decodes without it (wav_decoder, numpy+struct).
    """
    sf_mod = _try_import("soundfile")
    if sf_mod is None:
        raise NotImplementedError(
            "audio decoding for codec formats (FLAC/OGG/...) requires "
            "soundfile, not present in this environment; 8-bit mono PCM "
            "WAV decodes without it via wav_decoder"
        )
    return soundfile_decoder(sf_mod)(payload, kind)


def _ppm_header(payload: bytes) -> tuple[list[bytes], int]:
    """Parse a PPM header: 4 whitespace-separated tokens (magic, width,
    height, maxval) with '#' comments to end-of-line, followed by
    EXACTLY one whitespace byte before pixel data (the Netpbm spec).
    Returns (tokens, pixel_data_offset)."""
    n = len(payload)
    pos = 0
    tokens: list[bytes] = []
    ws = b" \t\r\n"
    while len(tokens) < 4:
        while pos < n and payload[pos] in ws:
            pos += 1
        if pos < n and payload[pos : pos + 1] == b"#":
            while pos < n and payload[pos] not in b"\n":
                pos += 1
            continue
        start = pos
        while pos < n and payload[pos] not in ws:
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        tokens.append(payload[start:pos])
    return tokens, pos + 1  # single whitespace separator


def decode_ppm(payload: bytes):
    """REAL image decode for binary PPM (P6, 8-bit): returns
    (width, height, uint8 ndarray of shape (h, w, 3)). PPM is the one
    raster format decodable with numpy alone — no codec library — so
    this path is fully functional in this container; PIL remains the
    seam for compressed formats (pil_decoder)."""
    import numpy as np

    tokens, off = _ppm_header(payload)
    if tokens[0] != b"P6":
        raise ValueError(f"not a binary PPM (magic {tokens[0]!r})")
    w, h, maxval = int(tokens[1]), int(tokens[2]), int(tokens[3])
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    need = 3 * w * h
    if len(payload) - off < need:
        raise ValueError("truncated PPM pixel data")
    arr = np.frombuffer(payload, dtype=np.uint8, count=need, offset=off)
    return w, h, arr.reshape(h, w, 3)


def ppm_decoder(payload: bytes, kind: str) -> dict:
    """Decoder-contract implementation backed by the REAL PPM parser:
    width/height from the header, checksum = exact pixel-byte sum.
    Drop-in for ``extract_media_features(..., decoder=ppm_decoder)``."""
    w, h, arr = decode_ppm(bytes(payload))
    return {
        "n_bytes": len(payload),
        "checksum": int(arr.sum(dtype="int64")),
        "width": w,
        "height": h,
        "duration_s": None,
    }


def decode_wav(payload: bytes):
    """REAL audio decode for RIFF/WAVE 8-bit mono PCM: walks the chunk
    list (fmt / data, skipping unknown chunks with the odd-size pad
    rule), validates the format words, and returns (sample_rate,
    uint8 sample ndarray). Like PPM, WAV is decodable with numpy +
    struct alone — no codec library."""
    import struct

    import numpy as np

    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    n = len(payload)
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid in (b"fmt ", b"data") and len(body) != size:
            # a truncated chunk would otherwise be silently sliced
            # short -> wrong checksum/duration (decode_ppm's truncated-
            # pixel check is the precedent: corrupt input must raise)
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, channels, sample_rate = struct.unpack("<HHI", fmt[0:8])
    (bits,) = struct.unpack("<H", fmt[14:16])
    if audio_fmt != 1 or channels != 1 or bits != 8:
        raise ValueError("only 8-bit mono PCM supported")
    return sample_rate, np.frombuffer(data, dtype=np.uint8)


def wav_decoder(payload: bytes, kind: str) -> dict:
    """Decoder-contract implementation backed by the REAL WAV parser:
    duration from the sample count and rate, checksum = exact sample
    byte sum."""
    sr, samples = decode_wav(bytes(payload))
    return {
        "n_bytes": len(payload),
        "checksum": int(samples.sum(dtype="int64")),
        "width": None,
        "height": None,
        "duration_s": len(samples) / sr,
    }


_IMAGE_MAGICS = (
    b"\xff\xd8\xff",  # JPEG
    b"\x89PNG",  # PNG
    b"GIF8",  # GIF
    b"BM",  # BMP
)
_AUDIO_MAGICS = (
    b"fLaC",  # FLAC
    b"OggS",  # OGG container
    b"ID3",  # MP3 with ID3 tag
)


def sniff_decoder(payload: bytes, kind: str) -> dict:
    """Production-shaped dispatch: route each payload to the right REAL
    decoder by its magic bytes — one mapInPandas stage handles a
    mixed-modality media table. P6 (PPM) and RIFF (PCM WAV) decode with
    numpy alone; JPEG/PNG/GIF/BMP go through the pillow-backed
    decode_image and FLAC/OGG/MP3 through the soundfile-backed
    decode_audio, each of which raises the documented
    NotImplementedError when its optional codec library is absent."""
    head = bytes(payload[:4])
    if head[:2] == b"P6":
        return ppm_decoder(payload, kind)
    if head == b"RIFF":
        return wav_decoder(payload, kind)
    if any(head.startswith(m[:4]) for m in _IMAGE_MAGICS):
        return decode_image(bytes(payload), kind)
    if any(head.startswith(m[:4]) for m in _AUDIO_MAGICS):
        return decode_audio(bytes(payload), kind)
    return decode_image(bytes(payload), kind)


def pil_decoder(pil_image_module=None):
    """Adapter from a PIL-shaped module (``Image.open(BytesIO)``) to
    the decoder contract ``(payload, kind) -> feature dict``. This is
    the production seam: ``extract_media_features(media,
    decoder=pil_decoder())`` when the environment has pillow. The
    module parameter stays injectable — the contract test drops in a
    stub module, proving a real decoder slots into the same Spark
    plumbing; passing None imports the real PIL.Image or raises
    ImportError with guidance.

    checksum is the exact decoded-pixel byte sum (matches ppm_decoder's
    definition on identical pixels) when the decoded image converts to
    a numpy array; a stub module without array support falls back to 0.
    """
    import io

    if pil_image_module is None:
        pil_image_module = _try_import("PIL.Image")
        if pil_image_module is None:
            raise ImportError(
                "pil_decoder() with no module requires pillow; install "
                "it or inject a PIL-shaped module explicitly"
            )

    def decode(payload: bytes, kind: str) -> dict:
        import numpy as np

        img = pil_image_module.open(io.BytesIO(payload))
        w, h = img.size
        try:
            checksum = int(np.asarray(img, dtype=np.uint8).sum(dtype="int64"))
        except Exception:
            checksum = 0  # stub modules without pixel access
        return {
            "n_bytes": len(payload),
            "checksum": checksum,
            "width": w if kind == "image" else None,
            "height": h if kind == "image" else None,
            "duration_s": None,
        }

    return decode


def soundfile_decoder(soundfile_module=None):
    """Adapter from a soundfile-shaped module (``read(BytesIO) ->
    (samples, samplerate)``) to the decoder contract — the audio twin
    of pil_decoder, same injectable-module convention. duration_s =
    frames / samplerate; checksum = exact int16-sample sum (bit-exact
    across platforms, unlike a float sum)."""
    import io

    if soundfile_module is None:
        soundfile_module = _try_import("soundfile")
        if soundfile_module is None:
            raise ImportError(
                "soundfile_decoder() with no module requires soundfile; "
                "install it or inject a compatible module explicitly"
            )

    def decode(payload: bytes, kind: str) -> dict:
        samples, rate = soundfile_module.read(
            io.BytesIO(bytes(payload)), dtype="int16"
        )
        n = len(samples)
        return {
            "n_bytes": len(payload),
            "checksum": int(samples.sum(dtype="int64")),
            "width": None,
            "height": None,
            "duration_s": n / rate if rate else None,
        }

    return decode


def fake_decode_features(payload: bytes, kind: str) -> dict:
    """Deterministic stand-in for decode+feature-extract: derives
    pseudo width/height/duration from a byte checksum. Same signature
    and output schema as a real decoder would produce."""
    checksum = 0
    for b in payload:
        checksum = (checksum * 131 + b) % 1_000_000_007
    return {
        "n_bytes": len(payload),
        "checksum": checksum,
        "width": 16 + checksum % 1024 if kind == "image" else None,
        "height": 16 + (checksum // 7) % 1024 if kind == "image" else None,
        "duration_s": round((checksum % 36000) / 100.0, 2) if kind in ("audio", "video") else None,
    }


def extract_media_features(media: DataFrame, decoder=None) -> DataFrame:
    """mapInPandas pipeline over (media_id, kind, payload) -> features.

    The per-batch function works on pandas DataFrames (Arrow transfer);
    output conforms to MEDIA_FEATURES_SCHEMA so downstream stays typed
    and JVM-side.

    ``decoder`` is the swappable seam: any picklable
    ``(payload, kind) -> dict`` with keys n_bytes/checksum/width/
    height/duration_s (see ``pil_decoder`` for the PIL adapter).
    Defaults to the deterministic ``fake_decode_features`` stand-in.
    """
    decode = decoder or fake_decode_features

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode(p, k)
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "kind": pdf["kind"],
                    "n_bytes": [f["n_bytes"] for f in feats],
                    "checksum": [f["checksum"] for f in feats],
                    "width": pd.array([f["width"] for f in feats], dtype="Int32"),
                    "height": pd.array([f["height"] for f in feats], dtype="Int32"),
                    "duration_s": pd.array(
                        [f["duration_s"] for f in feats], dtype="float64"
                    ),
                }
            )
            yield out

    return media.mapInPandas(process, MEDIA_FEATURES_SCHEMA)
