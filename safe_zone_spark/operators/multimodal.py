"""Multimodal (image/audio/video) column operators.

Media rides in DataFrames as opaque ``binary`` columns plus typed metadata
structs — the pattern for 100 TB multimodal corpora: Spark moves/partitions
the bytes, Arrow batches them into Python, and a vectorized UDF does the
media work. The decode step itself is STUBBED in this sandbox (no
PIL/ffmpeg/soundfile in the container): ``decode_image`` raises
``NotImplementedError`` unless ``fake=True``, which substitutes a
deterministic fake decoder (content-addressed pseudo-pixels) so the entire
Spark-side contract — schema, batch shape, partitioning, null handling —
is real and tested end-to-end.

Operators:
* ``media_metadata``   — parse the typed header (deterministic, real)
* ``image_features``   — decode → per-channel mean/std + phash-style bits
* ``image_resize``     — decode → resize → re-encode (byte budgets hold)
* ``frame_sample``     — video → every k-th frame as rows (explode shape)

Scale notes: media rows are large and skew by source; partition by
``xxhash64(media_id)`` ahead of the UDF stage (plans.salted_repartition),
cap ``spark.sql.execution.arrow.maxRecordsPerBatch`` low (e.g. 64) so a
batch of 10 MB blobs fits executor memory, and never collect() blobs.
"""

from __future__ import annotations

import hashlib
import math
import struct
from typing import Iterator

import numpy as np
import pandas as pd

# --- deterministic synthetic media (tests/bench; stands in for real blobs) --

MAGIC = b"SZMM"  # fake container: MAGIC | kind(1) | w(u16) | h(u16) | frames(u16)


def make_fake_media(kind: str, width: int, height: int, frames: int, seed: int) -> bytes:
    """Deterministic fake media blob with a parseable typed header."""
    kind_b = {"image": 0, "audio": 1, "video": 2}[kind].to_bytes(1, "big")
    header = MAGIC + kind_b + struct.pack(">HHH", width, height, frames)
    body = hashlib.sha256(f"{kind}:{width}:{height}:{frames}:{seed}".encode()).digest()
    body = (body * ((width * height * 3 // len(body)) + 1))[: width * height * 3]
    return header + body


def parse_header(blob: bytes) -> dict | None:
    if blob is None or len(blob) < 11 or blob[:4] != MAGIC:
        return None
    kind = {0: "image", 1: "audio", 2: "video"}.get(blob[4])
    w, h, fr = struct.unpack(">HHH", blob[5:11])
    return {"kind": kind, "width": w, "height": h, "frames": fr, "n_bytes": len(blob)}


def _find_real_decoder():
    """Optional-dependency codec probe, done ONCE at import: PIL first
    (RGB-native), cv2 as fallback (BGR→RGB flip). Returns a
    blob → HxWx3 uint8 callable, or None when neither is importable."""
    try:
        import io

        from PIL import Image

        def _pil(blob: bytes) -> np.ndarray:
            try:
                return np.asarray(Image.open(io.BytesIO(blob)).convert("RGB"),
                                  dtype=np.uint8)
            except Exception as e:  # UnidentifiedImageError/OSError/TypeError
                # normalize to ValueError: the feature/resize operators
                # catch exactly (NotImplementedError, ValueError) to emit a
                # null row — one corrupt blob must not abort the job
                raise ValueError(f"undecodable image blob: {e}") from e

        return _pil
    except ImportError:
        pass
    try:
        import cv2

        def _cv2(blob: bytes) -> np.ndarray:
            arr = cv2.imdecode(np.frombuffer(blob, np.uint8), cv2.IMREAD_COLOR)
            if arr is None:
                raise ValueError("undecodable image blob")
            return arr[:, :, ::-1].copy()  # BGR → RGB

        return _cv2
    except ImportError:
        return None


_REAL_DECODER = _find_real_decoder()


def decode_image(blob: bytes, *, fake: bool = False) -> np.ndarray:
    """blob → HxWx3 uint8 array. Decode selection:

    1. SZMM container (or ``fake=True``) → the deterministic fake decoder —
       content-addressed pseudo-pixels, so equal blobs → equal pixels; the
       oracle queries pin exactly this path.
    2. Anything else → a real codec when PIL or cv2 is importable
       (``_find_real_decoder``; exercised by the skip-marked PNG roundtrip
       test in tests/test_multimodal.py on dependency-equipped boxes).
    3. No codec available → NotImplementedError (this sandbox ships
       neither PIL nor cv2)."""
    if blob is None:
        raise ValueError("null media blob")
    if fake or blob[:4] == MAGIC:
        meta = parse_header(blob)
        if meta is None:
            raise ValueError("not a SZMM blob")
        w, h = meta["width"], meta["height"]
        body = np.frombuffer(blob[11:], dtype=np.uint8)
        need = w * h * 3
        body = np.resize(body, need)
        return body.reshape(h, w, 3)
    if _REAL_DECODER is None:
        raise NotImplementedError(
            "real image decode requires PIL or cv2 (neither importable in "
            "this sandbox); SZMM container blobs decode deterministically"
        )
    return _REAL_DECODER(blob)


def fake_media(docs, limit: int, kind: str | None = None):
    """(media_id long, blob binary): one deterministic fake blob per
    ``doc_id < limit`` — the shared input of the multimodal driver queries.
    ``kind=None`` cycles video (every 3rd id) and image; the dimensions and
    the digest seed follow the same per-id recipe as ``fake_media_cte``."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            blobs = [
                make_fake_media(
                    kind or ("video" if i % 3 == 0 else "image"),
                    16 + (i % 4) * 16, 16 + (i % 3) * 16, 1 + (i % 5) * 2, seed=i,
                )
                for i in ids
            ]
            yield pd.DataFrame({"media_id": ids, "blob": blobs})

    ids = docs.filter(docs["doc_id"] < limit).select("doc_id")
    return ids.mapInPandas(gen, "media_id long, blob binary")


# --- DuckDB twins: rebuild each fake blob's spec and digest per id ----------


def fake_media_cte(limit: int, kind: str | None = None) -> str:
    """``media`` CTE (no leading WITH): the SQL side of ``fake_media`` —
    per id its (kind, w, hh, fr) and ``dh``, the lowercase hex sha256 digest
    that ``make_fake_media`` repeats as the blob body."""
    kind_sql = (f"'{kind}'" if kind
                else "CASE WHEN doc_id % 3 = 0 THEN 'video' ELSE 'image' END")
    return f"""media AS (
  SELECT *,
         sha256(kind || ':' || w || ':' || hh || ':' || fr || ':' || media_id) AS dh
  FROM (SELECT doc_id AS media_id, {kind_sql} AS kind,
               16 + (doc_id % 4) * 16 AS w,
               16 + (doc_id % 3) * 16 AS hh,
               1 + (doc_id % 5) * 2 AS fr
        FROM documents WHERE doc_id < {limit})
)"""


def _hex_sql(s: str, pos: str, ndigits: int = 2) -> str:
    """SQL expr: the unsigned value of the ``ndigits`` lowercase hex digits
    of ``s`` starting at 1-based character expr ``pos``."""
    terms = [
        f"(strpos('0123456789abcdef', substr({s}, CAST({pos} + {i} AS INT), 1)) - 1)"
        f" * {16 ** (ndigits - 1 - i)}"
        for i in range(ndigits)
    ]
    return "(" + " + ".join(terms) + ")"


def _digest_byte_sql(offset: str) -> str:
    """SQL expr: body byte at 0-based ``offset`` — the digest repeats, so
    it is digest byte ``offset % 32``."""
    return _hex_sql("dh", f"((({offset}) % 32) * 2 + 1)")


def media_metadata_oracle_sql(limit: int) -> str:
    """DuckDB twin of (fake-media generation →) ``media_metadata``.

    Builds a BLOB to the same SZMM spec from each id — MAGIC | kind(1) |
    w,h,frames as big-endian u16 | body of w*h*3 bytes — then parses the
    header back out of ``hex(blob)`` with explicit base-16 arithmetic (DuckDB
    has no BLOB substring). The body is zeros: metadata reads only lengths,
    so content-free padding keeps the construction honest without repeating
    the sha256 chain.
    """
    return f"""
WITH {fake_media_cte(limit)},
blobs AS (
  SELECT media_id,
    from_hex('535A4D4D'
             || lpad(hex(CASE kind WHEN 'image' THEN 0 WHEN 'audio' THEN 1 ELSE 2 END), 2, '0')
             || lpad(hex(w), 4, '0') || lpad(hex(hh), 4, '0') || lpad(hex(fr), 4, '0')
             || repeat('00', w * hh * 3)) AS blob
  FROM media
),
parsed AS (
  SELECT media_id, lower(hex(blob)) AS h, octet_length(blob) AS n_bytes FROM blobs
)
SELECT media_id,
  CASE WHEN substr(h, 1, 8) <> '535a4d4d' THEN NULL
       WHEN {_hex_sql("h", "9")} = 0 THEN 'image'
       WHEN {_hex_sql("h", "9")} = 1 THEN 'audio'
       WHEN {_hex_sql("h", "9")} = 2 THEN 'video' END AS kind,
  CAST({_hex_sql("h", "11", 4)} AS INT) AS width,
  CAST({_hex_sql("h", "15", 4)} AS INT) AS height,
  CAST({_hex_sql("h", "19", 4)} AS INT) AS frames,
  n_bytes
FROM parsed
"""


def frame_sample_oracle_sql(limit: int, every_k: int) -> str:
    """DuckDB twin of ``frame_sample``: frame offsets are header arithmetic."""
    return f"""
WITH {fake_media_cte(limit)}
SELECT media_id,
  CAST(i AS INT) AS frame_idx,
  CAST(11 + i * (w * hh * 3) AS BIGINT) AS frame_offset_bytes
FROM (SELECT media_id, w, hh, unnest(range(0, fr, {every_k})) AS i
      FROM media WHERE kind = 'video')
"""


def audio_features_oracle_sql(limit: int) -> str:
    """DuckDB twin of ``audio_features`` over ``fake_media(kind='audio')``:
    every sample is a digest byte − 128."""
    return f"""
WITH {fake_media_cte(limit, "audio")},
vals AS (
  SELECT media_id, n, j, {_digest_byte_sql("j")} - 128 AS s
  FROM (SELECT media_id, w * hh * 3 AS n, dh, unnest(range(0, w * hh * 3)) AS j
        FROM media)
),
seq AS (
  SELECT *, lead(s) OVER (PARTITION BY media_id ORDER BY j) AS s2 FROM vals
)
SELECT media_id,
  CAST(any_value(n) AS BIGINT) AS n_samples,
  round(sqrt(avg(CAST(s AS DOUBLE) * s)), 4) AS rms,
  CAST(count(*) FILTER (s2 IS NOT NULL AND (s < 0) <> (s2 < 0)) AS BIGINT)
    AS zero_crossings
FROM seq GROUP BY media_id
"""


def image_resize_oracle_sql(limit: int, out_w: int, out_h: int) -> str:
    """DuckDB twin of ``image_resize`` emitted as lowercase hex: the
    nearest-neighbor gather is ys/xs index arithmetic over the digest, so
    the whole re-encoded blob is rebuilt byte for byte."""
    # output byte o: row o // (3 * out_w), column (o // 3) % out_w, channel o % 3
    src = (f"((((o // {3 * out_w}) * hh // {out_h}) * w"
           f" + (((o // 3) % {out_w}) * w // {out_w})) * 3 + o % 3)")
    header = MAGIC.hex() + f"00{out_w:04x}{out_h:04x}0001"
    return f"""
WITH {fake_media_cte(limit)},
body AS (
  SELECT media_id,
    string_agg(substr(dh, CAST(({src} % 32) * 2 + 1 AS INT), 2), '' ORDER BY o)
      AS hex_body
  FROM (SELECT media_id, w, hh, dh, unnest(range(0, {3 * out_w * out_h})) AS o
        FROM media)
  GROUP BY media_id
)
SELECT media_id, '{header}' || hex_body AS out_hex FROM body
"""


def image_features_oracle_sql(limit: int) -> str:
    """DuckDB twin of ``image_features`` (channel means + ahash): channel
    means relationally, and the ahash bits via the integer-exact
    64*gray3_i > sum(gray3) rule (no float rounding in the threshold)."""
    # sampled pixel index for ahash cell i: r=i//8, c=i%8
    p_i = "(((i // 8) * hh // 8) * w + ((i % 8) * w // 8))"
    g3 = " + ".join(_digest_byte_sql(f"3 * {p_i} + {c}") for c in range(3))
    bit = "CASE WHEN 64 * gs[4 * j + k + 1] > total THEN 1 ELSE 0 END"
    return f"""
WITH {fake_media_cte(limit)},
chan AS (
  SELECT media_id,
    round(avg({_digest_byte_sql("3 * p")}), 4) AS r_mean,
    round(avg({_digest_byte_sql("3 * p + 1")}), 4) AS g_mean,
    round(avg({_digest_byte_sql("3 * p + 2")}), 4) AS b_mean
  FROM (SELECT media_id, dh, unnest(range(0, w * hh)) AS p FROM media)
  GROUP BY media_id
),
grays AS (
  SELECT media_id,
         list_transform(range(0, 64), i -> {g3}) AS gs
  FROM media
),
hashes AS (
  SELECT media_id,
    string_agg(substr('0123456789abcdef', 1 + (
      {bit.replace("k", "0")} * 8 + {bit.replace("k", "1")} * 4
      + {bit.replace("k", "2")} * 2 + {bit.replace("k", "3")}), 1),
      '' ORDER BY j) AS ahash
  FROM (SELECT media_id, gs, list_sum(gs) AS total, unnest(range(0, 16)) AS j
        FROM grays)
  GROUP BY media_id
)
SELECT c.media_id, c.r_mean, c.g_mean, c.b_mean, h.ahash
FROM chan c JOIN hashes h USING (media_id)
"""


# --- operators ---------------------------------------------------------------

_META_SCHEMA = (
    "kind string, width int, height int, frames int, n_bytes long"
)


def media_metadata(df, *, blob_col: str = "blob", id_col: str = "media_id"):
    """(id, meta struct) — typed header parse, vectorized batch pass."""
    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [parse_header(b) for b in pdf[blob_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "kind": [m and m["kind"] for m in metas],
                    "width": [m and m["width"] for m in metas],
                    "height": [m and m["height"] for m in metas],
                    "frames": [m and m["frames"] for m in metas],
                    "n_bytes": [m and m["n_bytes"] for m in metas],
                }
            )

    return df.mapInPandas(run, f"{id_col} {id_type}, {_META_SCHEMA}")


def image_features(df, *, blob_col: str = "blob", id_col: str = "media_id",
                   fake_decode: bool = True):
    """(id, mean_rgb array<double>, std_rgb array<double>, ahash string).

    ahash = 64-bit average-hash over the 8x8 downsample of the gray image —
    the image twin of SimHash for near-dup detection.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, mean_rgb array<double>, std_rgb array<double>, ahash string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, means, stds, hashes = [], [], [], []
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                try:
                    img = decode_image(blob, fake=fake_decode)
                except (NotImplementedError, ValueError):
                    ids.append(mid); means.append(None); stds.append(None); hashes.append(None)
                    continue
                f = img.astype(np.float64)
                # 3*gray as int64: "pixel gray > mean gray" becomes the
                # EXACT integer test 64*g3_i > Σg3 — no float rounding, so
                # the SQL referee reproduces every bit
                gray3 = img.astype(np.int64).sum(axis=2)
                h, w = gray3.shape
                ys = (np.arange(8) * h // 8)
                xs = (np.arange(8) * w // 8)
                small3 = gray3[np.ix_(ys, xs)]
                bits = (64 * small3 > small3.sum()).flatten()
                # packbits(bitorder='big') == the (val<<1)|bit fold
                val = int.from_bytes(np.packbits(bits).tobytes(), "big")
                ids.append(mid)
                # half-AWAY rounding (positive values): power-of-two pixel
                # counts make exact .xxxx5 means common, and numpy's
                # banker's rounding would diverge from the SQL referee
                r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4
                means.append([r4(x) for x in f.mean(axis=(0, 1))])
                stds.append([r4(x) for x in f.std(axis=(0, 1))])
                hashes.append(format(val, "016x"))
            yield pd.DataFrame(
                {id_col: ids, "mean_rgb": means, "std_rgb": stds, "ahash": hashes}
            )

    return df.mapInPandas(run, schema)


def image_resize(df, *, out_w: int, out_h: int, blob_col: str = "blob",
                 id_col: str = "media_id", fake_decode: bool = True):
    """(id, blob) with each image resized (nearest-neighbor) and re-encoded
    into the same container — byte sizes shrink deterministically."""
    id_type = df.schema[id_col].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for blob in pdf[blob_col]:
                try:
                    img = decode_image(blob, fake=fake_decode)
                except (NotImplementedError, ValueError):
                    out.append(None)
                    continue
                h, w, _ = img.shape
                ys = (np.arange(out_h) * h // out_h)
                xs = (np.arange(out_w) * w // out_w)
                resized = img[np.ix_(ys, xs)]
                header = MAGIC + b"\x00" + struct.pack(">HHH", out_w, out_h, 1)
                out.append(header + resized.tobytes())
            yield pd.DataFrame({id_col: pdf[id_col], blob_col: out})

    return df.mapInPandas(run, f"{id_col} {id_type}, {blob_col} binary")


def frame_sample(df, *, every_k: int, blob_col: str = "blob",
                 id_col: str = "media_id"):
    """video blob → one row per sampled frame index: (id, frame_idx,
    frame_offset_bytes). Frame extraction itself is part of the stubbed
    decode; the row-explosion shape (1 video row → N frame rows) is the
    real contract a video pipeline needs."""
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, frame_idx int, frame_offset_bytes long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs = [], [], []
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                meta = parse_header(blob)
                if meta is None or meta["kind"] != "video":
                    continue
                frame_bytes = meta["width"] * meta["height"] * 3
                for i in range(0, meta["frames"], every_k):
                    ids.append(mid)
                    idxs.append(i)
                    offs.append(11 + i * frame_bytes)
            yield pd.DataFrame(
                {id_col: ids,
                 "frame_idx": pd.array(idxs, dtype="int32"),
                 "frame_offset_bytes": pd.array(offs, dtype="int64")}
            )

    return df.mapInPandas(run, schema)


def audio_features(df, *, blob_col: str = "blob", id_col: str = "media_id"):
    """(id, n_samples, rms, zero_crossings) for audio blobs.

    The fake container's payload bytes stand in for PCM samples (real
    decode needs soundfile/ffmpeg — see decode_image's gating); the
    numpy feature math (RMS energy, zero-crossing count on the centered
    signal) and the Spark plumbing are the real contract.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, n_samples long, rms double, zero_crossings long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ns, rms, zc = [], [], [], []
            for mid, blob in zip(pdf[id_col], pdf[blob_col]):
                meta = parse_header(blob)
                if meta is None or meta["kind"] != "audio":
                    continue
                sig = np.frombuffer(blob[11:], dtype=np.uint8).astype(np.float64) - 128.0
                ids.append(mid)
                ns.append(len(sig))
                rms.append(round(float(np.sqrt(np.mean(sig**2))), 4) if len(sig) else 0.0)
                zc.append(int(np.sum(np.signbit(sig[:-1]) != np.signbit(sig[1:]))))
            yield pd.DataFrame(
                {id_col: ids,
                 "n_samples": pd.array(ns, dtype="int64"),
                 "rms": pd.array(rms, dtype="float64"),
                 "zero_crossings": pd.array(zc, dtype="int64")}
            )

    return df.mapInPandas(run, schema)
