"""Multimodal column plumbing: media spans as opaque binary + typed
metadata, processed in Arrow batches via ``mapInPandas``.

The image/audio/video codec libraries are not in this container, so the
decode kernels are STUBBED behind ``_decode_stub`` (deterministic fake
derived from the bytes) — the Spark-side plumbing (schema, batching,
partition sizing) is real and tested.  Swapping in Pillow/librosa/ffmpeg
is a one-function change per kind.

Scale design:
* media bytes travel as a ``binary`` column — Arrow transfers them
  zero-copy into pandas; never base64 through Python strings;
* feature extraction is per-partition batch iteration (``mapInPandas``),
  so decoder state (model weights, codec contexts) initializes once per
  partition, not per row;
* oversized media rows are the skew case: repartition by a salted key
  first (``repartition_for_media``) so one partition doesn't own all the
  video bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hashio_spark.functions.digests import md5_new

MEDIA_FEATURE_SCHEMA = (
    "doc_id string, media_ref string, media_kind string, n_bytes long, "
    "content_digest string, width int, height int, duration_ms int"
)


def _decode_stub(kind: str, data: bytes) -> dict:
    """Deterministic fake decoder: real decoders raise NotImplementedError
    until codec libs are installed; the fake derives plausible metadata
    from a digest of the bytes so pipelines and tests are exercisable."""
    h = md5_new(data or b"").digest()
    if kind == "image":
        return {"width": 64 + h[0] * 8, "height": 64 + h[1] * 8, "duration_ms": None}
    if kind in ("audio", "video"):
        return {"width": (64 + h[0] * 8) if kind == "video" else None,
                "height": (64 + h[1] * 8) if kind == "video" else None,
                "duration_ms": 1000 + int.from_bytes(h[2:4], "big")}
    raise NotImplementedError(f"no decoder for kind={kind}")


def extract_media_features(media: DataFrame) -> DataFrame:
    """(doc_id, media_ref, media_kind, content binary) →
    MEDIA_FEATURE_SCHEMA rows, Arrow-batched."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_ref": pdf["media_ref"],
                "media_kind": pdf["media_kind"],
                "n_bytes": pdf["content"].map(lambda b: len(b) if b is not None else 0).astype("int64"),
                "content_digest": pdf["content"].map(lambda b: md5_new(b or b"").hexdigest()),
            })
            feats = [
                _decode_stub(k, b if b is not None else b"")
                for k, b in zip(pdf["media_kind"], pdf["content"])
            ]
            out["width"] = pd.array([f["width"] for f in feats], dtype="Int32")
            out["height"] = pd.array([f["height"] for f in feats], dtype="Int32")
            out["duration_ms"] = pd.array([f["duration_ms"] for f in feats], dtype="Int32")
            yield out

    return media.mapInPandas(op, schema=MEDIA_FEATURE_SCHEMA)


def repartition_for_media(
    media: DataFrame,
    partitions: int,
    key_col: str = "media_ref",
    salt_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Salted repartition so byte-heavy rows spread evenly regardless of
    key skew (hot asset referenced by millions of docs).

    The salt is CONTENT-derived (``xxhash64(key, *salt_cols)``), never
    ``F.rand``: a position-dependent salt re-routes rows when a map task
    is recomputed after executor loss, so reducers that already fetched
    the original shuffle output see rows duplicated or lost — the
    SPARK-23207 hazard that :func:`constraints.salted_join` documents and
    avoids the same way.  ``salt_cols`` must identify rows within a hot
    key (default ``doc_id``: many docs referencing one asset spread over
    the hash of the pair, while re-computation always routes a given row
    to the same partition)."""
    cols = [F.col(key_col)] + [F.col(c) for c in salt_cols]
    return media.repartition(partitions, F.xxhash64(*cols))


def synth_media_table(spark, n: int = 1000, seed: int = 42) -> DataFrame:
    """Deterministic fake media rows (binary payload derived from id) for
    tests/benches — stands in for the real object-store fetch."""
    return spark.range(n).select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("doc_id"),
        F.concat(F.lit("asset-"), F.col("id").cast("string")).alias("media_ref"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(3)) + 1).cast("int"),
        ).alias("media_kind"),
        F.encode(
            F.concat(F.lit("media-bytes-"), F.sha2(F.concat(F.col("id").cast("string"), F.lit(seed)), 256)),
            "utf-8",
        ).alias("content"),
    )


FRAME_SCHEMA = (
    "doc_id string, media_ref string, frame_idx int, frame_ts_ms int, "
    "frame_digest string, width int, height int"
)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video rows → ``n_frames`` evenly-spaced frame rows (frame-sampling
    plumbing; the actual frame grab is the stubbed decode — swap in
    ffmpeg/PyAV inside the loop).  Non-video rows are dropped.  One input
    batch yields n_frames× rows, still Arrow-batched — never per-row
    Python round trips."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["media_kind"] == "video"]
            if not len(pdf):
                continue
            rows = []
            for doc_id, ref, data in zip(pdf["doc_id"], pdf["media_ref"], pdf["content"]):
                data = data if data is not None else b""
                meta = _decode_stub("video", data)
                dur = meta["duration_ms"]
                for i in range(n_frames):
                    ts = (dur * i) // n_frames
                    # stub "frame grab": digest of (bytes, frame index) —
                    # deterministic stand-in for the decoded frame tensor
                    fd = md5_new(data + i.to_bytes(4, "big")).hexdigest()
                    rows.append((doc_id, ref, i, ts, fd, meta["width"], meta["height"]))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "media_ref", "frame_idx", "frame_ts_ms",
                         "frame_digest", "width", "height"],
            )

    return media.mapInPandas(op, schema=FRAME_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id string, media_ref string, width int, height int, "
    "resized_width int, resized_height int, resized_digest string"
)


def resize_images(media: DataFrame, max_side: int = 256) -> DataFrame:
    """Image rows → resize-plan rows (aspect-preserving fit into
    ``max_side``); the pixel work is the stubbed decode — swap in Pillow
    (``Image.open(BytesIO(b)).thumbnail(...)``) inside the loop.
    Non-image rows are dropped."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["media_kind"] == "image"]
            if not len(pdf):
                continue
            rows = []
            for doc_id, ref, data in zip(pdf["doc_id"], pdf["media_ref"], pdf["content"]):
                data = data if data is not None else b""
                meta = _decode_stub("image", data)
                w, h = meta["width"], meta["height"]
                scale = min(1.0, max_side / max(w, h))
                rw, rh = max(1, int(w * scale)), max(1, int(h * scale))
                rd = md5_new(data + f"|{rw}x{rh}".encode()).hexdigest()
                rows.append((doc_id, ref, w, h, rw, rh, rd))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "media_ref", "width", "height",
                         "resized_width", "resized_height", "resized_digest"],
            )

    return media.mapInPandas(op, schema=RESIZE_SCHEMA)
