"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
metadata struct. The Spark-side machinery — schema, batch iteration,
partition-friendly mapInArrow shape, validation rules on metadata — is real
and tested; the actual codec step is stubbed (decode libs are not in this
container) behind ``FakeCodec`` (deterministic) or ``NotImplementedError``.

At scale the pattern is: store payloads in the table (or object-store
pointers), run ``mapInPandas``/``mapInArrow`` feature extraction with
Arrow-batched transfer, and keep per-batch memory bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id string, payload binary, media_type string, "
    "declared_width int, declared_height int"
)

FEATURE_SCHEMA = (
    "media_id string, ok boolean, actual_width int, actual_height int, "
    "feature_hash string"
)


class FakeCodec:
    """Deterministic stand-in for an image decoder.

    Decodes a payload of the synthetic form ``b"IMG:<w>x<h>:<data>"``;
    anything else is a decode failure — giving the validation path a real
    corrupted-payload case to exercise (the analog of the reference's
    corrupted-image goldens, /root/reference/tests/test_image.py:33-48)."""

    @staticmethod
    def decode(payload: bytes) -> tuple[int, int] | None:
        if payload is None or not payload.startswith(b"IMG:"):
            return None
        try:
            dims = payload.split(b":", 2)[1]
            w, h = dims.split(b"x")
            return int(w), int(h)
        except (ValueError, IndexError):
            return None

    @staticmethod
    def resize(payload: bytes, width: int, height: int) -> bytes | None:
        """Synthetic resize: re-emit the container with target dims and a
        deterministic md5-derived body (what the DuckDB oracle replays)."""
        if FakeCodec.decode(payload) is None:
            return None
        data = hashlib.md5(payload).hexdigest().encode()
        return b"IMG:%dx%d:%s" % (width, height, data)


class PillowCodec:  # pragma: no cover - Pillow is absent in this sandbox
    """Real image codec, used automatically when Pillow is importable
    (`default_codec()`); same interface as FakeCodec. Mirrors the
    reference's decode-to-validate behavior
    (/root/reference/fs_schema_validator/schemas/image.py:38-74: open the
    payload with PIL, treat any decode error as invalid)."""

    @staticmethod
    def decode(payload: bytes) -> tuple[int, int] | None:
        if payload is None:
            return None
        import io

        from PIL import Image

        try:
            with Image.open(io.BytesIO(payload)) as im:
                return im.size
        except Exception:  # noqa: BLE001 - any decode failure = invalid
            return None

    @staticmethod
    def resize(payload: bytes, width: int, height: int) -> bytes | None:
        import io

        from PIL import Image

        try:
            with Image.open(io.BytesIO(payload)) as im:
                fmt = im.format or "PNG"
                buf = io.BytesIO()
                im.resize((width, height)).save(buf, format=fmt)
                return buf.getvalue()
        except Exception:  # noqa: BLE001
            return None


def pillow_available() -> bool:
    try:
        import PIL  # noqa: F401
    except ImportError:
        return False
    return True


def default_codec():
    """PillowCodec when the real library exists, FakeCodec otherwise —
    the sandbox runs deterministic fakes; a production image pipeline
    gets real decoding with no code change."""
    return PillowCodec if pillow_available() else FakeCodec


def extract_features(df: DataFrame, codec=None) -> DataFrame:
    """Decode payloads and emit per-media features via Arrow-batched
    mapInPandas; per-batch vectorized metadata handling, codec applied per
    payload (unavoidable for codecs; batching amortizes transfer).
    codec=None means default_codec() — PillowCodec where importable,
    FakeCodec here; pass FakeCodec explicitly for hermetic synthetic
    fixtures (the oracle-gated driver queries do)."""
    codec = codec if codec is not None else default_codec()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [codec.decode(p) for p in pdf["payload"]]
            ok = [d is not None for d in decoded]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "ok": ok,
                    "actual_width": [d[0] if d else -1 for d in decoded],
                    "actual_height": [d[1] if d else -1 for d in decoded],
                    "feature_hash": [
                        hashlib.md5(p).hexdigest() if p is not None else ""
                        for p in pdf["payload"]
                    ],
                }
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)


RESIZED_SCHEMA = (
    "media_id string, ok boolean, width int, height int, payload binary"
)

FRAME_SCHEMA = "media_id string, frame_idx int, frame_payload binary"


def resize(
    df: DataFrame, target_width: int, target_height: int, codec=None
) -> DataFrame:
    """Resize decoded payloads to target dims via Arrow-batched mapInPandas.

    The FakeCodec 'resize' re-emits the synthetic container with the target
    dims and a deterministic payload hash (a real build swaps in
    Pillow/libvips here — the Spark plumbing, schemas, and batch shape are
    the tested part). Undecodable payloads pass through with ok=false so
    downstream rules can flag them. codec=None -> default_codec()."""
    codec = codec if codec is not None else default_codec()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ok, out_payload = [], []
            for p in pdf["payload"]:
                r = codec.resize(p, target_width, target_height)
                out_ok.append(r is not None)
                out_payload.append(r)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "ok": out_ok,
                    "width": target_width,
                    "height": target_height,
                    "payload": out_payload,
                }
            )

    return df.mapInPandas(run, RESIZED_SCHEMA)


def sample_frames(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Sample every Nth frame from video payloads (synthetic container
    ``b"VID:<n_frames>:<data>"``) — a one-to-many mapInPandas: each media
    row fans out to its sampled frames, so downstream per-frame feature
    extraction parallelizes over frames, not videos. A real build decodes
    with ffmpeg; the deterministic fake derives each frame payload from
    (payload-hash, frame_idx). No codec parameter: the synthetic VID:
    container parser is inline — a real video build replaces this
    function's body, not a pluggable decode step."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, payloads = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None or not p.startswith(b"VID:"):
                    continue
                try:
                    n_frames = int(p.split(b":", 2)[1])
                except (ValueError, IndexError):
                    continue
                base = hashlib.md5(p).hexdigest().encode()
                for i in range(0, n_frames, every_n):
                    ids.append(mid)
                    idxs.append(i)
                    payloads.append(b"FRM:%d:%s" % (i, base))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_payload": payloads}
            )

    return df.mapInPandas(run, FRAME_SCHEMA)


def metadata_violations(features: DataFrame, media: DataFrame) -> DataFrame:
    """Declared-vs-actual checks on the decoded metadata (format/magic
    analog: declared dims must match decoded dims; undecodable payloads are
    violations)."""
    j = features.join(media.select("media_id", "declared_width", "declared_height"), "media_id")
    return j.select(
        F.col("media_id").alias("subject"),
        F.when(~F.col("ok"), F.lit("file does not contain a valid image"))
        .when(
            (F.col("actual_width") != F.col("declared_width"))
            | (F.col("actual_height") != F.col("declared_height")),
            F.format_string(
                "image dims %dx%d do not match declared %dx%d",
                F.col("actual_width"),
                F.col("actual_height"),
                F.col("declared_width"),
                F.col("declared_height"),
            ),
        )
        .alias("reason"),
    ).filter(F.col("reason").isNotNull())
