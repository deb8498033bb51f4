"""Multimodal columns: opaque binary payloads + typed metadata
(SURVEY.md §2.9).

Layout: media rows are ``(media_id BIGINT, kind STRING, payload BINARY,
meta STRUCT<...>)`` — the payload is opaque to Spark (image/audio/video
bytes); all engine-side operations are metadata extraction, partitioning,
and batch-shaped UDF plumbing. The actual decode (PIL/ffmpeg/soundfile) is
NOT available in this container, so the decode step is STUBBED: it raises
``NotImplementedError`` unless the optional library imports, with a
clearly-marked deterministic fake available for pipeline testing. The
Spark-side plumbing — schema, Arrow batching via mapInPandas, partition
shape — is real and tested.

Container check log (the gate is re-probed every round): PIL and ffmpeg
absent in the round-6, round-7 AND round-8 containers (also probed r8:
cv2, torchvision, soundfile, librosa, imageio — all absent;
``import PIL`` → ModuleNotFoundError, ``shutil.which("ffmpeg")`` →
None), so the real
decode paths stay environment-gated; if either ever appears, wire the
real path behind the same seam and keep the fake for tests.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "meta struct<source:string, declared_bytes:bigint>"
)

META_SCHEMA = (
    "media_id bigint, kind string, n_bytes bigint, sha256 string, "
    "sniffed_kind string"
)

_MAGIC = [
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"RIFF", "audio/wav"),
    (b"ID3", "audio/mp3"),
    (b"\x00\x00\x00", "video/mp4"),
]


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Wrap the documents fixture as media rows (utf-8 payload bytes) — the
    container has no binary fixtures, so text bytes stand in; every
    downstream op treats payload as opaque bytes either way."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text/plain").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.col("source").alias("source"),
            F.col("n_chars").cast("bigint").alias("declared_bytes"),
        ).alias("meta"),
    )


def extract_meta(media: DataFrame, batch_size: int = 1024) -> DataFrame:
    """Arrow-batched metadata extraction over binary payloads via
    mapInPandas: byte length, sha256 hex, magic-byte kind sniff.

    This is the canonical slow-path shape for multimodal work: columnar
    Arrow batches into pandas, vectorized python over the batch, columnar
    out. Never row-at-a-time.
    """

    def _extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        for pdf in batches:
            payloads = pdf["payload"]
            n_bytes = payloads.map(lambda b: len(b) if b is not None else 0)
            sha = payloads.map(
                lambda b: hashlib.sha256(b).hexdigest() if b is not None else ""
            )

            def sniff(b):
                if not b:
                    return "empty"
                for magic, kind in _MAGIC:
                    if bytes(b[: len(magic)]) == magic:
                        return kind
                return "application/octet-stream"

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": n_bytes,
                    "sha256": sha,
                    "sniffed_kind": payloads.map(sniff),
                }
            )

    return media.mapInPandas(_extract, schema=META_SCHEMA)


DECODED_IMAGE_SCHEMA = (
    "media_id bigint, width int, height int, n_channels int, ok boolean"
)


def decode_images(
    media: DataFrame, allow_fake: bool = False
) -> DataFrame:
    """Decode image payloads to (width, height, channels).

    STUB: real decode requires PIL, which is not installed in this
    container. With ``allow_fake=True`` a DETERMINISTIC FAKE derives fake
    dimensions from the payload's sha256 — pipeline plumbing (schema,
    batching, partitioning) is exercised for real; pixel decode is not.
    """

    def _decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        try:
            from PIL import Image  # noqa: F401
            import io

            have_pil = True
        except ImportError:
            have_pil = False

        for pdf in batches:
            if have_pil:
                def dims(b):
                    try:
                        im = Image.open(io.BytesIO(b))
                        return im.width, im.height, len(im.getbands()), True
                    except Exception:
                        return 0, 0, 0, False
            elif allow_fake:
                # DETERMINISTIC FAKE (clearly marked): dimensions from the
                # content hash — stable, content-addressed, not real pixels.
                def dims(b):
                    h = hashlib.sha256(b or b"").digest()
                    return (
                        64 + h[0] % 192,
                        64 + h[1] % 192,
                        1 + h[2] % 4,
                        True,
                    )
            else:
                raise NotImplementedError(
                    "image decode requires PIL (not in this container); "
                    "pass allow_fake=True for the deterministic fake"
                )
            rows = [dims(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [r[0] for r in rows],
                    "height": [r[1] for r in rows],
                    "n_channels": [r[2] for r in rows],
                    "ok": [r[3] for r in rows],
                }
            )

    return media.mapInPandas(_decode, schema=DECODED_IMAGE_SCHEMA)
