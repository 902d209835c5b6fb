"""Multimodal column plumbing (build brief): image/audio/video as opaque
`binary` columns with typed metadata.

The decode step is STUBBED (no image/audio libs in this container) behind
`decode_stub` — a clearly-marked NotImplementedError with a deterministic
fake used in tests — but the Spark-side plumbing is real: binary schema,
Arrow batch shape through mapInPandas, partition-preserving projections,
and native byte-level features (length, digest, magic sniffing).

At scale the pattern is: binary payloads stay columnar (parquet/Iceberg
BINARY), metadata travels in a sibling struct, and per-batch Python only
touches the batches it must (mapInPandas streams Arrow record batches —
bounded memory regardless of blob sizes).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id long, n_bytes int, fake_width int, fake_height int, decoder string"
)

MAGIC_PREFIXES = {
    "89504e47": "png",
    "ffd8ff": "jpeg",
    "494433": "mp3",
    "52494646": "riff",
}


def to_media_table(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Build a media-shaped table: opaque binary payload + typed metadata
    struct (the shape a real image/audio corpus lands in)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        id_col,
        payload.alias("media"),
        F.struct(
            F.octet_length(payload).alias("n_bytes"),
            F.lit("application/octet-stream").alias("mime"),
            F.col("lang").alias("source_lang"),
        ).alias("meta"),
    )


def binary_features(media: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Native byte-level features — no Python: size, digest, magic tag."""
    hexhead = F.lower(F.hex(F.substring(F.col("media"), 1, 4)))
    magic = F.lit("unknown")
    for prefix, name in MAGIC_PREFIXES.items():
        magic = F.when(hexhead.startswith(prefix), F.lit(name)).otherwise(magic)
    return media.select(
        id_col,
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("media").alias("digest"),
        magic.alias("magic"),
    )


def decode_media(b: bytes) -> tuple[int, int]:
    """Real decoder entry point — requires an image/audio codec library
    that is not available in this environment."""
    raise NotImplementedError(
        "media decoding requires codec libraries (PIL/av); "
        "use decode_stub for deterministic test output"
    )


def decode_stub(b: bytes) -> tuple[int, int]:
    """Deterministic fake decode: 'dimensions' derived from content bytes
    — stable stand-in keeping the batch plumbing testable."""
    if not b:
        return (0, 0)
    return (1 + b[0] % 64, 1 + b[-1] % 64)


def decode_batch(media: DataFrame, id_col: str = "doc_id", use_stub: bool = True) -> DataFrame:
    """mapInPandas decode stage: streams Arrow record batches; each batch
    is decoded in bulk. The real/stub switch is explicit."""
    decode = decode_stub if use_stub else decode_media

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [decode(bytes(x)) if x is not None else (0, 0) for x in pdf["media"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": [len(bytes(x)) if x is not None else 0 for x in pdf["media"]],
                    "fake_width": [d[0] for d in dims],
                    "fake_height": [d[1] for d in dims],
                    "decoder": "stub" if use_stub else "real",
                }
            )

    return media.mapInPandas(run, DECODED_SCHEMA)
