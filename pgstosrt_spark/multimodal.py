"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with typed metadata structs;
feature extraction / decode / resize / frame-sample are ``mapInPandas``
kernels over Arrow batches.  The image/audio codec libraries are not in
this container, so the *decode* steps are stubbed behind
NotImplementedError (or a deterministic fake for tests) while the
Spark-side plumbing — schema, batch shape, partitioning, kernel signature —
is real and tested.  PGS payloads (this engine's native media) decode for
real via the pgs core.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "media_table",
    "media_stats",
    "probe_kernel",
    "probe_media",
    "image_decode_kernel",
]

PROBE_SCHEMA = (
    "media_ref string, media_type string, n_bytes long, width int, height int, n_units int"
)


def media_table(documents: DataFrame) -> DataFrame:
    """Factored media variant (FIXTURES.md §1): documents -> media(media_ref,
    payload binary).  Narrow ops only."""
    spans = documents.select(F.explode("spans").alias("span")).filter(
        F.col("span.kind") == "media"
    )
    return spans.select(
        F.col("span.media_ref").alias("media_ref"),
        F.unbase64(F.col("span.text")).alias("payload"),
    )


def media_stats(media: DataFrame) -> DataFrame:
    """Pure-F.* metadata: size + magic sniff (no Python in the plan)."""
    magic = F.upper(F.hex(F.substring(F.col("payload"), 1, 4)))
    return media.select(
        "media_ref",
        F.octet_length("payload").alias("n_bytes"),
        F.when(magic.startswith("5047"), "pgs")  # "PG"
        .when(magic == "4D4B5047", "pgs-mkv")  # "MKPG"
        .when(magic == "1A45DFA3", "mkv")  # EBML
        .when(magic.startswith("FFD8"), "jpeg")
        .when(magic.startswith("8950"), "png")
        .otherwise("unknown")
        .alias("media_type"),
    )


def probe_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas: probe typed metadata out of the binary payload.

    PGS payloads are probed for real (canvas dims from the first PCS,
    display-set count); foreign formats yield nulls — their decoders are
    the stubbed step.  A container header too short to hold its count
    probes as ``n_units = 0`` instead of failing the task."""
    from .pgs.decode import MKV_MAGIC
    from .pgs.ebml import EBML_MAGIC, mkv_pgs_packets
    from .pgs.model import SEG_PCS, DecodeError
    from .pgs.segments import split_segments_sup

    for pdf in batches:
        rows = []
        for media_ref, payload in zip(pdf["media_ref"], pdf["payload"]):
            data = bytes(payload)
            width = height = None
            n_units = 0
            if data[:2] == b"PG":
                mtype = "pgs"
                for seg in split_segments_sup(data):
                    if seg.type == SEG_PCS and len(seg.payload) >= 4:
                        if width is None:
                            width, height = (
                                struct.unpack(">H", seg.payload[0:2])[0],
                                struct.unpack(">H", seg.payload[2:4])[0],
                            )
                        n_units += 1
            elif data[:4] == MKV_MAGIC:
                mtype = "pgs-mkv"
                if len(data) >= 8:
                    n_units = struct.unpack(">I", data[4:8])[0]
            elif data[:4] == EBML_MAGIC:
                mtype = "mkv"
                try:
                    n_units = len(mkv_pgs_packets(data))
                except DecodeError:
                    n_units = 0
            else:
                mtype = "unknown"
            rows.append(
                {
                    "media_ref": media_ref,
                    "media_type": mtype,
                    "n_bytes": len(data),
                    "width": width,
                    "height": height,
                    "n_units": n_units,
                }
            )
        yield pd.DataFrame(
            rows,
            columns=["media_ref", "media_type", "n_bytes", "width", "height", "n_units"],
        )


def probe_media(media: DataFrame) -> DataFrame:
    return media.mapInPandas(probe_kernel, schema=PROBE_SCHEMA)


def image_decode_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB: image decode / resize / feature extraction.

    The kernel signature, Arrow batch shape and output schema are the real
    contract; the codec call is the only missing piece in this container.
    """
    raise NotImplementedError(
        "image codecs (PIL/ffmpeg) are not available in this environment; "
        "plug a decoder into this kernel — the Spark plumbing around it "
        "(media_table -> mapInPandas -> feature columns) is tested"
    )
