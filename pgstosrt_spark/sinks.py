"""File sinks (SURVEY.md §2.1 S5 — the reference's SRT writer contract).

The reference writes one numbered SubRip file per selected track, UTF-8
WITHOUT a byte-order mark (PgsOcr.cs:59-63: ``new UTF8Encoding(false)``),
output filename derived from the source + track (MkvUtilities.cs:20-48).
Our engine's canonical output stays the spans table (same shape as input);
this sink is the last-mile materialization for users who want the
reference's on-disk artifact: one ``<doc_id>.<media_ref>.srt`` per media
span, bytes identical to ``pgs.srt.render_srt``.

Distributed write: a mapInPandas writer kernel — each task writes its own
partition's files and emits one (path, n_bytes) receipt row per file, so
the sink is driver-light and the receipt table is the lineage record.
``out_dir`` must be a filesystem every executor can reach (local path in
local mode, NFS/fuse mount on a cluster); object stores want the
Iceberg/table sink instead — per-file POSIX writes are the reference's
contract, not the 100 TB path.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["write_srt_files"]

_UNSAFE = re.compile(r"[^A-Za-z0-9._-]+")


def write_srt_files(rendered: DataFrame, out_dir: str) -> DataFrame:
    """Write one UTF-8 (no BOM) ``.srt`` file per (doc_id, media_ref) row
    of ``pipeline.render_srt_documents`` output; returns the receipt
    DataFrame (doc_id, media_ref, path, n_bytes) — an action on it (count,
    write) performs the file writes.

    Idempotent / retry-safe: names are deterministic per (doc_id,
    media_ref), so each write goes to a temp name in the target directory
    and ``os.replace``s into place — a Spark task retry or a re-run into
    the same out_dir overwrites its own previous attempt instead of
    tripping on it.  Genuine sanitization collisions (distinct spans whose
    ids differ only in unsafe characters) are detected structurally with a
    count over a window on the safe name — not by probing the filesystem,
    which cannot distinguish a real collision from a partial earlier
    attempt."""
    w = Window.partitionBy(F.col("_safe_name"))
    checked = rendered.withColumn(
        "_safe_name",
        F.concat(
            F.regexp_replace("doc_id", _UNSAFE.pattern, "_"),
            F.lit("."),
            F.regexp_replace("media_ref", _UNSAFE.pattern, "_"),
            F.lit(".srt"),
        ),
    ).withColumn("_name_dups", F.count(F.lit(1)).over(w))

    def writer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            paths, sizes = [], []
            for doc_id, media_ref, srt, name, dups in zip(
                pdf["doc_id"].tolist(),
                pdf["media_ref"].tolist(),
                pdf["srt"].tolist(),
                pdf["_safe_name"].tolist(),
                pdf["_name_dups"].tolist(),
            ):
                if int(dups) > 1:
                    raise FileExistsError(
                        f"srt name collision after sanitization: {name} "
                        f"({dups} spans map to it; first: "
                        f"{doc_id!r}/{media_ref!r})"
                    )
                path = os.path.join(out_dir, name)
                data = srt.encode("utf-8")  # no BOM (PgsOcr.cs:59-63)
                # unique temp per attempt, atomic rename: concurrent retry
                # attempts of the same task cannot interleave partial bytes
                tmp = f"{path}.{os.getpid()}.tmp"
                with open(tmp, "wb") as f:
                    f.write(data)
                os.replace(tmp, path)
                paths.append(path)
                sizes.append(len(data))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "path": paths,
                    "n_bytes": sizes,
                }
            )

    return checked.mapInPandas(
        writer, schema="doc_id string, media_ref string, path string, n_bytes long"
    )
