"""Track selection + language fan-out (SURVEY.md §2.1 S4).

Replicates MkvUtilities (/root/reference/src/PgsToSrt/MkvUtilities.cs):

  * ``pgs_tracks``      — GetPgsSubtitleTracks (:98-115): keep tracks with
                          CodecId == "S_HDMV/PGS", ordered by track number.
  * ``tracks_by_language`` — GetTracksByLanguage (:76-96): one output row
                          per PGS track whose language matches
                          (case-insensitive), with the reference's output
                          filename contract (:20-55):
                          ``{base}.{language}{number}{.forced}.srt`` where
                          colliding names within one source file take the
                          number sequence "", 2, 3, ... in track order
                          (the retry loop at :24-46 starts at 2: the first
                          collision sets number=1 then immediately +=1).

The input is a track-metadata table (container demux is upstream
ingestion, SURVEY.md §2.1 S2): (source, track_number, codec_id, language,
is_forced).  The collision numbering runs the reference's EXACT
sequential retry loop (candidate name, OrdinalIgnoreCase membership test
against the names already assigned for this source, number inserted
*before* the ``.forced`` suffix) inside a grouped kernel — per-source
groups are a handful of rows, so the sequential loop costs nothing while
the sources themselves stay data-parallel.  This closes the round-2
cross-key descope: e.g. a non-forced track whose language string is
literally ``"en.forced"`` colliding with a forced ``"en"`` track now
numbers exactly as the reference would (the window-rank formulation
numbered the two keys independently).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pgs.ebml import PGS_CODEC_ID

__all__ = ["TRACKS_SCHEMA", "pgs_tracks", "tracks_by_language"]

TRACKS_SCHEMA = (
    "source string, track_number long, codec_id string, "
    "language string, is_forced boolean"
)


def pgs_tracks(tracks: DataFrame) -> DataFrame:
    """PGS subtitle tracks in track order (MkvUtilities.cs:98-115).

    The codec id matches ``ebml.PGS_CODEC_ID`` exactly, as in the reference
    (string.Equals) and the demux (``ebml.mkv_pgs_packets``): a track the
    demux would not decode is not fanned out either.
    """
    return tracks.filter(F.col("codec_id") == PGS_CODEC_ID).orderBy("track_number")


def _fanout_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """One source's selected tracks -> output names, running
    GetDefaultOutputFilename's retry loop verbatim (MkvUtilities.cs:20-48):
    candidate = {source}.{language}{number}{.forced}.srt with number None,
    then 2, 3, ... until the name is not already assigned to this source
    (case-insensitive compare, :29-31); tracks processed in track order
    (:104-107)."""
    pdf = pdf.sort_values("track_number")
    used: set[str] = set()
    names = []
    for source, lang, forced in zip(
        pdf["source"].tolist(), pdf["language"].tolist(), pdf["is_forced"].tolist()
    ):
        forced_part = ".forced" if forced else ""
        number: int | None = None
        while True:
            num_part = "" if number is None else str(number)
            cand = f"{source}.{lang}{num_part}{forced_part}.srt"
            if cand.lower() not in used:
                break
            number = 2 if number is None else number + 1
        used.add(cand.lower())
        names.append(cand)
    return pd.DataFrame(
        {
            "source": pdf["source"],
            "track_number": pdf["track_number"],
            "output_name": names,
        }
    )


def tracks_by_language(tracks: DataFrame, language: str) -> DataFrame:
    """-> (source, track_number, output_name): the per-track fan-out plan
    rows (TrackOutputOption analog, MkvUtilities.cs:76-96).

    The collision loop is sequential per source by construction (each
    name depends on all previously assigned names), so it runs in a
    grouped kernel: one shuffle of a handful of metadata rows per source,
    sources data-parallel — the exact shape of the reference's
    per-input-file foreach at cluster scale."""
    t = pgs_tracks(tracks).filter(F.lower(F.col("language")) == language.lower())
    return (
        t.select("source", "track_number", "language", "is_forced")
        .groupBy("source")
        .applyInPandas(
            _fanout_group,
            schema="source string, track_number long, output_name string",
        )
    )
