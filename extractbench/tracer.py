"""Benchmark-side tracing of the pure-Python ``pgs`` layers.

The benchmark wraps the public functions of the ``pgs`` modules, in the
module namespaces that call them, and runs one in-process pass over a
workload's payloads, decoding each payload both traced and untraced.  Every wrapped call is a span timed with a CPU clock
(``time.process_time_ns`` by default); a span's *self* time is its
duration minus the time of the spans it directly encloses, so a layer that
calls another (duplicate merge rasterizes to compare bitmaps) is charged
only for its own work.

Nothing here edits the package: :func:`traced_pgs` patches attributes and
restores them on exit.
"""

from __future__ import annotations

import contextlib
import functools
import math
import time
from collections.abc import Callable, Iterator


class Tracer:
    """Span stack with per-name totals of self time, inclusive time and calls."""

    def __init__(self, clock: Callable[[], int] = time.process_time_ns) -> None:
        self.clock = clock
        self.self_ns: dict[str, int] = {}
        self.total_ns: dict[str, int] = {}
        self.calls: dict[str, int] = {}
        self.counters: dict[str, int] = {}
        self.roots_ns: list[int] = []
        self._stack: list[list[int]] = []  # [start_ns, child_ns]

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        frame = [self.clock(), 0]
        self._stack.append(frame)
        try:
            yield
        finally:
            dur = self.clock() - frame[0]
            self._stack.pop()
            self.self_ns[name] = self.self_ns.get(name, 0) + dur - frame[1]
            self.total_ns[name] = self.total_ns.get(name, 0) + dur
            self.calls[name] = self.calls.get(name, 0) + 1
            if self._stack:
                self._stack[-1][1] += dur
            else:
                self.roots_ns.append(dur)

    def count(self, name: str, n: int = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + n

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (the smallest value with at least ``q`` of the
    samples at or below it)."""
    if not values:
        raise ValueError("quantile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q * len(ordered)))
    return ordered[rank - 1]


def quantile_summary(values: list[float]) -> dict:
    """p50 and p99 with their sample counts: ``n`` samples in all and
    ``beyond_p99`` strictly above p99 (a tail with fewer than ten samples
    beyond it is not a measured tail)."""
    p99 = quantile(values, 0.99)
    return {
        "p50": quantile(values, 0.5),
        "p99": p99,
        "n": len(values),
        "beyond_p99": sum(1 for v in values if v > p99),
    }


@contextlib.contextmanager
def traced_pgs(tracer: Tracer) -> Iterator[None]:
    """Patch the ``pgs`` layer entry points so each call is a span.

    Layer names: ``pgs.demux`` (container unpacking), ``pgs.assemble``,
    ``pgs.merge``, ``pgs.compose`` (rasterize, self time incl. the RGBA
    gather and pad), ``pgs.rle``, ``pgs.palette``, ``pgs.ocr``, ``pgs.srt``
    and ``pgs.decode`` (the self time of ``decode_to_display_sets``).
    """
    from pgstosrt_spark.pgs import decode, merge, rle
    from pgstosrt_spark.pgs.ocr import GlyphAtlasOcr

    def merge_counted(fn):
        def counted(pcs_list, *args, **kwargs):
            tracer.count("merge.sets_in", len(pcs_list))  # the list is mutated
            out = fn(pcs_list, *args, **kwargs)
            tracer.count("merge.sets_kept", len(out))
            return out

        return counted

    def raster_counted(fn):
        def counted(*args, **kwargs):
            img = fn(*args, **kwargs)
            tracer.count("compose.pixels", int(img.shape[0]) * int(img.shape[1]))
            return img

        return counted

    patches = [
        (decode, "decode_to_display_sets", "pgs.decode", None),
        (decode, "unpack_mkv_packets", "pgs.demux", None),
        (decode, "mkv_pgs_packets", "pgs.demux", None),
        (decode, "assemble_sup", "pgs.assemble", None),
        (decode, "assemble_mkv_packets", "pgs.assemble", None),
        (decode, "apply_duplicate_merge", "pgs.merge", merge_counted),
        (decode, "rasterize", "pgs.compose", raster_counted),
        (merge, "rasterize", "pgs.compose", None),
        (rle, "decode_rle_runs", "pgs.rle", None),
        (rle, "decode_palette", "pgs.palette", None),
        (decode, "cue_text", "pgs.srt", None),
        (GlyphAtlasOcr, "recognize", "pgs.ocr", None),
    ]
    saved = []
    try:
        for owner, attr, name, extra in patches:
            fn = getattr(owner, attr)
            saved.append((owner, attr, fn))
            wrapped = tracer.wrap(name, fn)
            setattr(owner, attr, extra(wrapped) if extra else wrapped)
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


def pgs_layer_pass(payloads: list[bytes], clock: Callable[[], int] = time.process_time_ns) -> dict:
    """Decode every payload twice, once with the ``pgs`` layers traced and
    once untraced.

    The two decodes of a payload run back to back, in alternating order, so
    a change in host speed during the pass affects both sides alike.
    Returns per-layer self time (µs per payload or per composition), the
    duplicate-merge kept ratio, pixels per composition, and the CPU time of
    each side (``cpu_s`` traced, wrappers included; ``untraced_cpu_s``)
    with sample counts.
    """
    from pgstosrt_spark.pgs import decode
    from pgstosrt_spark.pgs.ocr import GlyphAtlasOcr

    tracer = Tracer(clock)
    ocr = GlyphAtlasOcr()
    untraced_ns = 0

    def untraced(payload: bytes) -> None:
        nonlocal untraced_ns
        t0 = clock()
        decode.decode_media_payload(payload, backend=ocr)
        untraced_ns += clock() - t0

    for i, payload in enumerate(payloads):
        if i % 2:
            untraced(payload)
        with traced_pgs(tracer), tracer.span("payload"):
            decode.decode_media_payload(payload, backend=ocr)
        if not i % 2:
            untraced(payload)
    n_pay = len(payloads)
    n_comp = tracer.calls.get("pgs.ocr", 0)
    s = tracer.self_ns

    def us(names, per):
        return sum(s.get(n, 0) for n in names) / 1e3 / per if per else 0.0

    sets_in = tracer.counters.get("merge.sets_in", 0)
    return {
        "payloads": n_pay,
        "comps": n_comp,
        "cpu_s": sum(tracer.roots_ns) / 1e9,
        "untraced_cpu_s": untraced_ns / 1e9,
        "pgs.assemble.us_per_payload": us(
            ["pgs.decode", "pgs.demux", "pgs.assemble"], n_pay
        ),
        "pgs.merge.us_per_payload": us(["pgs.merge"], n_pay),
        "pgs.merge.kept_ratio": (
            tracer.counters.get("merge.sets_kept", 0) / sets_in if sets_in else 1.0
        ),
        "pgs.compose.us_per_comp": us(["pgs.compose"], n_comp),
        "pgs.rle.us_per_comp": us(["pgs.rle"], n_comp),
        "pgs.palette.us_per_comp": us(["pgs.palette"], n_comp),
        "pgs.compose.pixels_per_comp": (
            tracer.counters.get("compose.pixels", 0) / n_comp if n_comp else 0.0
        ),
        "pgs.ocr.us_per_comp": us(["pgs.ocr"], n_comp),
        "pgs.srt.us_per_comp": us(["pgs.srt"], n_comp),
        "self_s": {k: v / 1e9 for k, v in sorted(s.items())},
    }
