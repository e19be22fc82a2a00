"""Query catalog machinery.

A ``QuerySpec`` pairs a Spark DataFrame builder with an equivalent ANSI
SQL string a DuckDB oracle can run on the same parquet tables (the
driver's correctness gate, __spark_entry__ contract). Column names must
match between both sides — the harness sorts columns by name before
hashing values — so every computed column is aliased identically.

``oracle`` is None for operators whose semantics are not expressible in
portable SQL (approximate LSH bucketing, stateful streaming); the driver
then records a weaker rows-only check.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None


def register(name: str, oracle: str | None = None) -> Callable[[Builder], Builder]:
    """Decorator: add a builder (with optional DuckDB oracle SQL) to the catalog."""

    def wrap(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, builder=fn, oracle=oracle)
        return fn

    return wrap


# The driver's correctness gate checks only the first WINDOW_SIZE entries of
# ``__spark_entry__.queries()``; ``driver_window`` computes them from the
# committed CORRECTNESS_r*.json artifacts. The hand-kept list it replaced and
# its rotation history: `git show c9ff3fa:ai_duckdb_spark/queries/catalog.py`.
FLAGSHIP = "flagship_revenue_argmax"
WINDOW_SIZE = 50
# Entries whose builder or oracle changed since the newest artifact: they
# re-earn a driver row ahead of the oldest-first fill. Reset every round.
CHANGED_THIS_ROUND: tuple[str, ...] = (
    "multimodal_audio_headers", "multimodal_image_headers", "multimodal_pixel_stats",
    "multimodal_png_pixel_stats", "multimodal_png_interlaced_stats",
    "multimodal_png_palette_stats", "multimodal_gif_pixel_stats",
    "multimodal_gif_interlaced_stats", "multimodal_png_gray16_stats",
    "multimodal_png_alpha_stats", "multimodal_resize_stats", "multimodal_jpeg_resize_stats",
    "multimodal_audio_sample_stats", "multimodal_stereo_sample_stats",
    "multimodal_jpeg_luma_stats", "multimodal_jpeg_progressive_stats",
    "multimodal_jpeg_color_stats", "multimodal_jpeg420_stats", "multimodal_adpcm_sample_stats",
    "multimodal_g711_sample_stats", "multimodal_tiff_pixel_stats",
    "multimodal_video_mjpeg_stats", "multimodal_audio_energy_windows",
    "multimodal_video_scene_cuts", "multimodal_binary_ingest", "multimodal_image_features",
    "streaming_stream_stream_leftjoin", "streaming_watermark_latedrop",
)


def driver_row_ages(root: str) -> dict[str, int]:
    """Entry name -> latest round N whose ``root/CORRECTNESS_rN.json`` holds
    a green row (``hash_match is True``) for it. Red and rows-only rows do
    not count; an entry with no green row is absent."""
    ages: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r[0-9][0-9].json")):
        rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if row.get("hash_match") is True:
                ages[name] = max(ages.get(name, 0), rnd)
    return ages


def driver_window(ages: dict[str, int], changed: tuple[str, ...] = CHANGED_THIS_ROUND) -> list[str]:
    """The driver's window: FLAGSHIP, then ``changed``, then oracle-paired
    entries oldest green row first (never-green first, ties alphabetical),
    up to WINDOW_SIZE names."""
    missing = [n for n in (FLAGSHIP, *changed) if n not in REGISTRY]
    if missing:
        raise ValueError(f"driver window names not registered: {missing}")
    window = list(dict.fromkeys((FLAGSHIP, *changed)))
    fill = sorted(
        (n for n, s in REGISTRY.items() if s.oracle is not None and n not in window),
        key=lambda n: (ages.get(n, 0), n),
    )
    return (window + fill)[:WINDOW_SIZE]

