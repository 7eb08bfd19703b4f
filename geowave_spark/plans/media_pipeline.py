"""Media half of the flagship pipeline: geotagged binary media -> EXIF
points -> doc linkage -> unified text+media geometry set -> spatial join,
with checkpointed lineage at every stage.

The north rule extracts geometries from INTERLEAVED text+media document
spans.  ``run_docs_pipeline`` covers the text half (geo spans to WKT);
this covers the media half — EXIF GPS lifted from binary payloads
(:func:`media_geo_extract`, headers only, no pixel decode), linked
back to owning documents through their media spans, unioned with the text
centroids, and driven through the SAME cell-bucketed PIP join.  Every
stage is a `Pipeline.stage` (manifest-committed parquet, per-partition
row counters), so a killed run resumes after the last completed stage and
a config change rebuilds exactly the downstream stages.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geowave_spark.extract import with_geometry
from geowave_spark.operators.spatial_join import pip_join
from geowave_spark.plans.lineage import Pipeline


def media_geo_extract(media: DataFrame) -> DataFrame:
    """``(media_ref, lon, lat)`` from EXIF-geotagged payloads (JPEG APP1 /
    TIFF GPS IFD, via :mod:`geowave_spark.functions.exif`); untagged media
    is dropped.  This is the media half of the north star's "geometries
    extracted from interleaved text+media document spans": the output
    points feed :func:`geowave_spark.operators.spatial_join.pip_join` and
    the SFC indexing layer like any other point table.  The EXIF walk only
    parses headers (no pixel decode), so the stage is I/O-bound and
    embarrassingly parallel."""

    def _ext(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from geowave_spark.functions.exif import gps_from_media

        for pdf in batches:
            refs, lons, lats = [], [], []
            for ref, c in zip(pdf["media_ref"], pdf["content"]):
                if c is None:
                    continue
                g = gps_from_media(bytes(c))
                if g is None:
                    continue
                refs.append(ref)
                lons.append(g[0])
                lats.append(g[1])
            yield pd.DataFrame(
                {
                    "media_ref": refs,
                    "lon": np.asarray(lons, dtype=np.float64),
                    "lat": np.asarray(lats, dtype=np.float64),
                }
            )

    return media.mapInPandas(_ext, "media_ref string, lon double, lat double")


def run_media_geo_pipeline(
    spark: SparkSession,
    docs_path: str,
    media_path: str,
    zones_path: str,
    checkpoint_root: str,
) -> tuple[Pipeline, DataFrame]:
    """Returns (pipeline with stage summaries, per-zone per-source rollup).

    The unified point set carries ``src`` = 'text' | 'media' so the rollup
    shows both halves of the span->geometry extraction joining the same
    zone layer.
    """
    pipe = Pipeline(spark, checkpoint_root)

    media = spark.read.parquet(media_path)
    exif_pts = pipe.stage(
        "10_exif_extract",
        {"src": media_path},
        lambda: media_geo_extract(media),
    )

    docs = spark.read.parquet(docs_path)
    links = pipe.stage(
        "20_doc_link",
        {"src": docs_path},
        lambda: (
            docs.select(
                "doc_id", F.explode("spans").alias("s")
            )
            .filter(F.col("s.kind") == "media")
            .select("doc_id", F.col("s.media_ref").alias("media_ref"))
        ),
    )

    def _union() -> DataFrame:
        media_pts = links.join(exif_pts, "media_ref").select(
            "doc_id",
            F.lit("media").alias("src"),
            F.col("media_ref").alias("ref"),
            "lon",
            "lat",
        )
        text_pts = (
            with_geometry(docs)
            .filter(F.col("cx").isNotNull())
            .select(
                "doc_id",
                F.lit("text").alias("src"),
                F.lit(None).cast("string").alias("ref"),
                F.col("cx").alias("lon"),
                F.col("cy").alias("lat"),
            )
        )
        return media_pts.unionByName(text_pts)

    unified = pipe.stage(
        "30_union_geoms", {"sources": ["media", "text"]}, _union
    )

    zones = spark.read.parquet(zones_path).filter(F.col("zclass") != "dateline")
    joined = pipe.stage(
        "40_pip_join",
        {"zones": zones_path},
        lambda: pip_join(unified, zones).select("doc_id", "src", "ref", "zone_id"),
    )

    rollup = pipe.stage(
        "50_rollup",
        {"zones": zones_path},
        lambda: joined.groupBy("zone_id", "src").agg(F.count("*").alias("n_points")),
    )
    return pipe, rollup
