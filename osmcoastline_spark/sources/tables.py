"""Table sources: the driver testdata star schema + nodes/ways inputs.

Production target is Iceberg (`spark.read.format("iceberg")` /
`df.writeTo(...)`); this container has no Iceberg runtime jar, so readers
accept plain parquet directories with the identical DataFrame surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def nodes_from_images(images: DataFrame) -> DataFrame:
    """BASELINE.json input_hint entry point: the engine's native input is
    an Iceberg table of image+caption rows (image_id, bytes, w, h, fmt,
    caption, phash). This derives the pipeline's `nodes` table from it
    with pure Catalyst expressions — node_id parsed from the image_id
    (`img-<16 hex>`), (lon, lat) deterministically from the phash — so a
    coastline job can run straight off the image table with zero Python.

    Inverse of synth.synth_images_for_nodes for the id; the coordinates
    are the canonical phash-derived placement from FIXTURES.md.
    """
    from pyspark.sql import functions as F

    return images.select(
        F.conv(F.substring("image_id", 5, 16), 16, 10).cast("long").alias("node_id"),
        (F.pmod(F.col("phash"), F.lit(3600000)) / 10000.0 - 180.0).alias("lon"),
        (F.pmod(F.shiftrightunsigned(F.col("phash"), 22), F.lit(1700000)) / 10000.0 - 85.0).alias("lat"),
        F.map_from_arrays(
            F.array(F.lit("source")), F.array(F.lit("image_table"))
        ).alias("tags"),
    )
