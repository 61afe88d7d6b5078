"""Layout-export ETL pipeline (SURVEY.md §3.3: TSV module centers ->
sensor-center YAML database; reference realistic_layout_export.ipynb
semantics).

Stages: S1 TSV scan (PERMISSIVE, corrupt quarantine) -> P3/P4 module
outline + per-module sensor centers (each module row carries two
sensors offset ±(gap/2 + sensor_w/2) in y) -> explode to sensor rows
-> assemble (disk, face) keys -> S4 YAML sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sh_design_spark.sources import io as src

SENSOR_W = 21.6  # sensor y-extent within a module
SENSOR_GAP = 0.3  # inter-sensor gap


def modules_to_sensor_centers(modules: DataFrame) -> DataFrame:
    """Each module center (x, y) -> two sensor centers at
    y ± (gap + sensor_w) / 2 (module = 1x2 sensor stack); the other
    columns are carried along."""
    off = (SENSOR_GAP + SENSOR_W) / 2.0
    return modules.withColumn(
        "y", F.explode(F.array(F.col("y") - off, F.col("y") + off))
    )


def export_layout(
    spark: SparkSession,
    tsv_paths: dict[tuple[str, str], str],
    yaml_out: str,
    layout: str = "new",
) -> DataFrame:
    """Full §3.3 pipeline. tsv_paths maps (disk, face) -> TSV path.
    Returns the assembled centers DataFrame (also written to YAML).
    The faces are unioned before the corrupt-row split, so a single
    parse covers them all."""
    faces = [
        src.read_face_tsv(spark, path).select(
            F.lit(disk).alias("disk"), F.lit(face).alias("face"), "*"
        )
        for (disk, face), path in tsv_paths.items()
    ]
    modules = faces[0]
    for f in faces[1:]:
        modules = modules.unionByName(f)
    clean, _bad = src.split_corrupt(modules)
    out = modules_to_sensor_centers(clean).select(
        F.lit(layout).alias("layout"), "disk", "face", "x", "y"
    )
    src.write_yaml_layout(out, yaml_out)
    return out
