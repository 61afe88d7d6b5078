"""Flagship pipeline: Monte-Carlo geometric acceptance (SURVEY.md §3.1
stages 8-9; reference dee_geometry.py:570-700).

Logical plan (all declarative — Catalyst chooses broadcast for the
dimension sides, the per-ray aggregation is the only real shuffle):

    rays(n)  ──crossJoin──  layers(4)          # P14 projection
        │ px = z_mm*tan(theta)*cos(phi), py = ...
        ▼
    inner join sensors ON layer + containment  # J1, broadcast or binned
        ▼
    groupBy event_id -> n = countDistinct(layer)   # J2
        ▼
    rays left-join hits, n -> coalesce 0
        ▼
    groupBy eta_bin -> count / efficiency / mean n / mean t   # A10-A12, J7, P13

Default strategy is the spatially-binned equi-join (J1 scale path):
it cuts per-ray candidate rectangles from ~4k to ~4 and measured 2x
faster than the broadcast nested predicate at 1M rays (6.5s vs 13s on
local[32]); both strategies are proven result-identical in
tests/test_plans.py. The rays side never shuffles under either — the
only wide exchange is the bins-sized final aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_sh_design_spark import datagen
from etl_sh_design_spark.operators.containment import (
    binned_containment_join,
    containment_join,
)
from etl_sh_design_spark.operators.histogram import BinSpec
from etl_sh_design_spark.sources.io import local_table

ETA_BINS = BinSpec(20, datagen.ETA_LO, datagen.ETA_HI)
T_COEFF = 45.0  # ps; dee_geometry.py:608


def ray_hits(spark: SparkSession, n_rays: int, strategy: str = "binned") -> DataFrame:
    """Per-ray hit counts: (event_id, eta, n). n = #layers whose sensor
    active area contains the projected ray point (0..4)."""
    rays = datagen.rays(spark, n_rays)
    layers = datagen.layers(spark)
    sensors = datagen.sensors(spark)

    proj = (
        rays.crossJoin(F.broadcast(layers))
        .withColumn("px", F.col("z_mm") * F.col("tanth") * F.col("cphi"))
        .withColumn("py", F.col("z_mm") * F.col("tanth") * F.col("sphi"))
        .select("event_id", "layer", "px", "py")
    )
    if strategy == "binned":
        # cell >= max rect extent (42.5mm in x) so each rect spans <=2 cells/axis
        hits = binned_containment_join(proj, sensors, cell=50.0, extra_keys=["layer"])
    else:
        hits = proj.join(
            F.broadcast(sensors),
            (proj["layer"] == sensors["layer"])
            & (sensors["ax1"] < proj["px"])
            & (proj["px"] < sensors["ax2"])
            & (sensors["ay1"] < proj["py"])
            & (proj["py"] < sensors["ay2"]),
            "inner",
        ).drop(sensors["layer"])
    n_per_event = hits.groupBy("event_id").agg(F.countDistinct("layer").alias("n"))
    return (
        rays.select("event_id", "eta")
        .join(n_per_event, "event_id", "left")
        .fillna({"n": 0})
    )


def acceptance_profile(
    spark: SparkSession, n_rays: int, strategy: str = "binned"
) -> DataFrame:
    """Flagship result: efficiency + mean hit count + mean time
    resolution per eta bin. All averages are exact-integer sums /
    counts except mean_t (rounded to absorb float-order drift)."""
    per_ray = ray_hits(spark, n_rays, strategy)
    return (
        per_ray.groupBy(ETA_BINS.bin_of("eta").alias("eta_bin"))
        .agg(
            F.count(F.lit(1)).alias("n_rays"),
            F.round(F.avg((F.col("n") > 0).cast("double")), 6).alias("eff"),
            F.round(F.avg(F.col("n").cast("double")), 6).alias("mean_n"),
            F.round(
                F.avg(F.when(F.col("n") > 0, T_COEFF / F.sqrt(F.col("n")))), 6
            ).alias("mean_t"),
        )
    )


def mc_sanity_probe(
    spark: SparkSession, n_rays: int, min_hits: int = 3, strategy: str = "binned"
) -> DataFrame:
    """MC sanity re-probe (reference dee_geometry.py:712-810): take the
    FIRST ray with n >= min_hits hits (the reference picks the first
    v.n>2 vector), re-project it onto every layer, and re-count the
    sensors whose active area contains each projected point — the
    debugging query that confirms high-multiplicity events are real
    geometry, not bookkeeping.

    One row per layer: (event_id, layer, px, py, n_sensors, hit).
    The probe id is a 1-row broadcast; the re-projection re-runs the
    SAME containment predicate as the flagship join, so a bookkeeping
    bug would show as hit=true on a layer with n_sensors=0 (or vice
    versa)."""
    per_ray = ray_hits(spark, n_rays, strategy)
    probe_id = (
        per_ray.filter(F.col("n") >= min_hits)
        .agg(F.min("event_id").alias("event_id"))
    )
    rays = datagen.rays(spark, n_rays).join(F.broadcast(probe_id), "event_id")
    sensors = datagen.sensors(spark)
    proj = (
        rays.crossJoin(F.broadcast(datagen.layers(spark)))
        .withColumn("px", F.col("z_mm") * F.col("tanth") * F.col("cphi"))
        .withColumn("py", F.col("z_mm") * F.col("tanth") * F.col("sphi"))
        .select("event_id", "layer", "px", "py")
    )
    probed = proj.join(
        F.broadcast(sensors),
        (proj["layer"] == sensors["layer"])
        & (sensors["ax1"] < proj["px"])
        & (proj["px"] < sensors["ax2"])
        & (sensors["ay1"] < proj["py"])
        & (proj["py"] < sensors["ay2"]),
        "left",
    )
    return (
        probed.groupBy(proj["event_id"], proj["layer"], "px", "py")
        .agg(F.count(sensors["sensor_id"]).alias("n_sensors"))
        .select(
            "event_id",
            "layer",
            F.round("px", 6).alias("px"),
            F.round("py", 6).alias("py"),
            "n_sensors",
            (F.col("n_sensors") > 0).alias("hit"),
        )
    )


def mc_sanity_probe_sql(n_rays: int, min_hits: int = 3) -> str:
    return (
        _hits_cte(n_rays)
        + f""",
probe AS (SELECT min(event_id) AS event_id FROM per_ray WHERE n >= {min_hits}),
probe_proj AS (
  SELECT p.event_id, p.layer, p.px, p.py
  FROM proj p JOIN probe USING (event_id)
)
SELECT pp.event_id, pp.layer,
       round(pp.px, 6) AS px, round(pp.py, 6) AS py,
       count(s.sensor_id) AS n_sensors,
       count(s.sensor_id) > 0 AS hit
FROM probe_proj pp
LEFT JOIN sensors s
  ON s.layer = pp.layer
 AND s.ax1 < pp.px AND pp.px < s.ax2
 AND s.ay1 < pp.py AND pp.py < s.ay2
GROUP BY 1, 2, pp.px, pp.py
"""
    )


def hit_count_histogram(spark: SparkSession, n_rays: int) -> DataFrame:
    """A10 on the MC result: histogram of n (0..4) — the reference's
    `Hist1D(nHits, "5,-0.5,4.5")` (example.ipynb cell 19)."""
    return (
        ray_hits(spark, n_rays)
        .groupBy(F.col("n").cast("bigint").alias("n"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# =====================================================================
# Real-layout acceptance: the reference's signature study run over its
# OWN exported YAML layout database (geometric_acceptance.ipynb cells
# 43-72), not the synthetic sensor grid. Same MC rays, same P14
# projection, same binned J1/J2 containment plan — only the sensor
# corner table comes from the real data.
# =====================================================================

# Sensor(42.5, 22) with deadspace 0.5 is the sensor every fromCenters
# layout uses (geometric_acceptance.ipynb cells 45/51; ETL.py:76-120):
# active-area half-extents = half-size minus deadspace.
REAL_ACTIVE_HALF_X = 42.5 / 2 - 0.5  # 20.75 mm
REAL_ACTIVE_HALF_Y = 22.0 / 2 - 0.5  # 10.5 mm
# The study bins eta as "40,1.659,2.950" (cell 63); rays outside the
# binned range are excluded from the profile on both engines.
REAL_ETA_BINS = BinSpec(40, datagen.ETA_LO, 2.950)
# (disk, face) -> layer in D1-D4 construction order (cells 45/51:
# disk1/front, disk1/back, disk2/front, disk2/back at the z positions
# of datagen.LAYER_Z_MM / dee_geometry.py:46-52).
REAL_FACE_LAYERS = [
    ("disk1", "front", 1),
    ("disk1", "back", 2),
    ("disk2", "front", 3),
    ("disk2", "back", 4),
]


def real_layout_sensor_rows(yaml_path: str, layout: str) -> list[tuple]:
    """(layer, x, y) tuples for every sensor center of `layout` in the
    YAML database, in D1-D4 face order. Driver-side and memoized (the
    layout database is dimension-sized by contract)."""
    from etl_sh_design_spark.sources.io import load_yaml_layout_rows

    by_face = {(d, f): lyr for d, f, lyr in REAL_FACE_LAYERS}
    out = []
    for lo, disk, face, x, y in load_yaml_layout_rows(yaml_path):
        if lo == layout and (disk, face) in by_face:
            out.append((by_face[(disk, face)], x, y))
    return out


def real_layout_sensors(
    spark: SparkSession, yaml_path: str, layout: str = "new"
) -> DataFrame:
    """The hot corner table (layer, x, y, ax1, ax2, ay1, ay2) derived
    from the REAL layout database via the P3/P4 inset — same schema the
    synthetic `datagen.sensors` feeds the containment join."""
    centers = local_table(
        spark,
        real_layout_sensor_rows(yaml_path, layout), "layer INT, x DOUBLE, y DOUBLE"
    )
    return centers.select(
        "layer",
        "x",
        "y",
        (F.col("x") - REAL_ACTIVE_HALF_X).alias("ax1"),
        (F.col("x") + REAL_ACTIVE_HALF_X).alias("ax2"),
        (F.col("y") - REAL_ACTIVE_HALF_Y).alias("ay1"),
        (F.col("y") + REAL_ACTIVE_HALF_Y).alias("ay2"),
    )


def real_ray_hits(
    spark: SparkSession,
    n_rays: int,
    yaml_path: str,
    layout: str = "new",
    strategy: str = "binned",
) -> DataFrame:
    """Per-ray hit counts (event_id, eta, n) over the REAL layout —
    the flagship `ray_hits` plan with the real corner table swapped in
    and rays restricted to the study's eta window."""
    rays = datagen.rays(spark, n_rays).filter(
        F.col("eta") < F.lit(REAL_ETA_BINS.hi)
    )
    sensors = real_layout_sensors(spark, yaml_path, layout)
    proj = (
        rays.crossJoin(F.broadcast(datagen.layers(spark)))
        .withColumn("px", F.col("z_mm") * F.col("tanth") * F.col("cphi"))
        .withColumn("py", F.col("z_mm") * F.col("tanth") * F.col("sphi"))
        .select("event_id", "layer", "px", "py")
    )
    if strategy == "binned":
        # cell >= the 41.5mm max active extent -> <=2 cells per axis.
        # The corner table is dimension-sized by the layout contract
        # — pin the broadcast so the 4x-rays proj side never shuffles
        # (138->19 MB at 1e6 rays, see binned_containment_join
        # docstring).
        hits = binned_containment_join(
            proj, sensors, cell=50.0, extra_keys=["layer"], broadcast_rects=True
        )
    else:
        hits = proj.join(
            F.broadcast(sensors),
            (proj["layer"] == sensors["layer"])
            & (sensors["ax1"] < proj["px"])
            & (proj["px"] < sensors["ax2"])
            & (sensors["ay1"] < proj["py"])
            & (proj["py"] < sensors["ay2"]),
            "inner",
        ).drop(sensors["layer"])
    n_per_event = hits.groupBy("event_id").agg(F.countDistinct("layer").alias("n"))
    return (
        rays.select("event_id", "eta")
        .join(n_per_event, "event_id", "left")
        .fillna({"n": 0})
    )


def real_hit_count_histogram(
    spark: SparkSession, n_rays: int, yaml_path: str, layout: str = "new"
) -> DataFrame:
    """Hist1D(nHits) over a REAL layout — the stored-output twin of
    geometric_acceptance.ipynb cell 62 (`Hist1D(nHits['TDR'],
    "5,-0.5,4.5")`)."""
    return (
        real_ray_hits(spark, n_rays, yaml_path, layout)
        .groupBy(F.col("n").cast("bigint").alias("n"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def real_acceptance_profile(
    spark: SparkSession,
    n_rays: int,
    yaml_path: str,
    layout: str = "new",
    strategy: str = "binned",
) -> DataFrame:
    """Efficiency + mean hit count + mean time resolution per eta bin
    over the REAL exported layout. Identical plan to the flagship
    (rays never shuffle; the sensor dimension broadcasts; the only
    wide exchange is the bins-sized final agg) — only the rect side
    and the bin spec differ."""
    per_ray = real_ray_hits(spark, n_rays, yaml_path, layout, strategy)
    return (
        per_ray.groupBy(REAL_ETA_BINS.bin_of("eta").alias("eta_bin"))
        .agg(
            F.count(F.lit(1)).alias("n_rays"),
            F.round(F.avg((F.col("n") > 0).cast("double")), 6).alias("eff"),
            F.round(F.avg(F.col("n").cast("double")), 6).alias("mean_n"),
            F.round(
                F.avg(F.when(F.col("n") > 0, T_COEFF / F.sqrt(F.col("n")))), 6
            ).alias("mean_t"),
        )
    )


def _real_hits_cte(n_rays: int, yaml_path: str, layout: str) -> str:
    """Shared CTE prefix for the real-layout oracles: the real centers
    are flattened driver-side into a VALUES CTE (DuckDB has no YAML
    reader); corners are derived with the SAME literal arithmetic so
    the doubles are bit-identical."""
    rows = real_layout_sensor_rows(yaml_path, layout)
    values = ",".join(f"({lyr},{x!r},{y!r})" for lyr, x, y in rows)
    return f"""
WITH layers AS ({datagen.LAYERS_SQL}),
sensors AS (
  SELECT layer,
         x - {REAL_ACTIVE_HALF_X!r} AS ax1, x + {REAL_ACTIVE_HALF_X!r} AS ax2,
         y - {REAL_ACTIVE_HALF_Y!r} AS ay1, y + {REAL_ACTIVE_HALF_Y!r} AS ay2
  FROM (VALUES {values}) AS c(layer, x, y)
),
rays AS (SELECT * FROM ({datagen.rays_sql(n_rays)}) WHERE eta < {REAL_ETA_BINS.hi!r}),
proj AS (
  SELECT r.event_id, l.layer,
         l.z_mm * r.tanth * r.cphi AS px,
         l.z_mm * r.tanth * r.sphi AS py
  FROM rays r CROSS JOIN layers l
),
hits AS (
  SELECT p.event_id, count(DISTINCT p.layer) AS n
  FROM proj p
  JOIN sensors s
    ON s.layer = p.layer
   AND s.ax1 < p.px AND p.px < s.ax2
   AND s.ay1 < p.py AND p.py < s.ay2
  GROUP BY p.event_id
),
per_ray AS (
  SELECT r.event_id, r.eta, coalesce(h.n, 0) AS n
  FROM rays r LEFT JOIN hits h USING (event_id)
)
"""


def real_acceptance_profile_sql(
    n_rays: int, yaml_path: str, layout: str = "new"
) -> str:
    b = REAL_ETA_BINS
    return (
        _real_hits_cte(n_rays, yaml_path, layout)
        + f"""
SELECT {b.bin_sql('eta')} AS eta_bin,
       count(*) AS n_rays,
       round(avg(CASE WHEN n > 0 THEN 1.0 ELSE 0.0 END), 6) AS eff,
       round(avg(CAST(n AS DOUBLE)), 6) AS mean_n,
       round(avg(CASE WHEN n > 0 THEN {T_COEFF} / sqrt(n) END), 6) AS mean_t
FROM per_ray
GROUP BY 1
"""
    )


def real_hit_count_histogram_sql(
    n_rays: int, yaml_path: str, layout: str = "new"
) -> str:
    return (
        _real_hits_cte(n_rays, yaml_path, layout)
        + "SELECT CAST(n AS BIGINT) AS n, count(*) AS cnt FROM per_ray GROUP BY 1"
    )


# =====================================================================
# ONE-PASS multi-variant acceptance: geometric_acceptance.ipynb cell 60
# probes 4 detector variants PER RAY in a single pass. The efficient
# Spark shape is one ray scan joined against a variant-TAGGED union of
# corner tables — the ray side is projected once and never re-scanned
# per variant; only the dimension-sized corner union grows with the
# variant count.
# =====================================================================


def multi_variant_ray_hits(
    spark: SparkSession,
    n_rays: int,
    variants: dict[str, DataFrame],
) -> DataFrame:
    """Per (variant, event) hit counts from a SINGLE ray scan.

    Each variant's corner table (layer, ax1, ax2, ay1, ay2) is tagged
    and unioned; the binned containment join then matches every ray
    projection against every variant's rectangles in ONE equi-join on
    (layer, cell). Returns (variant, event_id, eta, n>0 rows only) —
    misses are reconstructed arithmetically in the profile (zero rows
    never materialize, so the plan does NOT blow up rays x variants)."""
    rays = datagen.rays(spark, n_rays).filter(F.col("eta") < F.lit(REAL_ETA_BINS.hi))
    tagged = None
    for name, corners in variants.items():
        t = corners.select(
            F.lit(name).alias("variant"), "layer", "ax1", "ax2", "ay1", "ay2"
        )
        tagged = t if tagged is None else tagged.unionByName(t)

    proj = (
        rays.crossJoin(F.broadcast(datagen.layers(spark)))
        .withColumn("px", F.col("z_mm") * F.col("tanth") * F.col("cphi"))
        .withColumn("py", F.col("z_mm") * F.col("tanth") * F.col("sphi"))
        .select("event_id", "eta", "layer", "px", "py")
    )
    hits = binned_containment_join(
        proj, tagged, cell=50.0, extra_keys=["layer"], broadcast_rects=True
    )
    return hits.groupBy("variant", "event_id").agg(
        F.first("eta").alias("eta"), F.countDistinct("layer").alias("n")
    )


def multi_variant_acceptance(
    spark: SparkSession,
    n_rays: int,
    variants: dict[str, DataFrame],
    per_hit: DataFrame | None = None,
) -> DataFrame:
    """(variant, eta_bin, n_rays, eff, mean_n, mean_t) for every
    variant from one ray scan. Per-bin ray totals are computed ONCE
    from the ray table (they are variant-independent); per-variant
    numerators come from the hit rows alone, so zero-hit rays are never
    materialized per variant:

        eff    = n_hit_events / n_rays_bin
        mean_n = sum(n) / n_rays_bin          (misses contribute 0)
        mean_t = avg(45/sqrt(n)) over hit events (misses excluded,
                 matching the single-variant profile's CASE WHEN n>0)

    `per_hit` optionally injects an already-materialized
    `multi_variant_ray_hits` table (the registry memoizes ONE such
    table per session for the two multi-variant queries — the ray
    scan + containment join is their dominant shared cost)."""
    if per_hit is None:
        per_hit = multi_variant_ray_hits(spark, n_rays, variants)
    rays = datagen.rays(spark, n_rays).filter(F.col("eta") < F.lit(REAL_ETA_BINS.hi))
    bin_col = REAL_ETA_BINS.bin_of("eta").alias("eta_bin")
    bin_tot = rays.groupBy(bin_col).agg(F.count(F.lit(1)).alias("n_rays"))
    vdim = local_table(
        per_hit.sparkSession,
        [(v,) for v in variants], "variant STRING"
    )
    grid = bin_tot.crossJoin(F.broadcast(vdim))
    hit_agg = per_hit.groupBy("variant", REAL_ETA_BINS.bin_of("eta").alias("eta_bin")).agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.sum("n").alias("sum_n"),
        F.sum(T_COEFF / F.sqrt(F.col("n"))).alias("sum_t"),
    )
    return (
        grid.join(hit_agg, ["variant", "eta_bin"], "left")
        .select(
            "variant",
            "eta_bin",
            "n_rays",
            F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_rays"), 6).alias("eff"),
            F.round(F.coalesce(F.col("sum_n"), F.lit(0)) / F.col("n_rays"), 6).alias("mean_n"),
            F.round(F.col("sum_t") / F.col("n_hit"), 6).alias("mean_t"),
        )
    )


def multi_variant_acceptance_sql(
    n_rays: int, variant_corner_sql: dict[str, str]
) -> str:
    """DuckDB twin: each variant contributes a corner SELECT (layer,
    ax1, ax2, ay1, ay2); the union is tagged identically."""
    union = " UNION ALL ".join(
        f"SELECT '{name}' AS variant, * FROM ({sql})"
        for name, sql in variant_corner_sql.items()
    )
    b = REAL_ETA_BINS
    return f"""
WITH layers AS ({datagen.LAYERS_SQL}),
corners AS ({union}),
rays AS (SELECT * FROM ({datagen.rays_sql(n_rays)}) WHERE eta < {b.hi!r}),
proj AS (
  SELECT r.event_id, r.eta, l.layer,
         l.z_mm * r.tanth * r.cphi AS px,
         l.z_mm * r.tanth * r.sphi AS py
  FROM rays r CROSS JOIN layers l
),
per_hit AS (
  SELECT c.variant, p.event_id, first(p.eta) AS eta,
         count(DISTINCT p.layer) AS n
  FROM proj p
  JOIN corners c
    ON c.layer = p.layer
   AND c.ax1 < p.px AND p.px < c.ax2
   AND c.ay1 < p.py AND p.py < c.ay2
  GROUP BY 1, 2
),
bin_tot AS (
  SELECT {b.bin_sql('eta')} AS eta_bin, count(*) AS n_rays
  FROM rays GROUP BY 1
),
vdim AS (SELECT DISTINCT variant FROM corners),
hit_agg AS (
  SELECT variant, {b.bin_sql('eta')} AS eta_bin,
         count(*) AS n_hit, sum(n) AS sum_n,
         sum({T_COEFF} / sqrt(n)) AS sum_t
  FROM per_hit GROUP BY 1, 2
)
SELECT v.variant, t.eta_bin, t.n_rays,
       round(coalesce(h.n_hit, 0) / CAST(t.n_rays AS DOUBLE), 6) AS eff,
       round(coalesce(h.sum_n, 0) / CAST(t.n_rays AS DOUBLE), 6) AS mean_n,
       round(h.sum_t / h.n_hit, 6) AS mean_t
FROM bin_tot t CROSS JOIN vdim v
LEFT JOIN hit_agg h ON h.variant = v.variant AND h.eta_bin = t.eta_bin
"""


def multi_variant_hit_histogram(
    spark: SparkSession,
    n_rays: int,
    variants: dict[str, DataFrame],
    per_hit: DataFrame | None = None,
) -> DataFrame:
    """Per-(variant, n) hit-count histogram + per-variant mean from
    the SAME one-pass ray scan as `multi_variant_acceptance`
    (geometric_acceptance.ipynb cells 62-66: `Hist1D(nHits[v],
    "5,-0.5,4.5")` per variant and the printed histogram means).

    The n=0 bin is reconstructed arithmetically (total rays minus the
    variant's hit events), so zero-hit rays are never materialized per
    variant — the hit sub-plan stays |hits|-sized, not rays x variants.
    The positive-bin aggregate feeds both the histogram rows and the
    per-variant mean; its shuffle is identical in both branches, so
    Spark's ReuseExchange evaluates the ray scan once.

    `per_hit` optionally injects an already-materialized
    `multi_variant_ray_hits` table (see multi_variant_acceptance)."""
    if per_hit is None:
        per_hit = multi_variant_ray_hits(spark, n_rays, variants)
    rays = datagen.rays(spark, n_rays).filter(F.col("eta") < F.lit(REAL_ETA_BINS.hi))
    total = rays.agg(F.count(F.lit(1)).alias("n_total"))
    pos = per_hit.groupBy(
        "variant", F.col("n").cast("bigint").alias("n")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    vdim = local_table(spark, [(v,) for v in variants], "variant STRING")
    sums = pos.groupBy("variant").agg(
        F.sum("cnt").alias("n_hit"), F.sum(F.col("n") * F.col("cnt")).alias("sum_n")
    )
    per_variant = (
        vdim.crossJoin(F.broadcast(total))
        .join(sums, "variant", "left")
        .select(
            "variant",
            "n_total",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce(F.col("sum_n"), F.lit(0)) / F.col("n_total"), 6
            ).alias("mean_n"),
        )
    )
    zero = per_variant.select(
        "variant",
        F.lit(0).cast("bigint").alias("n"),
        (F.col("n_total") - F.col("n_hit")).alias("cnt"),
    )
    hist = pos.select("variant", "n", "cnt").unionByName(zero)
    return hist.join(
        F.broadcast(per_variant.select("variant", "mean_n")), "variant"
    ).select("variant", "n", "cnt", "mean_n")


def multi_variant_hit_histogram_sql(
    n_rays: int, variant_corner_sql: dict[str, str]
) -> str:
    """DuckDB twin of `multi_variant_hit_histogram` — same tagged
    corner union, same arithmetic zero-bin reconstruction."""
    union = " UNION ALL ".join(
        f"SELECT '{name}' AS variant, * FROM ({sql})"
        for name, sql in variant_corner_sql.items()
    )
    b = REAL_ETA_BINS
    return f"""
WITH layers AS ({datagen.LAYERS_SQL}),
corners AS ({union}),
rays AS (SELECT * FROM ({datagen.rays_sql(n_rays)}) WHERE eta < {b.hi!r}),
total AS (SELECT count(*) AS n_total FROM rays),
proj AS (
  SELECT r.event_id, l.layer,
         l.z_mm * r.tanth * r.cphi AS px,
         l.z_mm * r.tanth * r.sphi AS py
  FROM rays r CROSS JOIN layers l
),
per_hit AS (
  SELECT c.variant, p.event_id, count(DISTINCT p.layer) AS n
  FROM proj p
  JOIN corners c
    ON c.layer = p.layer
   AND c.ax1 < p.px AND p.px < c.ax2
   AND c.ay1 < p.py AND p.py < c.ay2
  GROUP BY 1, 2
),
pos AS (
  SELECT variant, CAST(n AS BIGINT) AS n, count(*) AS cnt
  FROM per_hit GROUP BY 1, 2
),
vdim AS (SELECT DISTINCT variant FROM corners),
sums AS (
  -- CAST: DuckDB widens sum() to HUGEINT, which would diverge the
  -- driver's dtype-class compare from Spark's BIGINT
  SELECT variant, CAST(sum(cnt) AS BIGINT) AS n_hit,
         CAST(sum(n * cnt) AS BIGINT) AS sum_n
  FROM pos GROUP BY 1
),
per_variant AS (
  SELECT v.variant, t.n_total,
         coalesce(s.n_hit, 0) AS n_hit,
         round(coalesce(s.sum_n, 0) / CAST(t.n_total AS DOUBLE), 6) AS mean_n
  FROM vdim v CROSS JOIN total t
  LEFT JOIN sums s ON s.variant = v.variant
),
hist AS (
  SELECT variant, n, cnt FROM pos
  UNION ALL
  SELECT variant, CAST(0 AS BIGINT) AS n,
         CAST(n_total - n_hit AS BIGINT) AS cnt
  FROM per_variant
)
SELECT h.variant, h.n, h.cnt, p.mean_n
FROM hist h JOIN per_variant p ON h.variant = p.variant
"""


# ------------------------------------------------------------- oracle SQL
def _hits_cte(n_rays: int) -> str:
    return f"""
WITH layers AS ({datagen.LAYERS_SQL}),
sensors AS ({datagen.SENSORS_SQL}),
rays AS ({datagen.rays_sql(n_rays)}),
proj AS (
  SELECT r.event_id, l.layer,
         l.z_mm * r.tanth * r.cphi AS px,
         l.z_mm * r.tanth * r.sphi AS py
  FROM rays r CROSS JOIN layers l
),
hits AS (
  SELECT p.event_id, count(DISTINCT p.layer) AS n
  FROM proj p
  JOIN sensors s
    ON s.layer = p.layer
   AND s.ax1 < p.px AND p.px < s.ax2
   AND s.ay1 < p.py AND p.py < s.ay2
  GROUP BY p.event_id
),
per_ray AS (
  SELECT r.event_id, r.eta, coalesce(h.n, 0) AS n
  FROM rays r LEFT JOIN hits h USING (event_id)
)
"""


def acceptance_profile_sql(n_rays: int) -> str:
    b = ETA_BINS
    return (
        _hits_cte(n_rays)
        + f"""
SELECT {b.bin_sql('eta')} AS eta_bin,
       count(*) AS n_rays,
       round(avg(CASE WHEN n > 0 THEN 1.0 ELSE 0.0 END), 6) AS eff,
       round(avg(CAST(n AS DOUBLE)), 6) AS mean_n,
       round(avg(CASE WHEN n > 0 THEN {T_COEFF} / sqrt(n) END), 6) AS mean_t
FROM per_ray
GROUP BY 1
"""
    )


def hit_count_histogram_sql(n_rays: int) -> str:
    return (
        _hits_cte(n_rays)
        + "SELECT CAST(n AS BIGINT) AS n, count(*) AS cnt FROM per_ray GROUP BY 1"
    )
