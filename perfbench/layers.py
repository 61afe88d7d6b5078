"""Per-layer metrics of a traced run.

Two sources, both measured from the benchmark's own files:

* the set-up rounds and the traced passes: each call's construct/execute
  split and the engine counters the tracer read for it (`session.*`,
  `engine.*`, `plans.*`, `registry.*`, `sources.input_bytes`,
  `trace.overhead_pct`);
* the layer probes: isolated calls into one layer each, identical for
  every workload because their inputs come from the same seed
  (`sources.*_s`, `sources.bytes_written`, `datagen.rays_s`,
  `operators.containment.*`, `operators.bv_grouping.python_eval_s`,
  `operators.dedup.*`). A layer only one workload calls is probed on
  both, so every metric can move on both.

Failed tasks are not a metric: in local mode a failed task fails its
call, so the count is 0 on every correct run. The record carries it.
"""

from __future__ import annotations

import os
import statistics
import time

import gen

PROBE_RAYS = 100_000  # the mc_acceptance ray count
PROBE_DOCS_BASE = 125
CELL_MM = 50.0  # the binned containment join's cell width in real_ray_hits


def _med(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def _pass_sum(ps, field):
    return sum(getattr(c["counters"], field) for c in ps["calls"] if "counters" in c)


def layer_metrics(spark, tracer, wl, passes, start_times, work) -> dict:
    cold = passes[0]
    traced_warm = [ps for ps in passes[1:] if ps["traced"]]
    untraced_warm = [ps for ps in passes[1:] if not ps["traced"]]

    def warm(field):
        return _med(_pass_sum(ps, field) for ps in traced_warm)

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (_med(start_times), "s")
    m["session.jvm_heap_used_mb"] = (
        max(c["counters"].heap_used_mb for ps in passes for c in ps["calls"] if "counters" in c),
        "MB",
    )
    m["sources.input_bytes"] = (_pass_sum(cold, "input_bytes"), "bytes")
    m["plans.construct_s"] = (_med(sum(c["construct_s"] for c in ps["calls"]) for ps in traced_warm), "s")
    m["plans.construct_cold_s"] = (sum(c["construct_s"] for c in cold["calls"]), "s")
    m["plans.execute_s"] = (_med(sum(c["execute_s"] for c in ps["calls"]) for ps in traced_warm), "s")

    # Memo builds: what the cold call of each memo-building call costs
    # beyond the same call warm.
    warm_walls: dict[str, list[float]] = {}
    for ps in passes[1:]:
        for c in ps["calls"]:
            warm_walls.setdefault(c["name"], []).append(c["wall_s"])
    m["registry.family_build_s"] = (
        sum(
            c["wall_s"] - _med(warm_walls.get(c["name"], []))
            for c in cold["calls"]
            if c["name"] in wl.memo_calls
        ),
        "s",
    )
    m["registry.member_input_bytes"] = (
        _med(
            sum(c["counters"].input_bytes for c in ps["calls"] if c["name"] in wl.memo_calls)
            for ps in traced_warm
        ),
        "bytes",
    )

    m["engine.jobs"] = (warm("jobs"), "count")
    m["engine.stages"] = (warm("stages"), "count")
    m["engine.tasks"] = (warm("tasks"), "count")
    m["engine.driver_gap_s"] = (
        _med(
            sum(max(0.0, c["wall_s"] - c["counters"].job_run_s) for c in ps["calls"])
            for ps in traced_warm
        ),
        "s",
    )
    m["engine.codegen_compiles"] = (_pass_sum(cold, "codegen_compiles"), "count")
    m["engine.codegen_compile_s"] = (_pass_sum(cold, "codegen_compile_s"), "s")
    run_s, cpu_s = warm("executor_run_s"), warm("executor_cpu_s")
    m["engine.executor_run_s"] = (run_s, "s")
    m["engine.executor_cpu_s"] = (cpu_s, "s")
    m["engine.cpu_utilization"] = (cpu_s / run_s if run_s else 0.0, "ratio")
    m["engine.shuffle_read_bytes"] = (warm("shuffle_read_bytes"), "bytes")
    m["engine.shuffle_write_bytes"] = (warm("shuffle_write_bytes"), "bytes")
    m["engine.spill_bytes"] = (warm("spill_bytes"), "bytes")
    m["engine.gc_s"] = (warm("gc_s"), "s")
    traced_wall = _med(ps["wall_s"] for ps in traced_warm)
    # The first warm pass is still warming the JIT; compare against later ones.
    untraced_wall = _med(ps["wall_s"] for ps in (untraced_warm[1:] or untraced_warm))
    m["trace.overhead_pct"] = (100.0 * (traced_wall / untraced_wall - 1.0), "%")
    m.update(layer_probes(spark, tracer, wl.seed, os.path.join(work, "probe")))
    return m


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(base, f)) for base, _d, files in os.walk(path) for f in files)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def layer_probes(spark, tracer, seed: int, probe_dir: str) -> dict:
    """Isolated calls into single layers, on inputs made from the seed."""
    from pyspark.sql import functions as F

    from etl_sh_design_spark import datagen, registry
    from etl_sh_design_spark.operators.containment import binned_containment_join
    from etl_sh_design_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures_mapside
    from etl_sh_design_spark.plans import acceptance, layout_export
    from etl_sh_design_spark.sources import io as src

    m: dict[str, tuple[float, str]] = {}
    faces = gen.face_tsvs(seed, os.path.join(probe_dir, "faces"))
    yaml_path = os.path.join(probe_dir, "layout.yaml")
    cache = os.path.join(probe_dir, "cache")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    t, _ = _timed(lambda: layout_export.export_layout(spark, faces, yaml_path))
    m["sources.export_layout_s"] = (t, "s")

    rays = datagen.rays(spark, PROBE_RAYS)
    t, _ = _timed(lambda: noop(rays))
    m["datagen.rays_s"] = (t, "s")

    # The containment join on the projected points real_ray_hits builds;
    # candidates are the rows of its cell equi-join before the exact
    # predicate, counted with the same cell width.
    sensors = acceptance.real_layout_sensors(spark, yaml_path)
    proj = (
        rays.crossJoin(F.broadcast(datagen.layers(spark)))
        .withColumn("px", F.col("z_mm") * F.col("tanth") * F.col("cphi"))
        .withColumn("py", F.col("z_mm") * F.col("tanth") * F.col("sphi"))
        .select("event_id", "layer", "px", "py")
    )
    hits_df = binned_containment_join(proj, sensors, cell=CELL_MM, extra_keys=["layer"], broadcast_rects=True)
    t, hits = _timed(hits_df.count)
    m["operators.containment.join_s"] = (t, "s")
    cells = (
        sensors.withColumn("cell_x", F.explode(F.sequence(
            F.floor(F.col("ax1") / CELL_MM).cast("bigint"), F.floor(F.col("ax2") / CELL_MM).cast("bigint"))))
        .withColumn("cell_y", F.explode(F.sequence(
            F.floor(F.col("ay1") / CELL_MM).cast("bigint"), F.floor(F.col("ay2") / CELL_MM).cast("bigint"))))
    )
    pcells = proj.withColumn("cell_x", F.floor(F.col("px") / CELL_MM).cast("bigint")).withColumn(
        "cell_y", F.floor(F.col("py") / CELL_MM).cast("bigint")
    )
    candidates = pcells.join(F.broadcast(cells), ["layer", "cell_x", "cell_y"]).count()
    m["operators.containment.candidates_per_hit"] = (candidates / hits if hits else 0.0, "ratio")

    profile = acceptance.real_acceptance_profile(spark, 20_000, yaml_path)
    small = spark.createDataFrame(profile.collect(), profile.schema)
    t, _ = _timed(lambda: src.cache_result(small, cache, "probe"))
    m["sources.cache_result_s"] = (t, "s")
    t, _ = _timed(lambda: src.read_cached_runs(spark, cache, ["probe"]).collect())
    m["sources.read_cached_runs_s"] = (t, "s")
    m["sources.bytes_written"] = (_tree_bytes(yaml_path) + _tree_bytes(cache), "bytes")

    docs_dir = os.path.join(probe_dir, "docs")
    gen.documents(seed, docs_dir, PROBE_DOCS_BASE)
    docs = spark.read.parquet(os.path.join(docs_dir, "documents.parquet")).select("doc_id", "text")
    noop(minhash_signatures_mapside(docs, k=16, n=3))  # compile once
    t, _ = _timed(lambda: noop(minhash_signatures_mapside(docs, k=16, n=3)))
    m["operators.dedup.signatures_s"] = (t, "s")
    sigs = minhash_signatures_mapside(docs, k=16, n=3)
    m["operators.dedup.lsh_pairs_rows"] = (minhash_lsh_pairs(docs, sig=sigs).count(), "count")

    # Python-worker time of the bias-voltage grouping (applyInPandas), warm.
    bv = registry.queries()["bv_greedy_groups"]
    bv(spark, probe_dir).collect()
    tracer.begin_call("probe.bv_greedy_groups")
    df = bv(spark, probe_dir)
    df.collect()
    counters = tracer.end_call(None, None, 0.0)  # df stays referenced: its metrics are read live
    m["operators.bv_grouping.python_eval_s"] = (counters.python_eval_s, "s")
    return m
