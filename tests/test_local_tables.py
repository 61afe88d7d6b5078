"""Driver-side dimension tables are JVM-local relations
(`sources.io.local_table`): their executed plans read a LocalTableScan,
never the ExistingRDD scan of a parallelized Python list, so running
them starts no Python worker — also with Arrow execution disabled, as
in a vanilla session."""

from __future__ import annotations

import ast
import os

import pytest

from etl_sh_design_spark import datagen
from etl_sh_design_spark.operators.partition import partition_lookup
from etl_sh_design_spark.plans import acceptance, tiling
from etl_sh_design_spark.sources import io as src

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "etl_sh_design_spark")


@pytest.fixture
def arrow_off(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield spark
    spark.conf.set(key, before)


@pytest.fixture
def layout_yaml(tmp_path):
    path = tmp_path / "layout.yaml"
    path.write_text(
        "new:\n"
        "  disk1:\n"
        "    front: [[10.0, 20.0], [-10.0, 20.0]]\n"
        "    back: [[5.0, 7.5]]\n"
        "  disk2:\n"
        "    front: [[1.0, 2.0]]\n"
    )
    return str(path)


BUILDERS = {
    "layers": lambda spark, _yaml: datagen.layers(spark),
    "bv_curves": lambda spark, _yaml: datagen.bv_curves(spark),
    "mod_partitions": lambda spark, _yaml: datagen.mod_partitions(spark),
    "partition_lookup": lambda spark, _yaml: partition_lookup(spark),
    "slots_blocked_table": lambda spark, _yaml: tiling.slots_blocked_table(spark),
    "real_layout_sensors": lambda spark, yaml: acceptance.real_layout_sensors(spark, yaml, "new"),
    "read_yaml_layout": src.read_yaml_layout,
}


@pytest.mark.parametrize("name", sorted(BUILDERS))
def test_dimension_builders_plan_local_table_scan(arrow_off, layout_yaml, name):
    df = BUILDERS[name](arrow_off, layout_yaml)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert df.count() > 0


def test_local_table_keeps_types_nulls_and_empty(arrow_off):
    spark = arrow_off
    df = src.local_table(
        spark,
        [(1, 2**40, 1.5, "a", [3, 4]), (None, None, None, None, None)],
        "i INT, l BIGINT, d DOUBLE, s STRING, a ARRAY<INT>",
    )
    assert df.dtypes == [
        ("i", "int"), ("l", "bigint"), ("d", "double"), ("s", "string"), ("a", "array<int>"),
    ]
    assert [tuple(r) for r in df.collect()] == [
        (1, 2**40, 1.5, "a", [3, 4]),
        (None, None, None, None, None),
    ]
    empty = src.local_table(spark, [], "qid BIGINT, cos DOUBLE")
    assert empty.dtypes == [("qid", "bigint"), ("cos", "double")]
    assert empty.collect() == []


def test_local_table_rejects_ragged_rows(spark):
    with pytest.raises(ValueError):
        src.local_table(spark, [(1, 2.0), (3,)], "a INT, b DOUBLE")


def test_no_create_dataframe_outside_local_table():
    """Every driver-side table goes through the one helper: any other
    `createDataFrame(` call in the package would bring back the
    Python-worker round trip."""
    helper = os.path.join(PKG, "sources", "io.py")
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            allowed = set()
            if path == helper:
                for node in ast.walk(tree):
                    if isinstance(node, ast.FunctionDef) and node.name == "local_table":
                        allowed |= {id(n) for n in ast.walk(node)}
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and id(node) not in allowed
                ):
                    offenders.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert not offenders, offenders
