"""Export / import / compare tools (DbImportExportTest flow)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from orientdb_spark import Engine
from orientdb_spark.tools import (
    compare_classes,
    export_class,
    export_database,
    import_class,
    roundtrip_identical,
)

from tests.conftest import SF_DIR


def _eng(spark):
    eng = Engine(spark)
    eng.register_parquet_dir(SF_DIR)
    return eng


def test_export_import_compare_roundtrip(spark):
    eng = _eng(spark)
    tmp = tempfile.mkdtemp(prefix="ospark_tools_")
    assert roundtrip_identical(eng, "nation", tmp)


def test_compare_detects_difference(spark):
    eng = _eng(spark)
    tmp = tempfile.mkdtemp(prefix="ospark_tools_")
    export_class(eng, "region", f"{tmp}/region")
    import_class(eng, "region2", f"{tmp}/region")
    eng.command("update region2 set r_name = 'CHANGED' where r_regionkey = 0")
    diff = compare_classes(eng, "region", "region2")
    assert diff.count() == 2  # one row differs -> present on both sides
    sides = {r["__side"] for r in diff.collect()}
    assert sides == {"a", "b"}


def test_export_database_manifest(spark):
    import json
    import os

    eng = Engine(spark)
    eng.register_dataframe(
        "tiny", spark.createDataFrame([(1, "x")], "id long, v string"),
        rid_pos=lambda d: F.col("id"),
    )
    tmp = tempfile.mkdtemp(prefix="ospark_tools_")
    paths = export_database(eng, tmp)
    assert "tiny" in paths
    with open(os.path.join(tmp, "manifest.json")) as fh:
        manifest = json.load(fh)
    assert manifest["tiny"]["cluster_id"] == eng.catalog.get("tiny").cluster_id


def test_rid_stable_across_reimport(spark):
    eng = _eng(spark)
    tmp = tempfile.mkdtemp(prefix="ospark_tools_")
    export_class(eng, "nation", f"{tmp}/nation")
    import_class(eng, "nation_r", f"{tmp}/nation")
    orig = eng.catalog.dataframe("nation", polymorphic=False, with_meta=True).select(
        F.col("n_nationkey"), F.col("@rid.pos").alias("pos")
    )
    back = eng.catalog.dataframe("nation_r", polymorphic=False, with_meta=True).select(
        F.col("n_nationkey"), F.col("@rid.pos").alias("pos")
    )
    assert orig.exceptAll(back).count() == 0


def test_insert_after_import_gets_position(spark):
    """An imported class keeps the exported positions, and a new INSERT
    gets a non-null one above them."""
    eng = _eng(spark)
    tmp = tempfile.mkdtemp(prefix="ospark_tools_")
    export_class(eng, "region", f"{tmp}/region")
    import_class(eng, "region_i", f"{tmp}/region")
    eng.command("insert into region_i (r_regionkey, r_name) values (9, 'NEW')")
    pos = {
        r["r_name"]: r["rid"]["pos"]
        for r in eng.query("select r_name, @rid as rid from region_i")
    }
    assert pos["NEW"] is not None
    assert pos["NEW"] > max(p for name, p in pos.items() if name != "NEW")
