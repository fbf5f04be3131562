"""Database export / import / compare — the reference's db tools.

Reference: core:db/tool/ODatabaseExport.java (~450 LoC JSON dump incl.
record metadata), ODatabaseImport.java, ODatabaseCompare.java; test
tests:database/auto/DbImportExportTest.java (export → import → compare
must be identical).

Spark shape: per-class JSON dumps carrying @rid/@class/@version as
ordinary JSON keys; import re-registers classes from the dumps; compare
is a two-way exceptAll — empty both directions ⇔ structurally identical
(the reference walks both databases record by record; one distributed
anti-join each way computes the same predicate)."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from orientdb_spark.catalog import CLASS_COL, RID_COL, RID_POS_COL, VERSION_COL


def export_class(engine, class_name: str, path: str) -> None:
    """JSON dump of one class including record metadata — @rid rendered as
    the reference's '#cluster:pos' literal (ORecordSerializerJSON)."""
    df = engine.catalog.dataframe(class_name, polymorphic=False, with_meta=True)
    out = df.withColumn(
        RID_COL,
        F.concat(
            F.lit("#"),
            F.col(f"`{RID_COL}`.cluster").cast("string"),
            F.lit(":"),
            F.col(f"`{RID_COL}`.pos").cast("string"),
        ),
    )
    out.write.mode("overwrite").json(path)


def export_database(engine, out_dir: str) -> dict[str, str]:
    """Whole-DB dump: one JSON dir per class + a manifest of schema info."""
    paths: dict[str, str] = {}
    manifest = {}
    for name in engine.catalog.class_names():
        cls = engine.catalog.get(name)
        if cls.df_supplier is None:
            continue
        path = os.path.join(out_dir, name)
        export_class(engine, name, path)
        paths[name] = path
        manifest[name] = {
            "cluster_id": cls.cluster_id,
            "super_class": cls.super_class,
            "properties": sorted(cls.properties),
        }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2)
    return paths


def import_class(engine, class_name: str, path: str, **register_kw) -> None:
    """Reload a class from its JSON dump; metadata keys become engine
    metadata again (rid position parsed back from '#cluster:pos' into the
    hidden ``__rid_pos`` column so re-exported RIDs are stable)."""
    df = engine.spark.read.json(path)
    meta = [c for c in (RID_COL, CLASS_COL, VERSION_COL) if c in df.columns]
    if RID_COL in df.columns:
        pos_col = F.split(F.regexp_replace(F.col(f"`{RID_COL}`"), "#", ""), ":").getItem(1)
        df = df.withColumn(RID_POS_COL, pos_col.cast("long"))
    engine.register_dataframe(class_name, df.drop(*meta), **register_kw)


def compare_classes(engine, class_a: str, class_b: str, with_meta: bool = False) -> DataFrame:
    """Structural diff (ODatabaseCompare): rows in exactly one side.
    Empty result ⇔ identical content."""
    a = engine.catalog.dataframe(class_a, polymorphic=False, with_meta=with_meta)
    b = engine.catalog.dataframe(class_b, polymorphic=False, with_meta=with_meta)
    if with_meta:
        # class name differs by construction; compare rid/version + data
        a = a.drop(CLASS_COL)
        b = b.drop(CLASS_COL)
    a = a.drop(*[c for c in a.columns if c.startswith("__")])
    b = b.drop(*[c for c in b.columns if c.startswith("__")])
    cols = sorted(a.columns)
    a = a.select(*cols)
    # align b to a's types — JSON reload widens (int→long etc.), but record
    # equality is on logical values, as in the reference's compare
    b = b.select(*[F.col(f"`{c}`").cast(a.schema[c].dataType).alias(c) for c in cols])
    return a.exceptAll(b).withColumn("__side", F.lit("a")).unionByName(
        b.exceptAll(a).withColumn("__side", F.lit("b"))
    )


def roundtrip_identical(engine, class_name: str, tmp_dir: str) -> bool:
    """export → import → compare, the DbImportExportTest flow."""
    path = os.path.join(tmp_dir, class_name)
    export_class(engine, class_name, path)
    import_class(engine, f"{class_name}__reimport", path)
    return compare_classes(engine, class_name, f"{class_name}__reimport").isEmpty()
