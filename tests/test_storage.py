"""Database save/open roundtrip — parquet per class + JSON catalog."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from orientdb_spark import Engine
from orientdb_spark.catalog import OProperty
from orientdb_spark.otypes import OType

from tests.conftest import SF_DIR


def test_save_open_roundtrip_with_schema(spark):
    eng = Engine(spark)
    eng.register_dataframe(
        "animal",
        spark.createDataFrame([(1, "generic")], "id long, name string"),
        rid_pos=lambda d: F.col("id"),
    )
    eng.register_dataframe(
        "dog",
        spark.createDataFrame([(2, "rex"), (3, "fido")], "id long, name string"),
        super_class="animal",
        rid_pos=lambda d: F.col("id"),
    )
    eng.catalog.get("animal").properties["name"] = OProperty(
        name="name", otype=OType.STRING, mandatory=True, index_type="fulltext"
    )
    from orientdb_spark.fulltext import build_fulltext_index

    build_fulltext_index(eng, "animal", "name")
    eng.command("update dog set name = 'max' where id = 2")  # version bump

    db = tempfile.mkdtemp(prefix="ospark_db_")
    eng.save_database(db)

    eng2 = Engine(spark)
    eng2.open_database(db)
    # polymorphic scan includes the subclass after reload
    assert eng2.query("select count(*) as n from animal")[0]["n"] == 3
    # schema survived: constraints + inheritance + cluster ids
    cls = eng2.catalog.get("animal")
    assert cls.properties["name"].mandatory
    assert eng2.catalog.get("dog").super_class == "animal"
    assert cls.cluster_id == eng.catalog.get("animal").cluster_id
    # versions survived the roundtrip
    vers = {
        r["id"]: r["v"]
        for r in eng2.query("select id, @version as v from dog")
    }
    assert vers == {2: 1, 3: 0}
    # fulltext index rebuilt and auto-used
    rows = eng2.query("select id from animal where name containstext 'generic'")
    assert [r["id"] for r in rows] == [1]


def test_save_collapses_dml_lineage(spark):
    eng = Engine(spark)
    eng.register_dataframe("t", spark.read.parquet(f"{SF_DIR}/region.parquet"))
    for i in range(5):
        eng.command(f"update t set r_name = 'N{i}' where r_regionkey = {i}")
    db = tempfile.mkdtemp(prefix="ospark_db_")
    eng.save_database(db)
    eng2 = Engine(spark)
    eng2.open_database(db)
    names = sorted(r["r_name"] for r in eng2.query("select r_name from t"))
    assert names == ["N0", "N1", "N2", "N3", "N4"]


def test_insert_after_reopen_gets_position_above_saved_max(spark):
    """A reopened class keeps its saved positions, and a new INSERT takes
    the next one from the counter — non-null and above the saved maximum."""
    eng = Engine(spark)
    eng.command("create class reo")
    eng.append("reo", spark.createDataFrame([("a",), ("b",), ("c",)], "name string"))
    db = tempfile.mkdtemp(prefix="ospark_db_")
    eng.save_database(db)
    saved = {r["name"]: r["rid"] for r in eng.query("select name, @rid as rid from reo")}

    eng2 = Engine(spark)
    eng2.open_database(db)
    eng2.command("insert into reo (name) values ('d')")
    got = {r["name"]: r["rid"] for r in eng2.query("select name, @rid as rid from reo")}
    assert {k: got[k] for k in saved} == saved
    top = max(rid["pos"] for rid in saved.values())
    assert got["d"]["pos"] is not None and got["d"]["pos"] > top


def test_compact_table_merges_small_files(spark, tmp_path):
    """Compaction must cut the file count without changing the rows, and
    leave an already-compact table untouched."""
    from orientdb_spark.storage import compact_table

    p = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(p)
    import os as _os

    before = len([f for f in _os.listdir(p) if f.endswith(".parquet")])
    assert before >= 40
    stats = compact_table(spark, p, target_file_mb=128)
    assert stats["files_before"] == before
    assert stats["files_after"] == 1
    back = spark.read.parquet(p)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]
    # second pass is a no-op
    stats2 = compact_table(spark, p, target_file_mb=128)
    assert stats2["files_after"] == stats2["files_before"] == 1


def test_write_sorted_produces_prunable_row_groups(spark, tmp_path):
    """Sorted layout must yield near-disjoint per-file key ranges (the
    parquet min/max stats a filtered scan prunes on), where a random
    layout gives every file ~the full range."""
    import os as _os

    import pyarrow.parquet as pq

    from orientdb_spark.storage import write_sorted

    df = spark.range(0, 100_000).withColumn(
        "k", (F.col("id") * 2654435761 % 100_000).cast("long")
    )

    def ranges(p):
        out = []
        for f in _os.listdir(p):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(_os.path.join(p, f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["k"]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                out.append((st.min, st.max))
        return out

    sorted_p = str(tmp_path / "sorted")
    random_p = str(tmp_path / "random")
    write_sorted(df, sorted_p, by=["k"], n_files=8)
    df.repartition(8).write.parquet(random_p)

    full = 100_000
    sorted_cov = sum(mx - mn for mn, mx in ranges(sorted_p)) / full
    random_cov = sum(mx - mn for mn, mx in ranges(random_p)) / full
    # sorted: ranges partition the key space (sum ~= 1x the domain);
    # random: every group spans ~the whole domain (sum ~= n_groups x)
    assert sorted_cov < 1.5, sorted_cov
    assert random_cov > 4.0, random_cov


def test_write_zordered_prunes_2d_boxes(spark, tmp_path):
    """Z-order layout must bound row groups in BOTH dimensions: a small
    2-D box predicate should intersect far fewer row-group rectangles
    than under a single-column sort (where y-extents stay ~full-domain),
    and the written data must be byte-identical content-wise."""
    import os as _os

    import pyarrow.parquet as pq

    from orientdb_spark.storage import write_sorted, write_zordered

    n = 100_000
    # two INDEPENDENT hash scatters — linear-congruential pairs of the
    # same id are collinear mod n and break the 2-D geometry
    df = spark.range(0, n).select(
        F.pmod(F.xxhash64(F.col("id")), F.lit(n)).cast("double").alias("x"),
        F.pmod(F.xxhash64(F.lit("y"), F.col("id")), F.lit(n)).cast("double").alias("y"),
    )

    def rects(p):
        out = []
        for f in _os.listdir(p):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(_os.path.join(p, f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                sx = md.row_group(rg).column(idx["x"]).statistics
                sy = md.row_group(rg).column(idx["y"]).statistics
                out.append((sx.min, sx.max, sy.min, sy.max))
        return out

    zp, sp = str(tmp_path / "z"), str(tmp_path / "lin")
    write_zordered(df, zp, cols=["x", "y"], bits=10, n_files=64)
    write_sorted(df, sp, by=["x"], n_files=64)

    def hit(rs, box):
        x0, x1, y0, y1 = box
        return sum(
            1 for (a, b, c, d) in rs if not (b < x0 or a > x1 or d < y0 or c > y1)
        )

    import random as _random

    rng = _random.Random(5)
    boxes = []
    for _ in range(20):
        x0, y0 = rng.uniform(0, 0.95) * n, rng.uniform(0, 0.95) * n
        boxes.append((x0, x0 + 0.05 * n, y0, y0 + 0.05 * n))
    zr_, lr_ = rects(zp), rects(sp)
    z_hits = sum(hit(zr_, b) for b in boxes)
    lin_hits = sum(hit(lr_, b) for b in boxes)
    # z-order: a 5%x5% box hits a few curve tiles; x-sort: every group
    # spans the full y domain, so ~4 groups per box regardless of y
    assert z_hits < 0.7 * lin_hits, (z_hits, lin_hits)
    # content preserved exactly
    zr = sorted(map(tuple, spark.read.parquet(zp).collect()))
    orig = sorted(map(tuple, df.collect()))
    assert zr == orig


def test_snapshot_diff_roundtrip_reconstructs_new(spark):
    """Applying the extracted changes to old (upsert inserts+updates,
    anti-join deletes) must reconstruct new exactly — the CDC
    round-trip contract with merge_upsert."""
    from pyspark.sql import functions as F

    from orientdb_spark.storage import merge_upsert, snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
        "k INT, s STRING, v DOUBLE",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "B", 2.0), (3, "c", 3.0), (5, "e", 5.0)],
        "k INT, s STRING, v DOUBLE",
    )
    diff = snapshot_diff(old, new, "k").cache()
    got = {r["k"]: r["change"] for r in diff.collect()}
    # 1 unchanged (absent), 2 updated, 3 NULL->value update, 4 deleted, 5 inserted
    assert got == {2: "update", 3: "update", 4: "delete", 5: "insert"}
    applied = merge_upsert(
        old,
        diff.filter(F.col("change") != "delete").select("k", "s", "v"),
        "k",
    ).join(diff.filter(F.col("change") == "delete").select("k"), "k", "left_anti")
    assert sorted(map(tuple, applied.collect())) == sorted(map(tuple, new.collect()))


def test_snapshot_diff_compare_cols_subset_and_validation(spark):
    """Restricting compare_cols makes out-of-scope edits invisible;
    unknown columns fail fast."""
    import pytest

    from orientdb_spark.storage import snapshot_diff

    old = spark.createDataFrame([(1, "a", 1.0)], "k INT, s STRING, v DOUBLE")
    new = spark.createDataFrame([(1, "a", 9.0)], "k INT, s STRING, v DOUBLE")
    assert snapshot_diff(old, new, "k", compare_cols=["s"]).count() == 0
    assert snapshot_diff(old, new, "k", compare_cols=["v"]).count() == 1
    with pytest.raises(ValueError):
        snapshot_diff(old, new, "k", compare_cols=["nope"])
