"""Stable RID allocation for DML-created classes + bounded copy-on-write
plan lineage (persistent position counter instead of
monotonically_increasing_id; periodic localCheckpoint in set_dataframe)."""

from __future__ import annotations

from orientdb_spark import Engine


def test_rids_stable_across_updates(spark):
    eng = Engine(spark)
    eng.command("create class ridt")
    eng.command("insert into ridt (name, v) values ('a', 1)")
    eng.command("insert into ridt (name, v) values ('b', 2)")
    eng.command("insert into ridt (name, v) values ('c', 3)")
    before = {r.name: r.rid for r in eng.sql("select name, @rid as rid from ridt").collect()}
    assert len({v for v in before.values()}) == 3  # distinct rids
    eng.command("update ridt set v = v * 10 where name = 'b'")
    eng.command("delete from ridt where name = 'c'")
    after = {r.name: r.rid for r in eng.sql("select name, @rid as rid from ridt").collect()}
    assert after == {k: v for k, v in before.items() if k != "c"}
    # a new insert gets a fresh position, not a reused one
    eng.command("insert into ridt (name, v) values ('d', 4)")
    rids = {r.name: r.rid for r in eng.sql("select name, @rid as rid from ridt").collect()}
    assert rids["d"] not in before.values()


def test_keyed_record_keeps_rid_when_key_changes(spark):
    """RIDs are physical: a class registered with a key rule derives each
    record's position once, so an UPDATE of the key column leaves @rid
    where it was."""
    from pyspark.sql import functions as F

    eng = Engine(spark)
    eng.register_dataframe(
        "keyed",
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"),
        rid_pos=lambda d: F.col("id"),
    )
    before = {r.name: r.rid for r in eng.sql("select name, @rid as rid from keyed").collect()}
    eng.command("update keyed set id = 50 where name = 'b'")
    after = {r.name: r.rid for r in eng.sql("select name, @rid as rid from keyed").collect()}
    assert after == before
    assert [r.name for r in eng.sql(f"select name from #{before['b'].cluster}:2").collect()] == ["b"]


def test_create_link_keeps_rids_and_versions(spark):
    """CREATE LINK rewrites the source class; its records keep their @rid
    and @version through that rewrite."""
    eng = Engine(spark)
    eng.command("create class lk_city")
    eng.command("insert into lk_city (name) values ('Rome')")
    eng.command("create class lk_person")
    for name in ("ann", "bob", "cid"):
        eng.command(f"insert into lk_person (name, city) values ('{name}', 'Rome')")
    eng.command("update lk_person set city = 'Rome' where name = 'bob'")
    q = "select name, @rid as rid, @version as v from lk_person"
    before = {r.name: (r.rid, r.v) for r in eng.sql(q).collect()}
    eng.command("create link lives from lk_person.city to lk_city.name")
    assert {r.name: (r.rid, r.v) for r in eng.sql(q).collect()} == before


def test_sequential_updates_keep_plan_bounded(spark):
    eng = Engine(spark)
    eng.command("create class seqt")
    eng.command("insert into seqt (k, v) values (1, 0)")
    plans = []
    for i in range(20):
        eng.command(f"update seqt set v = {i} where k = 1")
        df = eng.table("seqt")
        plans.append(len(df._jdf.queryExecution().analyzed().toString()))
    assert eng.query("select v from seqt")[0]["v"] == 19
    # checkpoint every 8 rewrites: the plan collapses periodically (a
    # checkpointed scan is ~100 chars) and never exceeds one window's
    # growth — without the checkpoint, 20 stacked withColumn(when…)
    # rewrites grow the plan monotonically past 10k chars
    assert min(plans[6:]) < 300
    assert max(plans) < 8000
