"""Class/schema catalog — the OSchema/OClass/OProperty analog.

Reference behavior reproduced (see SURVEY.md §1.3):
- class registry persisted as metadata (core:metadata/schema/OSchema.java:36+)
- class = name + properties + clusters + single-inheritance superclass
  (core:metadata/schema/OClass.java:34-46,103-118); property lookup walks the
  superclass chain (OClass.java:144-160)
- polymorphic scan = union of the class's and all subclasses' clusters
  (OClass.java:294, core:iterator/ORecordIteratorClass.java:36-51)
- records carry @rid / @class / @version metadata
  (core:id/ORecordId.java, core:record/ORecordAbstract.java)

Spark mapping: a class is a DataFrame supplier (parquet path or in-memory),
inheritance resolves to ``unionByName(allowMissingColumns=True)`` over the
subclass DataFrames, and the metadata pseudo-columns are materialized as real
columns on demand so Catalyst can prune/push down on them.

LINK properties (core:metadata/schema/OProperty.java linkedClass) are
generalized to value-based foreign keys: a link spec says "this column's
value equals <target class>.<target key>"; navigation across it compiles to
an equi-join (SURVEY §2.4). RID-valued links use target key ``@rid``.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from orientdb_spark.errors import OSchemaException
from orientdb_spark.otypes import OType

# Engine metadata pseudo-columns (core:sql/filter/OSQLFilterItemRecordAttrib.java:24-60)
RID_COL = "@rid"
CLASS_COL = "@class"
VERSION_COL = "@version"
# hidden per-row version storage maintained by DML (surfaced as @version)
BACKING_VERSION_COL = "__version"
META_COLS = (RID_COL, CLASS_COL, VERSION_COL)
# schema-mixed overflow: per-record undeclared fields land in this
# map<string,string> column (ODocument accepts fields outside the declared
# schema, core:record/impl/ODocument.java:55-57; SURVEY §7 hard-part 1)
EXTRA_COL = "_extra"
# hidden RID position — the one record identity every layer reads (@rid,
# tx rebase, save/open, import). The catalog alone writes it: a class's key
# rule fills it at registration, Catalog.assign_positions gives new rows
# theirs, and copy-on-write rewrites carry it, so @rid never moves
RID_POS_COL = "__rid_pos"
# collapse DML plan lineage every N copy-on-write swaps: N sequential
# UPDATEs otherwise build an N-deep withColumn(when…) plan
DML_CHECKPOINT_EVERY = 8


@dataclass
class OProperty:
    """Schema property (core:metadata/schema/OProperty.java).

    ``linked_class``/``linked_key`` describe a value-based link: the column
    holds values of ``linked_class.linked_key`` (``@rid`` for true RID links).
    ``index_type`` in {None, 'unique', 'notunique', 'fulltext'}
    (OProperty.java:41-43).
    """

    name: str
    otype: OType | None = None
    linked_class: str | None = None
    linked_key: str | None = None
    mandatory: bool = False
    not_null: bool = False
    min: str | None = None
    max: str | None = None
    index_type: str | None = None


@dataclass
class OClass:
    """Schema class (core:metadata/schema/OClass.java:34-46)."""

    name: str
    cluster_id: int
    properties: dict[str, OProperty] = field(default_factory=dict)
    super_class: str | None = None
    # Lazy DataFrame supplier; swapped on DML rewrite (copy-on-write).
    df_supplier: Callable[[], DataFrame] | None = None
    # Optional key rule: the position of a new record is derived from its
    # own fields (read by the catalog only — everything else reads
    # RID_POS_COL).
    rid_pos: Callable[[DataFrame], "F.Column"] | None = None
    # copy-on-write swap count (drives periodic lineage checkpoints)
    rewrites: int = 0
    # persistent position counter for classes without a key rule, like the
    # reference's cluster position allocation; None until the first write
    # starts it above the positions already stored
    next_rid: int | None = None

    def lower_properties(self) -> dict[str, OProperty]:
        return {k.lower(): v for k, v in self.properties.items()}


class Catalog:
    """Registry of classes; name lookup is case-insensitive like the
    reference (class names matched ignoring case in
    core:metadata/schema/OSchema.java getClass)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._classes: dict[str, OClass] = {}  # lower-name -> OClass
        self._next_cluster = 1

    # -- registration -----------------------------------------------------

    def register_class(
        self,
        name: str,
        df: DataFrame | None = None,
        path: str | None = None,
        super_class: str | None = None,
        links: dict[str, tuple[str, str]] | None = None,
        properties: list[OProperty] | None = None,
        rid_pos: Callable[[DataFrame], "F.Column"] | None = None,
        cluster_id: int | None = None,
        transform: Callable[[DataFrame], DataFrame] | None = None,
    ) -> OClass:
        existing = self._classes.get(name.lower())
        if existing is not None and df is None and path is None:
            # Re-registration with no new storage must never destroy the
            # existing class's data supplier/properties (the reference's
            # OSchema.createClass raises on an existing class — the DML
            # CREATE CLASS path enforces that; API-level re-registration
            # merges schema additions into the live class).
            if super_class is not None:
                existing.super_class = super_class
            for prop in properties or []:
                existing.properties[prop.name] = prop
            for col, (tgt, key) in (links or {}).items():
                p = existing.properties.get(col) or OProperty(name=col, otype=OType.LINK)
                p.linked_class, p.linked_key = tgt, key
                existing.properties[col] = p
            if rid_pos is not None:
                existing.rid_pos = rid_pos
                if existing.df_supplier is not None:
                    sup = existing.df_supplier
                    existing.df_supplier = lambda: _keyed(sup(), rid_pos)
            return existing
        if cluster_id is None:
            cluster_id = self._next_cluster
        self._next_cluster = max(self._next_cluster, cluster_id + 1)

        def shape(d: DataFrame) -> DataFrame:
            if transform is not None:
                d = transform(d)
            return d if rid_pos is None else _keyed(d, rid_pos)

        supplier: Callable[[], DataFrame] | None = None
        if path is not None:
            spark = self.spark
            # read on first scan, then reuse: the key projection is built
            # once, and the file listing is pinned as a DML rewrite or a
            # reopened database already pins it
            supplier = functools.cache(lambda p=path: shape(spark.read.parquet(p)))
        elif df is not None:
            supplier = lambda d=shape(df): d  # noqa: E731

        cls = OClass(
            name=name,
            cluster_id=cluster_id,
            super_class=super_class,
            df_supplier=supplier,
            rid_pos=rid_pos,
        )
        for prop in properties or []:
            cls.properties[prop.name] = prop
        for col, (tgt, key) in (links or {}).items():
            p = cls.properties.get(col) or OProperty(name=col, otype=OType.LINK)
            p.linked_class, p.linked_key = tgt, key
            cls.properties[col] = p
        self._classes[name.lower()] = cls
        return cls

    def set_dataframe(self, name: str, df: DataFrame) -> None:
        """Copy-on-write swap — the DML rewrite path. Every
        ``DML_CHECKPOINT_EVERY``-th swap materializes the plan
        (localCheckpoint) so a long-lived engine's statement stream keeps
        bounded plan depth instead of an ever-growing withColumn chain."""
        cls = self.get(name)
        cls.rewrites += 1
        if cls.rewrites % DML_CHECKPOINT_EVERY == 0:
            df = df.localCheckpoint(eager=True)
        cls.df_supplier = lambda: df

    def assign_positions(
        self,
        cls: OClass | None,
        existing: DataFrame | None,
        rows: DataFrame,
        one_row: bool = False,
    ) -> tuple[DataFrame | None, DataFrame, int, int | None]:
        """Give ``rows`` — new records of ``cls``, or of a class the write
        is about to register when ``cls`` is None — their RID_POS_COL: the
        class's key rule when it has one, otherwise the next positions of
        the persistent counter. ``existing`` rows that carry no positions
        yet (a class registered without a key rule, never written) are
        frozen once first, so their @rid stops moving.

        ``one_row`` (a per-row INSERT) takes the position as a literal; any
        other batch is numbered by a distributed prefix sum —
        per-partition counts (a counters-only collect, one row per
        partition) become offsets and a partition-local window supplies
        the local index, so there is no global window and no per-row
        Python loop.

        Returns ``(existing, rows, row_count, next_rid)``. Nothing is
        installed here: the caller sets ``cls.next_rid = next_rid`` when
        the write commits, so a rejected write burns no positions."""
        from pyspark.sql import Window

        rule, counter = (cls.rid_pos, cls.next_rid) if cls is not None else (None, None)
        if rule is not None:
            if existing is not None:
                # columns the rule reads may be absent from the new rows
                missing = [f for f in existing.schema.fields if f.name not in rows.columns]
                if missing:
                    rows = rows.select(
                        "*", *[F.lit(None).cast(f.dataType).alias(f.name) for f in missing]
                    )
            rows = _keyed(rows, rule)
            return existing, rows, 1 if one_row else rows.count(), counter
        start = counter
        if existing is not None and RID_POS_COL not in existing.columns:
            existing = existing.withColumn(
                RID_POS_COL, F.monotonically_increasing_id()
            ).localCheckpoint(eager=True)
            start = None  # count on from the positions just frozen
        if start is None:
            top = existing.agg(F.max(RID_POS_COL)).first()[0] if existing is not None else None
            start = max(counter or 0, 0 if top is None else top + 1)
        if one_row:
            return existing, rows.withColumn(RID_POS_COL, F.lit(start).cast("long")), 1, start + 1
        # freeze partition assignment so the counts pass and the window
        # pass see the same pids
        rows = rows.withColumn("__pid", F.spark_partition_id()).localCheckpoint(eager=True)
        counts = rows.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c")).collect()
        offsets: dict[int, int] = {}
        acc = start
        for r in sorted(counts, key=lambda row: row["__pid"]):
            offsets[r["__pid"]] = acc
            acc += r["__c"]
        off = (
            F.create_map(*[F.lit(v) for kv in offsets.items() for v in kv])
            if offsets
            else F.create_map()
        )
        local = Window.partitionBy("__pid").orderBy(F.monotonically_increasing_id())
        rows = rows.withColumn(
            RID_POS_COL, off[F.col("__pid")] + F.row_number().over(local) - 1
        ).drop("__pid")
        return existing, rows, acc - start, acc

    def drop_class(self, name: str) -> None:
        self._classes.pop(name.lower(), None)

    # -- lookup ------------------------------------------------------------

    def has(self, name: str) -> bool:
        return name.lower() in self._classes

    def get(self, name: str) -> OClass:
        cls = self._classes.get(name.lower())
        if cls is None:
            raise OSchemaException(f"Class '{name}' was not found in current database")
        return cls

    def class_names(self) -> list[str]:
        return [c.name for c in self._classes.values()]

    def subclasses(self, name: str) -> list[OClass]:
        """The class + all transitive subclasses — the 'polymorphic cluster
        ids' set (core:metadata/schema/OClass.java:294)."""
        root = self.get(name)
        out = [root]
        frontier = {root.name.lower()}
        changed = True
        while changed:
            changed = False
            for cls in self._classes.values():
                if (
                    cls.super_class
                    and cls.super_class.lower() in frontier
                    and cls.name.lower() not in frontier
                ):
                    out.append(cls)
                    frontier.add(cls.name.lower())
                    changed = True
        return out

    def find_property(self, cls: OClass, prop: str) -> OProperty | None:
        """Walk the superclass chain (OClass.java:144-160)."""
        cur: OClass | None = cls
        prop_l = prop.lower()
        while cur is not None:
            hit = cur.lower_properties().get(prop_l)
            if hit is not None:
                return hit
            cur = self.get(cur.super_class) if cur.super_class else None
        return None

    # -- scan --------------------------------------------------------------

    def dataframe(
        self,
        name: str,
        polymorphic: bool = True,
        with_meta: bool = False,
        internal: bool = False,
    ) -> DataFrame:
        """Class scan. ``polymorphic=True`` unions subclass tables — the
        ORecordIteratorClass behavior (core:iterator/ORecordIteratorClass.java:36-51).
        ``with_meta`` materializes @rid/@class/@version as real columns;
        ``internal`` keeps the hidden version and position columns (DML
        rewrites need them to preserve versions and @rid across
        copy-on-write)."""
        classes = self.subclasses(name) if polymorphic else [self.get(name)]
        parts: list[DataFrame] = []
        for cls in classes:
            if cls.df_supplier is None:
                continue
            df = cls.df_supplier()
            if with_meta:
                df = self._with_meta(df, cls, keep_backing=internal)
            elif not internal:
                hidden = [c for c in (BACKING_VERSION_COL, RID_POS_COL) if c in df.columns]
                if hidden:
                    df = df.drop(*hidden)
            parts.append(df)
        if not parts:
            raise OSchemaException(f"Class '{name}' has no records/storage")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def _with_meta(self, df: DataFrame, cls: OClass, keep_backing: bool = False) -> DataFrame:
        if RID_COL in df.columns:
            return df
        # a class without a key rule that nothing has written yet has no
        # stored positions; they are frozen on its first write
        pos = (
            F.col(RID_POS_COL)
            if RID_POS_COL in df.columns
            else F.monotonically_increasing_id()
        )
        # per-record version for optimistic MVCC: DML bumps the hidden
        # backing column on matched rows (core:tx/OTransactionOptimistic
        # re-checks it at commit; SURVEY §4 MVCC row)
        version = (
            F.coalesce(F.col(BACKING_VERSION_COL), F.lit(0))
            if BACKING_VERSION_COL in df.columns
            else F.lit(0)
        )
        out = (
            df.withColumn(
                RID_COL,
                F.struct(
                    F.lit(cls.cluster_id).cast("int").alias("cluster"),
                    pos.cast("long").alias("pos"),
                ),
            )
            .withColumn(CLASS_COL, F.lit(cls.name))
            .withColumn(VERSION_COL, version.cast("int"))
        )
        if not keep_backing:
            hidden = [c for c in (BACKING_VERSION_COL, RID_POS_COL) if c in df.columns]
            if hidden:
                out = out.drop(*hidden)
        return out

    def cluster_dataframe(self, cluster: str, with_meta: bool = False) -> DataFrame:
        """cluster:<name> target — scan one cluster bypassing class
        semantics (core:sql/OCommandExecutorSQLSelect.java:179-194). Here a
        class's own (non-polymorphic) table."""
        return self.dataframe(cluster, polymorphic=False, with_meta=with_meta)


def _keyed(df: DataFrame, rid_pos: Callable[[DataFrame], "F.Column"]) -> DataFrame:
    """Apply a key rule: a lazy projection, no Spark job."""
    return df.withColumn(RID_POS_COL, rid_pos(df).cast("long"))
