"""DML / DDL execution — copy-on-write rewrites over immutable storage.

Reference dispatch: core:sql/OCommandExecutorSQLDelegate.java:36-67. The
reference's UPDATE/DELETE rewrite themselves into an internal SELECT and
mutate each matching record (core:sql/OCommandExecutorSQLUpdate.java:116-131,
OCommandExecutorSQLDelete.java:49-77); we reuse the same WHERE compiler and
rewrite the class table as a whole — the Spark-native equivalent (SURVEY
§3.3). Versioning parity: matched rows get @version+1 via the rewrite
itself, and the rewrite carries every record's ``__rid_pos`` along, so
optimistic transactions (orientdb_spark.tx) re-check each written record's
version at commit (core:tx/OTransactionOptimistic.java).

Scale note: each statement is one declarative transformation over the
table — filters push down, no driver-side row loops; a real deployment
would pair this with a transactional table format (Delta/Iceberg MERGE),
which this module's single-writer rewrite mirrors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from orientdb_spark import sqlast as A
from orientdb_spark.catalog import OProperty
from orientdb_spark.errors import OCommandExecutionException
from orientdb_spark.expressions import Scope, compile_condition, compile_expr
from orientdb_spark.otypes import OType


def _result(engine, **cols) -> DataFrame:
    return engine.spark.createDataFrame([tuple(cols.values())], list(cols.keys()))


def _validate(engine, class_name: str, df: DataFrame, pred=None) -> None:
    """Schema constraint validation on save — mandatory / notNull / min /
    max per property (ORecordSchemaAwareAbstract.validate(); min/max bound
    string *length* and numeric *value*, the reference's rules). One
    distributed filter over the written rows; no per-row driver loop."""
    from orientdb_spark.errors import OValidationException

    if getattr(engine, "intent", None) == "massiveinsert":
        return  # bulk-load intent skips per-statement validation
    cls = engine.catalog.get(class_name) if engine.catalog.has(class_name) else None
    if cls is None:
        return
    checks = []
    for p in cls.properties.values():
        has_col = p.name in df.columns
        if p.mandatory and not has_col:
            raise OValidationException(f"The field '{class_name}.{p.name}' is mandatory")
        if not has_col:
            continue
        col = F.col(p.name)
        if p.not_null:
            checks.append((col.isNull(), f"The field '{class_name}.{p.name}' cannot be null"))
        if p.min is not None or p.max is not None:
            dt = df.schema[p.name].dataType
            measured = F.length(col) if isinstance(dt, T.StringType) else col
            if p.min is not None:
                checks.append(
                    (
                        measured < F.lit(_bound(p.min)),
                        f"The field '{class_name}.{p.name}' contains less than {p.min}",
                    )
                )
            if p.max is not None:
                checks.append(
                    (
                        measured > F.lit(_bound(p.max)),
                        f"The field '{class_name}.{p.name}' contains more than {p.max}",
                    )
                )
    if not checks:
        return
    scoped = df.filter(pred) if pred is not None else df
    flags = scoped.select(
        *[F.max(F.when(c, F.lit(True)).otherwise(F.lit(False))).alias(f"c{i}") for i, (c, _) in enumerate(checks)]
    ).first()
    if flags is not None:
        for i, (_, msg) in enumerate(checks):
            if flags[f"c{i}"]:
                raise OValidationException(msg)


def _bound(v: str):
    try:
        return float(v) if "." in str(v) else int(v)
    except (TypeError, ValueError):
        return v


def _check_unique(engine, class_name: str, df: DataFrame, touched: set[str] | None = None) -> None:
    """UNIQUE property-index enforcement on write: a save that would leave
    duplicate keys raises (reference: the property index rejects the
    duplicate at save time — core:metadata/schema/OProperty.java:257 index
    types, core:index/; IndexTest expects the failure). One distributed
    aggregation over the written table per touched unique index — the
    Spark analog of the reference's per-record index probe; nulls are
    exempt (no key, like the reference's null handling)."""
    from orientdb_spark.errors import OIndexException

    if getattr(engine, "intent", None) == "massiveinsert":
        return
    cls = engine.catalog.get(class_name) if engine.catalog.has(class_name) else None
    if cls is None:
        return
    unique_props = [
        p.name
        for p in cls.properties.values()
        if p.index_type == "unique" and p.name in df.columns
        and (touched is None or p.name in touched)
    ]
    if not unique_props:
        return
    for name in unique_props:
        dup = (
            df.filter(F.col(name).isNotNull())
            .groupBy(name)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise OIndexException(
                f"Cannot index record: found duplicated key "
                f"'{dup[0][name]!r}' in unique index '{class_name}.{name}'"
            )


def _hooked(engine, op: str, class_name: str, run) -> DataFrame:
    """before/after CRUD hook envelope (core:hook/ORecordHook.java:27-33),
    statement-level — see orientdb_spark.hooks."""
    engine.hooks.fire(f"before_{op}", class_name)
    result = run()
    engine.hooks.fire(f"after_{op}", class_name, dict(result.first().asDict()))
    return result


def execute_dml(engine, cmd) -> DataFrame:
    if isinstance(cmd, A.InsertCmd):
        return _hooked(engine, "create", cmd.class_name, lambda: _insert(engine, cmd))
    if isinstance(cmd, A.UpdateCmd):
        return _hooked(engine, "update", cmd.class_name, lambda: _update(engine, cmd))
    if isinstance(cmd, A.DeleteCmd):
        return _hooked(engine, "delete", cmd.class_name, lambda: _delete(engine, cmd))
    if isinstance(cmd, A.CreateClassCmd):
        # duplicate CREATE CLASS is an error (OSchemaShared.createClass
        # raises "already exists"); re-registration would otherwise
        # silently destroy the existing class's storage
        from orientdb_spark.errors import OSchemaException

        if engine.catalog.has(cmd.name):
            raise OSchemaException(
                f"Class '{cmd.name}' already exists in current database"
            )
        engine.catalog.register_class(cmd.name, super_class=cmd.super_class)
        return _result(engine, **{"class": cmd.name})
    if isinstance(cmd, A.CreatePropertyCmd):
        return _create_property(engine, cmd)
    if isinstance(cmd, A.RemovePropertyCmd):
        cls = engine.catalog.get(cmd.class_name)
        cls.properties.pop(cmd.prop_name, None)
        if cls.df_supplier is not None:
            df = cls.df_supplier()
            if cmd.prop_name in df.columns:
                engine.catalog.set_dataframe(cmd.class_name, df.drop(cmd.prop_name))
        return _result(engine, dropped=cmd.prop_name)
    if isinstance(cmd, A.CreateIndexCmd):
        # engine-side index bookkeeping: Catalyst pushdown/pruning replaces
        # point indexes (SURVEY §4); FULLTEXT builds an inverted-index table
        cls = engine.catalog.get(cmd.class_name)
        p = cls.properties.get(cmd.prop_name) or OProperty(name=cmd.prop_name)
        prev_index_type = p.index_type
        p.index_type = cmd.index_type
        cls.properties[cmd.prop_name] = p
        if cmd.index_type == "unique" and cls.df_supplier is not None:
            # building a unique index over existing duplicate keys fails,
            # like the reference's index build
            try:
                _check_unique(engine, cmd.class_name, cls.df_supplier(), {cmd.prop_name})
            except Exception:
                p.index_type = prev_index_type
                raise
        if cmd.index_type == "fulltext":
            from orientdb_spark.fulltext import build_fulltext_index

            build_fulltext_index(engine, cmd.class_name, cmd.prop_name)
        return _result(engine, index=f"{cmd.class_name}.{cmd.prop_name}")
    if isinstance(cmd, A.RemoveIndexCmd):
        cls = engine.catalog.get(cmd.class_name)
        p = cls.properties.get(cmd.prop_name)
        if p:
            p.index_type = None
        return _result(engine, removed=f"{cmd.class_name}.{cmd.prop_name}")
    if isinstance(cmd, A.CreateLinkCmd):
        return _create_link(engine, cmd)
    if isinstance(cmd, A.TruncateCmd):
        cls = engine.catalog.get(cmd.class_name)
        if cls.df_supplier is not None:
            engine.catalog.set_dataframe(cmd.class_name, cls.df_supplier().limit(0))
        return _result(engine, truncated=cmd.class_name)
    if isinstance(cmd, A.GrantCmd):
        # GRANT/REVOKE mutate the role's CRUD bitmask (ORole.java); the
        # engine enforces them at query entry (Engine._enforce) once a
        # session role is selected via Engine.set_role
        if cmd.revoke:
            engine.security.revoke(cmd.role, cmd.resource, cmd.permission)
        else:
            engine.security.grant(cmd.role, cmd.resource, cmd.permission)
        return _result(engine, role=cmd.role, permission=cmd.permission)
    raise OCommandExecutionException(f"Unsupported command {type(cmd).__name__}")


def _infer_type(v) -> T.DataType:
    """Spark type for an INSERT literal (typed literal parsing,
    core:sql/OSQLHelper.java:112-164); None → string (typeless null)."""
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        return T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    if isinstance(v, dict):  # RID literal
        from orientdb_spark.otypes import RID_TYPE

        return RID_TYPE
    if isinstance(v, list):
        inner = _infer_type(v[0]) if v else T.StringType()
        return T.ArrayType(inner)
    return T.StringType()


def _literal_value(engine, e: A.Expr):
    if isinstance(e, A.Lit):
        return e.value
    if isinstance(e, A.ListLit):
        return [_literal_value(engine, i) for i in e.items]
    if isinstance(e, A.Rid):
        return {"cluster": e.cluster, "pos": e.pos}
    if isinstance(e, A.Neg):
        return -_literal_value(engine, e.operand)
    raise OCommandExecutionException("INSERT values must be literals")


def _overflow_fields(cls, fields, existing: DataFrame | None) -> list[str]:
    """Schema-mixed overflow rule (ODocument.java:55-57: a record may carry
    fields outside the declared schema): in a class WITH declared
    properties, a field that is neither declared nor already a real column
    of the table (a schema-less-era column stays a real column) lands in
    the ``_extra`` map<string,string> column. A class with no declared
    properties stays fully schema-less: unknown fields widen the table."""
    from orientdb_spark.catalog import EXTRA_COL

    if cls is None or not cls.properties:
        return []
    declared = {p.lower() for p in cls.properties}
    known = set(existing.columns) if existing is not None else set()
    return [f for f in fields if f not in known and f.lower() not in declared and f != EXTRA_COL]


def _insert(engine, cmd: A.InsertCmd) -> DataFrame:
    """INSERT INTO cls(f,...) VALUES(...) — typed literal parsing per
    core:sql/OCommandExecutorSQLInsert.java:46-146 / OSQLHelper:112-164.

    Undeclared fields of a declared class overflow into ``_extra``
    (``_overflow_fields``) — existing rows are untouched (null overflow),
    and reads resolve overflow fields through string values (the
    reference's stringly per-record fields)."""
    from orientdb_spark.catalog import EXTRA_COL

    catalog = engine.catalog
    values = {f: _literal_value(engine, v) for f, v in zip(cmd.fields, cmd.values)}
    cls = catalog.get(cmd.class_name) if catalog.has(cmd.class_name) else None
    if cls is None:
        cls = catalog.register_class(cmd.class_name)
    existing = cls.df_supplier() if cls.df_supplier is not None else None
    overflow = _overflow_fields(cls, values, existing)
    if overflow:
        extra = {k: (None if values[k] is None else str(values[k])) for k in overflow}
        values = {k: v for k, v in values.items() if k not in overflow}
        values[EXTRA_COL] = extra
    # build the row with an explicit schema: known columns take the
    # existing type (NULL literals stay typed — schema-less nulls can't be
    # inferred), unknown columns infer from the python value
    known = {f.name: f.dataType for f in existing.schema.fields} if existing is not None else {}
    known.setdefault(EXTRA_COL, T.MapType(T.StringType(), T.StringType(), True))
    schema = T.StructType(
        [T.StructField(k, known.get(k, _infer_type(v)), True) for k, v in values.items()]
    )
    row = engine.spark.createDataFrame([tuple(values.values())], schema)
    _validate(engine, cmd.class_name, row)
    existing, row, _, next_rid = catalog.assign_positions(cls, existing, row, one_row=True)
    new = existing.unionByName(row, allowMissingColumns=True) if existing is not None else row
    _check_unique(engine, cmd.class_name, new, touched=set(values))
    cls.next_rid = next_rid
    catalog.set_dataframe(cmd.class_name, new)
    return _result(engine, inserted=1)


def bulk_append(engine, class_name: str, df: DataFrame) -> DataFrame:
    """Bulk document append — the Spark-first analog of the reference's
    massive-insert workload (tests/.../speed/LocalCreateDocumentSpeedTest
    .java:42,52-67: 1M ``record.save()`` cycles under
    OIntentMassiveInsert). A cycle loop is the wrong shape on Spark —
    per-statement INSERT costs one driver round-trip per record — so the
    bulk path appends a whole DataFrame in ONE statement: one validation
    scan, one RID-assignment pass, one union, regardless of N.

    Semantics match per-row INSERT: schema-mixed overflow (undeclared
    columns of a declared class route into the ``_extra`` string map —
    ODocument.java:55-57), mandatory/notNull/min/max validation and
    UNIQUE-index probes as distributed scans (both skipped under the
    'massiveinsert' intent, OIntentMassiveInsert.java:10-44), before/
    after-create hooks fired once per statement, appended rows start at
    @version 0. New rows get contiguous positions after the existing ones
    (``Catalog.assign_positions``: a distributed prefix sum, no global
    window and no per-row Python loop)."""
    from orientdb_spark.catalog import EXTRA_COL

    def run() -> DataFrame:
        # all catalog state (class registration, next_rid advance, the
        # table swap) commits only AFTER validation + unique probes — a
        # rejected 1M-row append must not burn a million RID positions
        # or leave a half-registered class behind (per-statement
        # atomicity, the tx-layer convention)
        catalog = engine.catalog
        cls = catalog.get(class_name) if catalog.has(class_name) else None
        existing = (
            cls.df_supplier()
            if cls is not None and cls.df_supplier is not None
            else None
        )
        new_rows = df
        overflow = _overflow_fields(cls, new_rows.columns, existing)
        if overflow:
            new_rows = new_rows.withColumn(
                EXTRA_COL,
                F.map_from_arrays(
                    F.array(*[F.lit(c) for c in overflow]),
                    F.array(*[F.col(c).cast("string") for c in overflow]),
                ),
            ).drop(*overflow)
        _validate(engine, class_name, new_rows)
        touched = set(new_rows.columns)
        existing, new_rows, n, next_rid = catalog.assign_positions(cls, existing, new_rows)
        union = (
            existing.unionByName(new_rows, allowMissingColumns=True)
            if existing is not None
            else new_rows
        )
        _check_unique(engine, class_name, union, touched=touched)
        # checks passed — commit
        if cls is None:
            cls = catalog.register_class(class_name)
        cls.next_rid = next_rid
        catalog.set_dataframe(class_name, union)
        return _result(engine, inserted=n)

    return _hooked(engine, "create", class_name, run)


def _where_scope(engine, class_name: str, where) -> tuple[Scope, DataFrame]:
    from orientdb_spark.expressions import uses_meta

    with_meta = uses_meta(where)
    df = engine.catalog.dataframe(
        class_name, polymorphic=False, with_meta=with_meta, internal=True
    )
    scope = Scope(
        catalog=engine.catalog,
        functions=engine.functions,
        df=df,
        cls=engine.catalog.get(class_name),
    )
    return scope, df


def _update(engine, cmd: A.UpdateCmd) -> DataFrame:
    """UPDATE … SET/ADD/PUT/REMOVE [WHERE …]
    (core:sql/OCommandExecutorSQLUpdate.java:44-208)."""
    scope, df = _where_scope(engine, cmd.class_name, cmd.where)
    pred_expr = compile_condition(scope, cmd.where) if cmd.where is not None else F.lit(True)
    df = scope.df  # may have link joins from the WHERE

    # Materialize the match set ONCE before any mutation: the predicate is a
    # name-based Column expression, so re-evaluating it after a SET replaced
    # one of its columns would re-match against already-updated values
    # (wrong rows for later clauses, wrong @version bump, wrong count). The
    # reference resolves the record set first, then mutates
    # (OCommandExecutorSQLUpdate.java:116-131).
    out = df.withColumn("__pred", F.coalesce(pred_expr, F.lit(False)))
    pred = F.col("__pred")
    for fname, expr in cmd.sets:
        val = compile_expr(scope, expr)
        if fname in out.columns:
            val = val.cast(out.schema[fname].dataType)
            out = out.withColumn(fname, F.when(pred, val).otherwise(F.col(fname)))
        else:
            out = out.withColumn(fname, F.when(pred, val))
    for fname, expr in cmd.adds:
        # append element to collection field (:152-169)
        val = compile_expr(scope, expr)
        base = F.col(fname) if fname in out.columns else F.array()
        out = out.withColumn(fname, F.when(pred, F.array_append(base, val)).otherwise(base))
    for fname, kexpr, vexpr in cmd.puts:
        # put entry into map field (:171-188)
        k, v = compile_expr(scope, kexpr), compile_expr(scope, vexpr)
        base = F.col(fname)
        out = out.withColumn(
            fname, F.when(pred, F.map_concat(base, F.create_map(k, v))).otherwise(base)
        )
    for fname, vexpr in cmd.removes:
        if vexpr is None:
            # drop field → null (:189-203)
            out = out.withColumn(
                fname, F.when(pred, F.lit(None).cast(out.schema[fname].dataType)).otherwise(F.col(fname))
            )
        else:
            v = compile_expr(scope, vexpr)
            out = out.withColumn(
                fname, F.when(pred, F.array_remove(F.col(fname), v)).otherwise(F.col(fname))
            )

    _validate(engine, cmd.class_name, out, pred)
    _check_unique(engine, cmd.class_name, out, touched={f for f, _ in cmd.sets})
    # bump @version on matched rows (optimistic-MVCC parity — the
    # reference increments the record version on every save)
    from orientdb_spark.catalog import BACKING_VERSION_COL

    ver_base = (
        F.col(BACKING_VERSION_COL) if BACKING_VERSION_COL in out.columns else F.lit(0)
    )
    out = out.withColumn(
        BACKING_VERSION_COL, F.when(pred, ver_base + 1).otherwise(ver_base).cast("int")
    )

    base_cols = [
        c
        for c in engine.catalog.dataframe(
            cmd.class_name, polymorphic=False, internal=True
        ).columns
    ]
    new_cols = [
        c
        for c in out.columns
        if c not in base_cols
        and not c.startswith("__j")
        and not c.startswith("@")
        and c != "__pred"
    ]
    n = out.filter(pred).count()
    engine.catalog.set_dataframe(cmd.class_name, out.select(*base_cols, *new_cols))
    return _result(engine, updated=n)


def _delete(engine, cmd: A.DeleteCmd) -> DataFrame:
    """DELETE FROM cls [WHERE …] → anti-filter rewrite
    (core:sql/OCommandExecutorSQLDelete.java:34-76)."""
    scope, df = _where_scope(engine, cmd.class_name, cmd.where)
    if cmd.where is None:
        n = df.count()
        engine.catalog.set_dataframe(cmd.class_name, df.limit(0))
        return _result(engine, deleted=n)
    pred = compile_condition(scope, cmd.where)
    df = scope.df
    n = df.filter(pred).count()
    base_cols = engine.catalog.dataframe(
        cmd.class_name, polymorphic=False, internal=True
    ).columns
    kept = df.filter(~F.coalesce(pred, F.lit(False))).select(*base_cols)
    engine.catalog.set_dataframe(cmd.class_name, kept)
    return _result(engine, deleted=n)


_TYPE_NAMES = {
    "boolean": OType.BOOLEAN,
    "integer": OType.INTEGER,
    "int": OType.INTEGER,
    "short": OType.SHORT,
    "long": OType.LONG,
    "float": OType.FLOAT,
    "double": OType.DOUBLE,
    "date": OType.DATE,
    "string": OType.STRING,
    "binary": OType.BINARY,
    "byte": OType.BYTE,
    "embedded": OType.EMBEDDED,
    "embeddedlist": OType.EMBEDDEDLIST,
    "embeddedset": OType.EMBEDDEDSET,
    "embeddedmap": OType.EMBEDDEDMAP,
    "link": OType.LINK,
    "linklist": OType.LINKLIST,
    "linkset": OType.LINKSET,
    "linkmap": OType.LINKMAP,
}


def _create_property(engine, cmd: A.CreatePropertyCmd) -> DataFrame:
    """CREATE PROPERTY cls.name type [linked] — schema evolution
    (core:sql/OCommandExecutorSQLCreateProperty.java:33-125)."""
    otype = _TYPE_NAMES.get(cmd.type_name)
    if otype is None:
        raise OCommandExecutionException(f"Unknown property type '{cmd.type_name}'")
    cls = engine.catalog.get(cmd.class_name)
    prop = OProperty(name=cmd.prop_name, otype=otype)
    if cmd.linked and otype in (OType.LINK, OType.LINKLIST, OType.LINKSET, OType.LINKMAP):
        prop.linked_class = cmd.linked
        prop.linked_key = "@rid"
    cls.properties[cmd.prop_name] = prop
    if cls.df_supplier is not None:
        from orientdb_spark.otypes import spark_type

        df = cls.df_supplier()
        if cmd.prop_name not in df.columns:
            try:
                st = spark_type(otype)
                engine.catalog.set_dataframe(
                    cmd.class_name, df.withColumn(cmd.prop_name, F.lit(None).cast(st))
                )
            except ValueError:
                pass
    return _result(engine, property=f"{cmd.class_name}.{cmd.prop_name}")


def _create_link(engine, cmd: A.CreateLinkCmd) -> DataFrame:
    """CREATE LINK name FROM A.f TO B.g [INVERSE] — materialize a
    value-based join as a link column; >1 match per row is an error
    (core:sql/OCommandExecutorSQLCreateLink.java:36-230, dup error
    :193-195, inverse :202-230). One distributed join + dup-check — the
    reference's per-row nested-loop becomes a single shuffle."""
    catalog = engine.catalog
    # internal: the rewritten side keeps its hidden positions and versions
    a = catalog.dataframe(cmd.from_class, polymorphic=False, with_meta=True, internal=True)
    b = catalog.dataframe(cmd.to_class, polymorphic=False, with_meta=True, internal=True)

    dup = (
        b.groupBy(F.col(cmd.to_field).alias("__k"))
        .count()
        .filter((F.col("count") > 1) & F.col("__k").isNotNull())
        .limit(1)
        .collect()
    )
    if dup:
        raise OCommandExecutionException(
            f"Cannot create link: multiple {cmd.to_class} records match "
            f"{cmd.to_field}={dup[0]['__k']!r}"
        )

    if not cmd.inverse:
        bl = b.select(
            F.col(cmd.to_field).alias("__k"), F.col("@rid").alias(cmd.link_name)
        )
        # no forced broadcast — AQE decides; TO-class can be fact-sized
        joined = a.join(bl, a[cmd.from_field] == bl["__k"], "left").drop("__k")
        base_cols = [c for c in a.columns if not c.startswith("@")]
        catalog.set_dataframe(cmd.from_class, joined.select(*base_cols, cmd.link_name))
        cls = catalog.get(cmd.from_class)
        cls.properties[cmd.link_name] = OProperty(
            name=cmd.link_name, otype=OType.LINK, linked_class=cmd.to_class, linked_key="@rid"
        )
    else:
        # INVERSE: B gets a LINKLIST of matching A rids
        al = a.select(F.col(cmd.from_field).alias("__k"), F.col("@rid").alias("__arid"))
        grouped = al.groupBy("__k").agg(F.collect_list("__arid").alias(cmd.link_name))
        joined = b.join(grouped, b[cmd.to_field] == grouped["__k"], "left").drop("__k")
        base_cols = [c for c in b.columns if not c.startswith("@")]
        catalog.set_dataframe(cmd.to_class, joined.select(*base_cols, cmd.link_name))
        cls = catalog.get(cmd.to_class)
        cls.properties[cmd.link_name] = OProperty(
            name=cmd.link_name, otype=OType.LINKLIST, linked_class=cmd.from_class, linked_key="@rid"
        )
    return _result(engine, link=cmd.link_name)
