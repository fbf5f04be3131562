"""Optimistic transactions — buffered writes + commit-time conflict check.

Reference: core:tx/OTransactionOptimistic.java:22-45 — changes buffer in
the transaction; commit re-checks each touched record's version and
raises OConcurrentModificationException on a mismatch (test
tests:database/auto/TransactionOptimisticTest.java:40-90).

Spark adaptation: DML is class-granular copy-on-write (SURVEY §3.3), so
the transaction snapshots each class's table identity at begin and
buffers its own rewrites in an isolated overlay catalog. Commit checks
conflicts at RECORD granularity, keyed by the hidden ``__rid_pos`` column
the catalog keeps for every record: the tx's write-set is diffed out of
(snapshot vs overlay), every written record must be unchanged in the live
table relative to the snapshot (same presence + same @version — the
reference's per-record version re-check), and a clean check REBASES the
write-set onto the live table, so concurrent commits touching disjoint
records of the same class both land. Overlaps raise
OConcurrentModificationException. One case stays class-granular
(first-committer-wins): a class registered without a key rule that no
INSERT or append had written when the tx began, whose rows carry no
positions yet. Atomic either way: all classes install or none, and the
engine state is untouched on failure.
"""

from __future__ import annotations

from orientdb_spark.errors import OConcurrentModificationException


class Transaction:
    def __init__(self, engine):
        self.engine = engine
        self._snapshot = {
            name: engine.catalog.get(name).df_supplier
            for name in engine.catalog.class_names()
        }
        self._touched: set[str] = set()
        self._overlay: dict[str, object] = {}  # class -> df_supplier at tx end
        self._active = True

    # -- buffered operations -----------------------------------------------------

    def command(self, text: str):
        """Run DML against the transaction's view: the engine executes on a
        temporary overlay and the result is captured into the tx buffer
        instead of the shared catalog."""
        self._check_active()
        from orientdb_spark.parser import parse
        from orientdb_spark import sqlast as A

        cmd = parse(text)
        target = getattr(cmd, "class_name", None)
        if target is None:
            raise OConcurrentModificationException(
                "Only class-targeted DML participates in a transaction"
            )
        cat = self.engine.catalog
        cls = cat.get(target)
        saved = cls.df_supplier
        # start from the tx's buffered view if this class was already touched
        if target.lower() in {t.lower() for t in self._touched}:
            cls.df_supplier = self._overlay[target.lower()]
        try:
            result = self.engine.command(text)
            self._overlay[target.lower()] = cls.df_supplier
            self._touched.add(target)
            return result
        finally:
            cls.df_supplier = saved

    def query(self, text: str):
        """Read inside the transaction: touched classes resolve to the
        buffered overlay (read-your-writes). Returns collected rows — a
        lazy plan would outlive the overlay scope."""
        self._check_active()
        cat = self.engine.catalog
        saved = {}
        for name in self._touched:
            cls = cat.get(name)
            saved[name] = cls.df_supplier
            cls.df_supplier = self._overlay[name.lower()]
        try:
            self.engine._plan_cache.clear()
            return self.engine.sql(text).collect()
        finally:
            for name, sup in saved.items():
                cat.get(name).df_supplier = sup
            self.engine._plan_cache.clear()

    # -- lifecycle ---------------------------------------------------------------

    def commit(self) -> None:
        """Commit-time conflict check per record, keyed by ``__rid_pos``
        (the reference's version re-check, OTransactionOptimistic.java:
        22-45); class-granular first-committer-wins only for rows that
        carry no positions yet (see the module docstring). All validation
        runs before any class installs — atomicity across classes is
        preserved."""
        self._check_active()
        cat = self.engine.catalog
        installs: dict[str, object] = {}
        try:
            for name in self._touched:
                cls = cat.get(name)
                cur_sup = cls.df_supplier
                snap_sup = self._snapshot.get(name)
                ovl_sup = self._overlay[name.lower()]
                if cur_sup is snap_sup:
                    # nothing moved underneath us: install the overlay as-is
                    installs[name] = ovl_sup
                    continue
                if snap_sup is None:
                    # class did not exist at begin (created concurrently and
                    # then touched through the tx): no snapshot to diff a
                    # write-set against, so this is a class-granular conflict
                    raise OConcurrentModificationException(
                        f"Class '{name}' was created after the transaction began"
                    )
                merged = self._rebase(name, snap_sup(), cur_sup(), ovl_sup())
                installs[name] = lambda _df=merged: _df
        except BaseException:
            # any validation failure (conflict OR an unexpected analysis/
            # execution error inside the rebase) must deactivate the tx —
            # otherwise callers could retry commit on a half-validated state
            self._active = False
            raise
        for name, sup in installs.items():
            cat.get(name).df_supplier = sup
        self.engine._plan_cache.clear()
        self._active = False

    def _rebase(self, name: str, snap, cur, ovl):
        """Per-record validation + rebase of this tx's write-set onto the
        live table. The write-set is the (snapshot vs overlay) diff keyed
        by ``__rid_pos``; a record conflicts when the live table disagrees
        with the snapshot about it (presence or @version). Returns the
        merged DataFrame, or raises OConcurrentModificationException.

        Schema changes ride along even when the write-set is empty (e.g.
        an UPDATE that matched zero rows but introduced a new all-null
        column): the final unionByName(allowMissingColumns=True) takes
        the union of the live and overlay schemas, null-filling the live
        rows — pinned by test_tx_zero_row_update_schema_survives_rebase."""
        from pyspark.sql import functions as F

        from orientdb_spark.catalog import BACKING_VERSION_COL, RID_POS_COL

        if not all(RID_POS_COL in d.columns for d in (snap, cur, ovl)):
            # rows without positions yet: class-granular first-committer-wins
            raise OConcurrentModificationException(
                f"Class '{name}' was modified since the transaction began"
            )

        def keyed(df, ver_name: str, present_name: str):
            ver = (
                F.coalesce(F.col(BACKING_VERSION_COL), F.lit(0))
                if BACKING_VERSION_COL in df.columns
                else F.lit(0)
            )
            return df.select(
                RID_POS_COL,
                ver.cast("int").alias(ver_name),
                F.lit(1).alias(present_name),
            )

        s = keyed(snap, "sv", "sp")
        o = keyed(ovl, "ov", "op")
        c = keyed(cur, "cv", "cp")
        write_set = s.join(o, RID_POS_COL, "full_outer").filter(
            (F.coalesce("sp", F.lit(0)) != F.coalesce("op", F.lit(0)))
            | (F.coalesce("sv", F.lit(-1)) != F.coalesce("ov", F.lit(-1)))
        )
        conflict = (
            write_set.join(c, RID_POS_COL, "left")
            .filter(
                # tx-inserted rid: must still be free in the live table;
                # tx-updated/deleted rid: must exist there with the
                # version the snapshot saw
                F.when(F.col("sp").isNull(), F.col("cp").isNotNull()).otherwise(
                    F.col("cp").isNull() | (F.col("cv") != F.col("sv"))
                )
            )
            .count()
        )
        if conflict:
            raise OConcurrentModificationException(
                f"{conflict} record(s) of class '{name}' were modified since "
                "the transaction began"
            )
        ws_ids = write_set.select(RID_POS_COL)
        keep = cur.join(ws_ids, RID_POS_COL, "left_anti")
        mine = ovl.join(ws_ids, RID_POS_COL, "left_semi")
        return keep.unionByName(mine, allowMissingColumns=True)

    def rollback(self) -> None:
        self._check_active()
        self._overlay.clear()
        self._touched.clear()
        self._active = False

    def _check_active(self) -> None:
        if not self._active:
            raise OConcurrentModificationException("Transaction is no longer active")
