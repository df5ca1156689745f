"""Python surface for graft tables: a thin py4j mirror of the Scala
``graft.GraftTable`` API (reference concept: python/delta/tables.py —
re-designed as direct JVM binding; the engine's JVM classes must be on the
driver classpath, e.g. ``spark.driver.extraClassPath=<repo>/target/scala-2.13/classes``).

Usage::

    from graft.tables import GraftTable
    t = GraftTable.forPath(spark, "/path/to/table")
    t.delete("id % 10 = 3")
    (t.merge(updates_df, "t.id = s.id")
       .whenMatchedUpdateAll()
       .whenNotMatchedInsertAll()
       .execute())
"""

from pyspark.sql import DataFrame


def _jmap(spark, d):
    """dict[str, str] -> java.util.HashMap[String, String]."""
    m = spark._sc._jvm.java.util.HashMap()
    for k, v in d.items():
        m.put(k, v)
    return m


class GraftTable:
    """A graft table at a filesystem path."""

    def __init__(self, spark, jtable):
        self._spark = spark
        self._jt = jtable

    # ---- constructors ----------------------------------------------------

    @classmethod
    def forPath(cls, spark, path):
        jt = spark._sc._jvm.graft.GraftTable.forPath(spark._jsparkSession, path)
        return cls(spark, jt)

    @classmethod
    def forName(cls, spark, name):
        """Load a catalog-registered graft table by name."""
        jt = spark._sc._jvm.graft.GraftTable.forName(spark._jsparkSession, name)
        return cls(spark, jt)

    @classmethod
    def convertFromParquet(cls, spark, path):
        spark._sc._jvm.graft.Graft.convertFromParquet(spark._jsparkSession, path)
        return cls.forPath(spark, path)

    @classmethod
    def convertFromDelta(cls, spark, path):
        """Zero-copy: register an existing Delta table as a graft table."""
        spark._sc._jvm.graft.Graft.convertFromDelta(spark._jsparkSession, path)
        return cls.forPath(spark, path)

    @classmethod
    def syncFromDelta(cls, spark, path):
        """Incrementally fold only the Delta commits newer than the
        recorded watermark into the converted graft table."""
        spark._sc._jvm.graft.Graft.syncFromDelta(spark._jsparkSession, path)
        return cls.forPath(spark, path)

    # ---- reads -----------------------------------------------------------

    def toDF(self):
        return DataFrame(self._jt.toDF(), self._spark)

    def asOfVersion(self, version):
        return DataFrame(self._jt.asOfVersion(int(version)), self._spark)

    def history(self):
        return DataFrame(self._jt.history(), self._spark)

    def detail(self):
        return DataFrame(self._jt.detail(), self._spark)

    def version(self):
        return self._jt.version()

    # ---- DML -------------------------------------------------------------

    def delete(self, condition=None):
        if condition is None:
            self._jt.delete()
        else:
            self._jt.delete(condition)

    def update(self, condition, set):
        """UPDATE with SQL-expression strings: condition str, set dict."""
        self._jt.updateExpr(condition, _jmap(self._spark, set))

    def updateAll(self, set):
        self._jt.updateAllExpr(_jmap(self._spark, set))

    def merge(self, source, condition):
        """Start a MERGE: ``source`` a DataFrame, ``condition`` a SQL string
        over aliases ``t`` (target) and ``s`` (source).

        Multi-pass commands (MERGE, INSERT REPLACE) scan ``source`` more
        than once; ``spark.conf.set("spark.graft.dml.materializeSource",
        mode)`` controls pinning it first: ``auto`` (default) pins only
        non-deterministic sources (correctness), ``all`` always pins (the
        knob for an expensive multi-join source). Pinning uses an eager
        localCheckpoint so a lost block fails loudly and the command
        retries, at most 4 attempts in all."""
        return GraftMergeBuilder(
            self._spark, self._jt.merge(source._jdf, condition))

    def insert_replace_on(self, source, condition):
        """INSERT ... REPLACE ON: atomically append ``source`` and delete
        every existing row it matches under ``condition`` (SQL string over
        aliases ``t`` target / ``s`` source, like merge). Honors the
        ``spark.graft.dml.materializeSource`` conf (see ``merge``)."""
        self._jt.insertReplaceOn(source._jdf, condition)

    def insert_replace_using(self, source, cols):
        """INSERT ... REPLACE USING (cols): the equi-join special case —
        replace rows whose ``cols`` values appear in the inserted set."""
        jlist = self._spark._sc._jvm.java.util.ArrayList()
        for c in cols:
            jlist.add(c)
        self._jt.insertReplaceUsing(source._jdf, jlist)

    def recompute_stats(self, only_missing=False):
        """Recompute per-file skipping stats from parquet footers (e.g.
        after converting a stats-less source)."""
        self._jt.recomputeStats(bool(only_missing))

    def backfill_row_tracking(self):
        """Assign base row ids to pre-existing files (late row-tracking
        enablement); setting graft.enableRowTracking=true on a populated
        table runs this automatically."""
        self._jt.backfillRowTracking()

    # ---- live-table redirect ---------------------------------------------

    def redirect_to(self, dest, no_redirect_rules=None):
        """ENABLE then READY: every query resolved through this table's
        path is served by the graft table at ``dest``. Other sessions see
        the flip with ordinary MVCC freshness (their next snapshot
        refresh); writes are never stale -- the commit gate re-checks the
        redirect state at commit time.

        ``no_redirect_rules``: optional list of per-application exemptions,
        e.g. ``[{"appName": "audit", "allowedOperations": ["WRITE"]}]`` --
        a session whose ``spark.app.name`` matches keeps resolving the
        frozen SOURCE (an appName-less rule matches every application),
        and may commit exactly the listed operations there."""
        if no_redirect_rules is None:
            self._jt.redirectTo(dest)
        else:
            import json as _json
            self._jt.redirectTo(dest, _json.dumps(no_redirect_rules))

    def redirect_to_writer_only(self, dest):
        """ENABLE then READY for the WRITER-ONLY redirect variant: same
        routing for redirect-aware clients, but the protocol gate is a
        writer feature, so legacy readers may keep reading the frozen
        source until they upgrade."""
        self._jt.redirectToWriterOnly(dest)

    def enable_redirect(self, dest, writer_only=False):
        self._jt.enableRedirect(dest, writer_only)

    def complete_redirect(self):
        self._jt.completeRedirect()

    def cancel_redirect(self):
        self._jt.cancelRedirect()

    def drop_redirect(self):
        """Restore normal service at this path (two commits: READY ->
        DROP-REDIRECT-IN-PROGRESS -> NO-REDIRECT). Load the handle with
        :meth:`forPathNoRedirect` — the public path resolves to the
        destination while the redirect is READY."""
        self._jt.dropRedirect()

    @classmethod
    def forPathNoRedirect(cls, spark, path):
        """The table AT ``path`` itself, even when a READY redirect points
        queries elsewhere — for redirect administration."""
        jt = spark._sc._jvm.graft.GraftTable.forPathNoRedirect(
            spark._jsparkSession, path)
        return cls(spark, jt)

    # ---- maintenance -----------------------------------------------------

    def optimize(self, where=None):
        jb = self._jt.optimize()
        if where is not None:
            jb = jb.where(where)
        return GraftOptimizeBuilder(self._spark, jb)

    def vacuum(self, retentionHours=None):
        jdf = (self._jt.vacuum() if retentionHours is None
               else self._jt.vacuum(float(retentionHours)))
        return DataFrame(jdf, self._spark)

    def restoreToVersion(self, version):
        self._jt.restoreToVersion(int(version))

    def asOfTimestamp(self, ts):
        return DataFrame(self._jt.asOfTimestamp(ts), self._spark)

    def truncate(self):
        self._jt.truncate()

    def shallowCloneTo(self, dest):
        return GraftTable(self._spark, self._jt.shallowCloneTo(dest))

    def generateSymlinkManifest(self):
        self._jt.generateSymlinkManifest()

    def addFeatureSupport(self, name):
        self._jt.addFeatureSupport(name)

    def dropFeature(self, name):
        self._jt.dropFeature(name)


class GraftMergeBuilder:
    def __init__(self, spark, jbuilder):
        self._spark = spark
        self._jb = jbuilder

    def whenMatchedUpdateAll(self, condition=None):
        self._jb = self._matched(condition).updateAll()
        return self

    def whenMatchedUpdate(self, set, condition=None):
        self._jb = self._matched(condition).updateExpr(_jmap(self._spark, set))
        return self

    def whenMatchedDelete(self, condition=None):
        self._jb = self._matched(condition).delete()
        return self

    def whenNotMatchedInsertAll(self, condition=None):
        self._jb = self._not_matched(condition).insertAll()
        return self

    def whenNotMatchedInsert(self, values, condition=None):
        self._jb = self._not_matched(condition).insertExpr(
            _jmap(self._spark, values))
        return self

    def whenNotMatchedBySourceDelete(self, condition=None):
        self._jb = self._jb.whenNotMatchedBySource(self._col(condition)).delete()
        return self

    def withSchemaEvolution(self):
        self._jb = self._jb.withSchemaEvolution()
        return self

    def execute(self):
        return dict(self._spark._sc._jvm.scala.collection.JavaConverters
                    .mapAsJavaMap(self._jb.execute()))

    def _col(self, condition):
        if condition is None:
            return None
        return self._spark._sc._jvm.org.apache.spark.sql.functions.expr(condition)

    def _matched(self, condition):
        return self._jb.whenMatched(self._col(condition))

    def _not_matched(self, condition):
        return self._jb.whenNotMatched(self._col(condition))


class GraftOptimizeBuilder:
    def __init__(self, spark, jbuilder):
        self._spark = spark
        self._jb = jbuilder

    def executeCompaction(self):
        return DataFrame(self._jb.executeCompaction(), self._spark)

    def executeZOrderBy(self, *cols):
        seq = self._spark._sc._jvm.PythonUtils.toSeq(list(cols))
        return DataFrame(self._jb.executeZOrderBy(seq), self._spark)
