package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (Column lives in sql-api and is backend-agnostic); a
  * library adding native Catalyst expressions uses an in-package bridge —
  * the conventional pattern for Spark extension libraries. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame over rows an operator computed itself (`internalCreateDataFrame`
    * is `private[sql]`): no per-row conversion to and from `Row`. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
             schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  // one lazily-built AQE-off clone per base session (weak keys: a clone
  // must not outlive — or retain — its base)
  private val noAqeClones =
    new java.util.WeakHashMap[org.apache.spark.sql.classic.SparkSession,
      org.apache.spark.sql.classic.SparkSession]

  /** Rebind `ds`'s logical plan into a CLONED session whose conf has AQE
    * off — the InsertAdaptiveSparkPlan decision reads the owning
    * session's conf (not the thread-local `SQLConf.get`), so a per-plan
    * opt-out needs a session whose conf says so. The clone shares
    * SparkContext and SharedState (CacheManager included: persisted
    * frames still resolve), and the BASE session's setting is never
    * touched — concurrent queries keep their own AQE behavior. */
  def withoutAqe(ds: org.apache.spark.sql.Dataset[_]): org.apache.spark.sql.DataFrame = {
    val cds = ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val base = cds.sparkSession
    val clone = noAqeClones.synchronized {
      val cached = noAqeClones.get(base)
      val c = if (cached != null) cached else {
        val c0 = base.cloneSession()
        noAqeClones.put(base, c0)
        c0
      }
      // the clone snapshots the base conf at clone time — re-sync on
      // every call so later base changes (shuffle partitions, timeouts,
      // ...) apply to plans run through the cached clone: copy the
      // base's explicit confs, drop clone-only leftovers, then re-force
      // AQE off (the clone's one intentional divergence)
      val baseConfs = base.sessionState.conf.getAllConfs
      val cloneConf = c.sessionState.conf
      cloneConf.getAllConfs.keysIterator
        .filterNot(baseConfs.contains)
        .filterNot(_ == "spark.sql.adaptive.enabled")
        .toList.foreach(cloneConf.unsetConf)
      baseConfs.foreach { case (k, v) =>
        if (k != "spark.sql.adaptive.enabled" &&
            cloneConf.getConfString(k, null) != v)
          cloneConf.setConfString(k, v)
      }
      cloneConf.setConfString("spark.sql.adaptive.enabled", "false")
      c
    }
    org.apache.spark.sql.classic.Dataset.ofRows(clone, cds.queryExecution.logical)
  }

  /** Full ColumnNode→Expression conversion — required when a Column built
    * from the public functions API (zip_with/aggregate/... compositions)
    * must become a catalyst tree OUTSIDE a Dataset operation, e.g. inside
    * a FunctionRegistry builder: `expression` defers with a wrapper node
    * that analysis never unwraps there; this converts eagerly. */
  def expressionTree(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
}
