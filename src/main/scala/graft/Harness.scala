package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the harness mains (`Bench`, `Verify`,
  * `tools.Prof`, `tools.RasterScaleBench`), so a profile or a correctness
  * dump runs on the session the bench times. Cores come from
  * `SPARK_GRAFT_CPUS` (default 4, also the shuffle width) and the scale's
  * table directory from `SPARK_GRAFT_SF_DIR` (default sf0.1). */
object Harness {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** A local session with the bench's confs, graft's SQL functions and
    * optimizer rule registered. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // local[N] shuffles move through the page cache, not a network:
      // lz4 framing is pure CPU overhead at this scale (a real cluster
      // would keep compression on — these two are bench-host tuning, not
      // engine semantics)
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }

  /** Drops the frames a query cached (its ScratchCache persists and the
    * session cache), so no storage residue of one query reaches the next. */
  def release(spark: SparkSession): Unit = {
    graft.ops.ScratchCache.releaseAll()
    spark.catalog.clearCache()
  }
}
