package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (see TESTDATA.md).
  *
  * All queries take the scale-factor directory as a parameter so the same
  * plan runs at sf0.001 (smoke), sf0.01 (correctness) and sf0.1 (bench) —
  * and, by design, on a real cluster path at any scale: nothing below
  * assumes single-node layout.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val read = schemaOf(spark, path).fold(spark.read)(spark.read.schema(_))
    normalizeNtz(read.parquet(path))
  }

  /** Inferred table schemas per session, keyed by the path, the file's
    * length and modification time (a rewritten table is inferred again)
    * and the session's parquet read confs, which decide the inferred
    * types: a query reads each table with a known schema, so its plan
    * starts with no schema-inference job. */
  private val schemas = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.Map[Seq[Any], StructType]]()

  /** The memoized schema of a single-file table. A directory table (whose
    * own modification time misses a part file rewritten in place) and a
    * missing one get None: they are read, and fail, as without the memo. */
  private def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val file = try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    file.filter(_.isFile).map { st =>
      val readConfs = spark.conf.getAll.toSeq.sorted.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }
      val key = Seq(path, st.getLen, st.getModificationTime, readConfs)
      def known = schemas.computeIfAbsent(spark, _ => scala.collection.mutable.Map.empty)
      schemas.synchronized(known.get(key)).getOrElse {
        val inferred = spark.read.parquet(path).schema
        schemas.synchronized(known(key) = inferred)
        inferred
      }
    }
  }

  /** The driver's generator has written timestamps both as TIMESTAMP(NANOS)
    * (read as BIGINT under nanosAsLong, converted below) and as plain
    * TIMESTAMP(MICROS) without UTC adjustment — which Spark 4 infers as
    * TIMESTAMP_NTZ. Every query (and every oracle comparison) was built
    * against session-zone TIMESTAMP, so NTZ columns are normalized here at
    * the single load choke point: with the UTC session zone used by all
    * graft sessions, the cast reinterprets the naive value as the same
    * instant DuckDB sees. */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) df
    else ntz.foldLeft(df)((d, f) =>
      d.withColumn(f.name, col(f.name).cast(TimestampType)))
  }

  /** events.parquet carries TIMESTAMP(NANOS), which Spark's parquet reader
    * rejects unless `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    * every session builder here). With that conf `ts` arrives as BIGINT
    * nanos; convert to a proper timestamp (floor to micros — matches
    * DuckDB's ns value for the oracle at micro precision). */
  /** Floor-division of epoch-nanos to epoch-micros, exact for ANY sign.
    * Integer arithmetic throughout: epoch-nanos exceed double's 2^53
    * exact-integer range, so floor(ts/1000.0) would be off by ±1µs on some
    * rows; and plain `div` truncates toward zero, which equals floor only
    * for non-negative nanos — subtracting the positive mod first makes the
    * division exact, keeping pre-1970 timestamps aligned with DuckDB's
    * CAST(ns AS TIMESTAMP). */
  private[graft] def nanosFloorMicros(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    // `div` = IntegralDivide: exact long division (the subtraction already
    // made the dividend a multiple of 1000, so truncation == floor here)
    call_function("div", c - pmod(c, lit(1000L)), lit(1000L))
  }

  private def eventsRaw(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(nanosFloorMicros(col("ts"))))
      case _ => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
