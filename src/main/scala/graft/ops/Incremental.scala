package graft.ops

import org.apache.spark.sql.DataFrame

/** Incremental-compute primitives (SURVEY §2.3 J3, §2.4 A8).
  *
  * The reference's whole incrementality story is: outputs live at
  * deterministic URLs; before doing work, anti-join the required set against
  * what already exists (scenes.py:115-138, 224-232; protocols.py:299-300).
  * Re-running a failed job is then a catch-up, and task retries are
  * idempotent. We keep exactly that pattern — it is the scalable one: at
  * 100 TB the "existing" side is a bucket listing (a table), and LEFT ANTI
  * on the URL key is a plain shuffled (or broadcast, when small) hash join.
  */
object Incremental {

  /** J3: rows of `required` whose `key` is absent from `existing`. */
  def missing(required: DataFrame, existing: DataFrame, key: String): DataFrame =
    required.join(existing.select(key).distinct(), Seq(key), "left_anti")

  /** A8: per-partition existence probe with one client per partition —
    * the Spark shape of the reference's 16-worker dask `urls_exists`
    * (datasets/utils.py:154-178). `probe` must be serializable and is
    * instantiated once per partition, not per row. Dataset mapPartitions
    * with an explicit Row encoder — no RDD round-trip, so the plan keeps
    * its schema/lineage and stays inside the SQL engine. */
  def withExists(df: DataFrame, urlCol: String)
                (probeFactory: () => String => Boolean): DataFrame = {
    import org.apache.spark.sql.{Encoder, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    val schema = df.schema.add(StructField("exists", BooleanType, nullable = false))
    val idx = df.schema.fieldIndex(urlCol)
    implicit val enc: Encoder[Row] = RowEncoder.encoderFor(schema)
    df.mapPartitions { it =>
      val probe = probeFactory()
      it.map(r => Row.fromSeq(r.toSeq :+ probe(r.getString(idx))))
    }
  }
}
