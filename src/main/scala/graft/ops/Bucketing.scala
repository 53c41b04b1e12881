package graft.ops

import org.apache.spark.sql.DataFrame

/** Bucketed-table co-location (SURVEY §2.7 O2's second half: "reuse a
  * partitioning across stages").
  *
  * The 100 TB pattern: pay the shuffle ONCE at write time — each table is
  * hash-bucketed (and sorted) on its join key — then every subsequent join
  * or aggregation on that key is exchange-free: Spark's bucketed scan
  * exposes the on-disk hash partitioning (`HashPartitioning` on the scan,
  * visible in `.explain`), so `EnsureRequirements` inserts no Exchange and
  * SortMergeJoin skips its sorts when the sort columns match. For a fact
  * table joined on the same key by every query of a workload, this converts
  * the dominant per-query shuffle into a one-time write cost — the same
  * contract as the chunk store's deterministic keys, applied to relational
  * facts. BucketingSpec asserts the zero-exchange plan and result parity
  * with the shuffled join.
  */
object Bucketing {

  /** Write `df` as a bucketed+sorted managed table (the one-time shuffle). */
  def writeBucketed(df: DataFrame, table: String, key: String, nBuckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, key).sortBy(key)
      .saveAsTable(table)
}
