package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed-table support for shuffle-free repeated compares.
  *
  * A compare's dominant cost at scale is the full-outer-join shuffle of both
  * inputs. When the same tables are compared repeatedly (nightly parity
  * checks, CI gates), pre-bucketing both sides on the join keys pays that
  * shuffle once at write time: a catalog scan of a bucketed table reports
  * `HashPartitioning(keys, buckets)`, so Catalyst plans the sort-merge join
  * with NO Exchange on either side (both tables must use the same bucket
  * count). It needs `assumeKeysUnique = Some(true)`, which plans that
  * plain sort-merge join (an unhinted compare pairs rows with windows over
  * a union of both inputs, which shuffles once whatever the layout), and
  * `assumeKeysNullFree` (a plain `===` join keeps the bucket partitioning
  * usable; `<=>` would re-key on null-safe tuples) for a fully
  * shuffle-free compare.
  *
  * The reference has no bucketed path — its Snowflake/pandas backends have
  * no equivalent concept; this is Spark-native scale work. */
object Bucketing {

  /** Write `df` as a bucketed, per-bucket-sorted managed parquet table.
    * `buckets` must match across tables that will be joined. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String], buckets: Int): Unit =
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  /** Read a bucketed table back as a DataFrame (catalog scan — keeps the
    * bucket spec, unlike a path-based parquet read). */
  def readBucketed(df: org.apache.spark.sql.SparkSession, table: String): DataFrame =
    df.table(table)
}
