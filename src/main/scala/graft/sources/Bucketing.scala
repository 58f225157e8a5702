package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed (pre-shuffled) tables — the co-located-join strategy of
  * SURVEY.md §2c/§4.2.
  *
  * `bucketBy(n, key)` hash-partitions rows into n buckets by key at WRITE
  * time and records the layout in the catalog; a later equi-join of two
  * tables bucketed on their join keys with the same n runs with NO exchange
  * on either side. At 100 TB this turns every repeated fact-fact join
  * (lineitem-orders style) from two corpus-wide shuffles into zero: the
  * shuffle is paid once at ingest, amortized over every downstream query.
  * `sortBy` additionally key-sorts each bucket file, so sort-merge join
  * skips its per-task sort (and per-key scans can range-skip).
  *
  * The buckets apply only to reads through the catalog table
  * (`spark.table`): `Sources.readRecords` reads a record store by path, so
  * the archive lookup (D15) and upsert (D14) see no bucket spec.
  */
object Bucketing {

  /** Write `df` as a bucketed + per-bucket-sorted table registered in the
    * session catalog, with data files at `path`. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      path: String,
      buckets: Int,
      keys: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
}
