package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diff — the "what changed between crawls" query a corpus
  * curator runs before re-training: classify every document across two
  * snapshots as added / removed / changed / renamed, where *renamed* means
  * the CONTENT moved to a new id (the case a plain key-join diff — the
  * compare family's merge indicator, `SparkCompare`/`Cdc.changes` — cannot
  * see, because neither key matches).
  *
  * Semantics, with h = md5('N') when content IS NULL else
  * md5('V' ++ content) — the flag byte keeps NULL content a real,
  * distinct hash value (without it a NULL hash never pairs: an id whose
  * content nulls out on one side would misclassify as added/removed, and
  * NULL-on-both-sides would emit the same id as BOTH removed and added):
  *   - id in both snapshots, h equal        → unchanged (not emitted)
  *   - id in both snapshots, h differs      → `changed`
  *   - id only in A whose h matches an id only in B, and that h is UNIQUE
  *     among A's leavers and among B's arrivals → one `renamed` row under
  *     the NEW id, carrying the old id. Duplicate content makes the
  *     pairing ambiguous; ambiguous hashes fall back to added/removed
  *     (deterministic, engine-mirrorable — no arbitrary matching).
  *   - remaining id-only-in-A rows          → `removed`
  *   - remaining id-only-in-B rows          → `added`
  *
  * Scale shape: one full-outer equi-join on the id (the compare core's
  * shuffle), then everything downstream operates on the LEAVER/ARRIVAL
  * slices only — grouped hash counts (map-side combinable), one equi-join
  * on the hash, two anti-joins. The content column itself never shuffles;
  * only (id, 32-byte hash) rows do. Output: (id, status, old_id) where
  * old_id is non-NULL only for `renamed`. */
object SnapshotDiff {

  /** Null-flagged content hash: 'N' for NULL, 'V' ++ content-bytes
    * otherwise — the concat stays in BINARY so non-UTF-8 content hashes
    * its raw bytes (DuckDB text mirror:
    * md5(CASE WHEN c IS NULL THEN 'N' ELSE 'V' || c END)). */
  private def contentHash(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(when(c.isNull, lit("N").cast("binary"))
      .otherwise(concat(lit("V").cast("binary"), c.cast("binary"))))

  def diff(a: DataFrame, b: DataFrame, idCol: String,
      contentCol: String): DataFrame = CacheScope.pass {
    val idType = a.schema(idCol).dataType
    val nullOld = lit(null).cast(idType)
    val ha = a.select(col(idCol).as("__id"),
      contentHash(col(contentCol)).as("__ha"))
    val hb = b.select(col(idCol).as("__id"),
      contentHash(col(contentCol)).as("__hb"))
    // cached ONCE: the changed/leaver/arrival slices below each re-filter
    // this frame — uncached, the full-outer join (and both upstream
    // content-hash scans) ran three times; the cache holds only
    // (id, 32-byte hash, 32-byte hash) rows, never the content
    val j = CacheScope.persist(ha.join(hb, Seq("__id"), "full_outer"))
    val changed = j
      .where(col("__ha").isNotNull && col("__hb").isNotNull && col("__ha") =!= col("__hb"))
      .select(col("__id").as("id"), lit("changed").as("status"), nullOld.as("old_id"))
    val leavers = j.where(col("__hb").isNull)
      .select(col("__id").as("id"), col("__ha").as("h"))
    val arrivals = j.where(col("__ha").isNull)
      .select(col("__id").as("id"), col("__hb").as("h"))
    val rg = leavers.groupBy("h")
      .agg(count(lit(1)).as("nr"), min(col("id")).as("rid"))
    val ag = arrivals.groupBy("h")
      .agg(count(lit(1)).as("na"), min(col("id")).as("aid"))
    // cached: consumed by the renamed projection AND both anti-joins —
    // uncached, the hash-pairing join (leaver/arrival groupings included)
    // ran three times
    val pairs = CacheScope.persist(rg.join(ag, "h")
      .where(col("nr") === 1 && col("na") === 1)
      .select(col("aid").as("id"), col("rid").as("old_id")))
    val renamed = pairs.select(col("id"), lit("renamed").as("status"), col("old_id"))
    val removed = leavers
      .join(pairs.select(col("old_id").as("id")), Seq("id"), "left_anti")
      .select(col("id"), lit("removed").as("status"), nullOld.as("old_id"))
    val added = arrivals
      .join(pairs.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), lit("added").as("status"), nullOld.as("old_id"))
    changed.unionByName(renamed).unionByName(removed).unionByName(added)
  }
}
