package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus snapshot diffing: classify every document id across two
  * versions of a corpus as `added` / `removed` / `changed` / `same` by
  * content fingerprint — the audit step between two curation runs
  * ("what did the new crawl actually change?").
  *
  * Scale shape: both sides reduce to (id, fingerprint) projections
  * before the single full-outer join on id — the join carries 40-byte
  * rows, never text. At 100 TB the fingerprints are exactly what
  * [[DedupIndex.writeExactIndex]] already persists, so diffing two
  * INDEXED snapshots reads no text at all.
  */
object Versioning {

  /** Per-document diff status between `oldDocs` and `newDocs`.
    * Returns (doc_id, status) with status ∈ added|removed|changed|same. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame, id: Column,
      text: Column): DataFrame = {
    val o = oldDocs.select(id.as("doc_id"),
      TextAnalysis.fingerprint(text).as("old_fp"))
    val n = newDocs.select(id.as("doc_id"),
      TextAnalysis.fingerprint(text).as("new_fp"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") === col("new_fp"), "same")
          .otherwise("changed").as("status"))
  }
}
