package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted HLL / CMS sketch store: the "sketch once, merge forever"
  * path for corpus cardinality and frequency profiles.
  *
  * The in-memory operators in [[Sketches]] rebuild their sketches from
  * the corpus per query; at 100 TB a profile that rescans history per
  * batch is the cost that kills the dashboard. This store applies the
  * [[DedupIndex]] pattern to sketches: each batch is sketched ONCE into
  * tiny parquet tables (per-group 256-int HLL register arrays; depth×width
  * CMS counters), appends land as ADDITIONAL partial-sketch rows (a
  * blind `mode("append")` write — no read-modify-write, no locking), and
  * reads merge on the fly (HLL registers max-merge, CMS counters sum —
  * both associative, so the merged read equals the sketch of the union
  * EXACTLY, the property qd68/qd69 pin against the direct derivation).
  *
  * Layout (plain parquet):
  *   `<path>/hll/`   grp, regs (array<int>, 256 max-rank registers) —
  *                   one row per group per appended batch
  *   `<path>/cms/`   row, bucket, cnt — ≤ depth×width rows per batch
  *   `<path>/cms_meta/`  width sidecar so appends can't change the
  *                   sketch shape mid-store
  *   `<path>/hist/`  grp, bucket, cnt — ≤ 64 log-bucket counter rows
  *                   per group per batch (sum-merged quantile profile)
  *
  * Scale shape: a batch append writes `groups × 1` KB-sized rows (HLL)
  * or ≤ 4×width counters (CMS) regardless of batch size; a profile read
  * scans `groups × n_batches` sketch rows — never the corpus. Every
  * hash is the engine-portable md5 form, so stored register/counter
  * values are re-derivable in external SQL and the whole store is
  * oracle-checkable (qd73/qd74 share qd65/qd66's oracles verbatim).
  */
object SketchStore {

  /** Initialize (overwrite) the HLL half with one batch's per-group
    * register sketches: one batch scan, `groups` rows out. */
  def writeHll(df: DataFrame, group: Column, value: Column,
      path: String): Unit =
    hllPartials(df, group, value)
      .write.mode("overwrite").parquet(s"$path/hll")

  /** Append a new batch's per-group partial sketches — history is never
    * re-read; the merge happens at read time (register max is
    * associative, so append order does not matter).
    *
    * Guard: appending a group that is currently TOMBSTONED
    * ([[deleteHllGroups]]) fails loudly instead of silently vanishing —
    * the tombstone hides the group NAME, so the new partial would be
    * invisible until the next [[compact]] and then resurrect part of
    * the deleted history with it. Re-admitting a deleted group requires
    * compact-first (which drops the dead partials and clears the
    * sidecar); the error says so.
    *
    * `maxFilesPerDir` > 0 enforces the small-file policy at append
    * time: when any directory's file count exceeds the threshold
    * ([[StoreFiles.needsFileCompaction]] — a short-circuited listing)
    * the store compacts in place (the appender is the store's single
    * writer, so the quiesce contract holds). */
  def appendHll(batch: DataFrame, group: Column, value: Column,
      path: String, maxFilesPerDir: Int = 0): Unit = {
    val spark = batch.sparkSession
    val partials = hllPartials(batch, group, value).localCheckpoint()
    if (StoreFiles.exists(spark, s"$path/hll_tombstones")) {
      val clash = partials
        .join(StoreFiles.scan(spark, s"$path/hll_tombstones"), Seq("grp"),
          "left_semi")
        .select(col("grp")).limit(1).collect()
      require(clash.isEmpty,
        s"appendHll: group '${clash.headOption.map(_.get(0)).orNull}' is tombstoned " +
          s"at $path — run SketchStore.compact first to re-admit it " +
          "(appending now would hide the partial until compact, then " +
          "resurrect deleted history)")
    }
    partials.write.mode("append").parquet(s"$path/hll")
    // only hll/ grows on this path — the policy walk lists just it
    if (maxFilesPerDir > 0 &&
        StoreFiles.needsFileCompaction(spark, path, maxFilesPerDir,
          touchedDirs = Seq("hll")))
      compact(spark, path)
  }

  private def hllPartials(df: DataFrame, group: Column,
      value: Column): DataFrame =
    df.groupBy(group.as("grp"))
      .agg(graft.functions.HllRegistersAgg.hllRegisters(value).as("regs"))

  /** Merged per-group cardinality profile over ALL stored partials:
    * `grp, present_registers, zero_registers, est_distinct` — byte
    * identical to sketching the union corpus directly
    * ([[Sketches.hllDistinctFast]]), without rescanning any of it.
    * Groups tombstoned by [[deleteHllGroups]] are excluded. */
  def readHllProfile(spark: SparkSession, path: String): DataFrame =
    Sketches.hllMergeRegisters(
      liveHllPartials(spark, path), col("grp"), col("regs"))

  private def liveHllPartials(spark: SparkSession,
      path: String): DataFrame =
    liveHllPartials(spark, path, StoreFiles.scan(spark, s"$path/hll"))

  private def liveHllPartials(spark: SparkSession, path: String,
      all: DataFrame): DataFrame =
    if (!StoreFiles.exists(spark, s"$path/hll_tombstones")) all
    else all.join(StoreFiles.scan(spark, s"$path/hll_tombstones"),
      Seq("grp"), "left_anti")

  /** Tombstone-delete whole GROUPS from the HLL half: register arrays
    * merge by max, so value-level deletion is mathematically impossible
    * (a max can't be un-taken — rebuild the store for that), but a
    * group's entire sketch CAN be dropped. The group keys land in a
    * tombstone sidecar that [[readHllProfile]] anti-joins; the partial
    * rows stay on disk until [[compact]] drops them physically. The
    * tombstone hides the group NAME, not a row-set: partials appended
    * for the same group before the next [[compact]] are hidden too —
    * to re-admit a deleted group, compact first (which clears the
    * sidecar), then append. */
  def deleteHllGroups(spark: SparkSession, path: String,
      groups: DataFrame, group: Column): Unit =
    groups.select(group.as("grp")).distinct()
      .write.mode("append").parquet(s"$path/hll_tombstones")

  /** Initialize (overwrite) the CMS half: depth-4 × `width` md5-lane
    * counters of one batch's values, plus the width sidecar. */
  def writeCms(df: DataFrame, value: Column, width: Int,
      path: String): Unit = {
    Sketches.cmsSketch(df, value, width)
      .write.mode("overwrite").parquet(s"$path/cms")
    df.sparkSession.createDataFrame(Seq(Tuple1(width))).toDF("width")
      .write.mode("overwrite").parquet(s"$path/cms_meta")
  }

  /** Append a new batch's partial counter sketch. The width comes from
    * the store's own sidecar — callers can't accidentally append a
    * differently-shaped sketch. */
  def appendCms(batch: DataFrame, value: Column, path: String): Unit =
    Sketches.cmsSketch(batch, value, cmsWidth(batch.sparkSession, path))
      .write.mode("append").parquet(s"$path/cms")

  /** The store's counter width (from the sidecar). */
  def cmsWidth(spark: SparkSession, path: String): Int =
    StoreFiles.sidecar(spark, s"$path/cms_meta")(_.head().getInt(0))

  /** Merged counters over ALL stored partials — counter-wise equal to
    * sketching the union corpus directly (CMS merges by sum). */
  def readCms(spark: SparkSession, path: String): DataFrame =
    Sketches.cmsMergeSketches(StoreFiles.scan(spark, s"$path/cms"))

  /** Point-estimate probe counts against the merged store (probes are
    * never shuffled; the merged sketch is ≤ 4×width rows, broadcast). */
  def probeCms(spark: SparkSession, path: String, probes: DataFrame,
      term: Column): DataFrame =
    Sketches.cmsEstimate(readCms(spark, path), probes, term,
      cmsWidth(spark, path))

  /** Initialize (overwrite) the HISTOGRAM half with one batch's
    * per-group log-bucket counters: one batch scan, ≤ 64 rows per
    * group out. The distribution member of the store's profiling triad
    * (HLL = distinct, CMS = frequency, histogram = quantiles). */
  def writeHist(df: DataFrame, group: Column, measure: Column,
      path: String): Unit =
    Sketches.histSketch(df, group, measure)
      .write.mode("overwrite").parquet(s"$path/hist")

  /** Append a new batch's partial histogram counters — history is never
    * re-read; counters ADD at read time (associative, append-order
    * free, like the CMS half). */
  def appendHist(batch: DataFrame, group: Column, measure: Column,
      path: String): Unit =
    Sketches.histSketch(batch, group, measure)
      .write.mode("append").parquet(s"$path/hist")

  /** Merged counters over ALL stored partials — counter-wise equal to
    * sketching the union corpus directly. */
  def readHist(spark: SparkSession, path: String): DataFrame =
    Sketches.histMergeSketches(StoreFiles.scan(spark, s"$path/hist"))

  /** Merged per-group quantile profile over all stored partials —
    * identical to [[Sketches.histQuantiles]] over the union's sketch,
    * without rescanning any batch. */
  def readHistProfile(spark: SparkSession, path: String,
      quantiles: Seq[Double]): DataFrame =
    Sketches.histQuantiles(readHist(spark, path), quantiles)

  /** Delete a batch of VALUES from the CMS half by appending the
    * batch's counter sketch NEGATED: counters are linear, so
    * `sketch(A) − sketch(B) = sketch(A \ B)` counter-for-counter when
    * B is a sub-multiset of what the store has absorbed — the merged
    * read then equals a store built without the batch, exactly (the
    * tombstone path for subtractable sketches; HLL, a max-merge, gets
    * group tombstones instead). Caller contract: only delete values
    * the store actually counted, or counters go negative and probe
    * estimates (a min over lanes) turn meaningless. */
  def deleteCms(batch: DataFrame, value: Column, path: String): Unit =
    appendNegPartial(
      Sketches.cmsSketch(batch, value, cmsWidth(batch.sparkSession, path)),
      s"$path/cms")

  /** Delete a batch of measures from the HISTOGRAM half via the same
    * negative-partial algebra as [[deleteCms]] (bucket counters are
    * linear too). Same sub-multiset contract. */
  def deleteHist(batch: DataFrame, group: Column, measure: Column,
      path: String): Unit =
    appendNegPartial(Sketches.histSketch(batch, group, measure),
      s"$path/hist")

  /** Append a negated counter partial, layout-aware: a BATCH-KEYED
    * store (the streaming sink layout) gets the negative rows under
    * the reserved `batch_id = −2` partition — never a real batch id,
    * so replays and [[compactBatches]] folds can't collide with it
    * (the [[LexIndex.deleteFromBm25Index]] discipline) — while a plain
    * store keeps the flat append. Writing unpartitioned files into a
    * partitioned directory would corrupt it into a mixed layout. */
  private def appendNegPartial(sketch: DataFrame, dir: String): Unit = {
    val neg = sketch.withColumn("cnt", -col("cnt"))
    if (StoreFiles.scan(sketch.sparkSession, dir).columns
        .contains("batch_id"))
      neg.withColumn("batch_id", lit(-2L))
        .write.mode("append").partitionBy("batch_id").parquet(dir)
    else neg.write.mode("append").parquet(dir)
  }

  /** Element-wise max-merge of per-group register partials back into
    * ONE `(grp, regs)` row per group — the canonical partial a single
    * whole-corpus sketch would have produced. Every partial carries all
    * 256 registers, so the per-register regroup reassembles exactly
    * 256-long arrays. */
  private def hllFold(partials: DataFrame): DataFrame =
    partials
      .select(col("grp"), posexplode(col("regs")).as(Seq("reg", "rank")))
      .groupBy(col("grp"), col("reg"))
      .agg(max(col("rank")).as("mrank"))
      .groupBy(col("grp"))
      .agg(array_sort(collect_list(struct(col("reg"), col("mrank"))))
        .as("ps"))
      .select(col("grp"),
        transform(col("ps"), p => p.getField("mrank")).as("regs"))

  /** Fold every appended partial into ONE canonical row-set per
    * sub-store and atomically replace its directory (the
    * [[StoreFiles.replaceDir]] rename swap). Merged reads are unchanged
    * — all three merges are associative, the pre/post equality
    * StoreSpec pins — but a profile read now scans `groups` rows
    * instead of `groups × n_batches`, and the per-batch small files the
    * blind appends accumulate collapse into one. HLL group tombstones
    * and CMS/histogram negative partials are applied physically (folded
    * counters absorb the negatives; tombstoned groups are dropped) and
    * the tombstone sidecar is cleared.
    *
    * Trigger policy: appends are deliberately blind (no history read),
    * so compaction is the periodic half of the lifecycle — run it when
    * partials-per-group exceed a few dozen (the streaming sink's
    * `compactEvery` counts batches for exactly this), or on a schedule.
    * Contract: writers quiesced during the call (rename swap). */
  def compact(spark: SparkSession, path: String): Unit = {
    // batch-keyed stores (the streaming sink layout) keep their
    // partitioned shape: the full fold lands as partition −1, so later
    // per-batch dynamic overwrites still compose — a plain-layout
    // rewrite here would corrupt the directory into a mixed layout
    def write(folded: DataFrame, batchKeyed: Boolean, tmp: String): Unit =
      if (batchKeyed)
        folded.withColumn("batch_id", lit(-1L)).coalesce(1)
          .write.partitionBy("batch_id").parquet(tmp)
      else folded.coalesce(1).write.parquet(tmp)
    def sub(name: String, pre: DataFrame => DataFrame)(
        fold: DataFrame => DataFrame): Unit =
      if (StoreFiles.exists(spark, s"$path/$name"))
        StoreFiles.replaceDir(spark, s"$path/$name") { tmp =>
          val all = pre(StoreFiles.scan(spark, s"$path/$name"))
          val keyed = all.columns.contains("batch_id")
          write(fold(if (keyed) all.drop("batch_id") else all), keyed, tmp)
        }
    sub("hll", partials => liveHllPartials(spark, path,
      partials))(hllFold)
    StoreFiles.delete(spark, s"$path/hll_tombstones")
    sub("cms", identity)(Sketches.cmsMergeSketches)
    sub("hist", identity)(Sketches.histMergeSketches)
  }

  // ---- batch-keyed writes: the exactly-once streaming layout ----
  //
  // The streaming profile sink can't use the blind appends above: a
  // replayed micro-batch would re-append its partials and over-count
  // every linear counter. Keying each batch's partials by a `batch_id`
  // PARTITION and writing with dynamic partition overwrite makes the
  // write idempotent — a replay rewrites its own partition byte-for-byte
  // instead of duplicating it, and batch 0 after a checkpoint reset
  // overwrites only partition 0, never a pre-existing store. A store is
  // either batch-keyed (every write through these) or plain (the
  // appends above) — the two layouts don't mix under one path.

  private def writeBatchPartial(partial: DataFrame, batchId: Long,
      dir: String): Unit =
    partial.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(dir)

  /** Idempotently (re)write one batch's per-group HLL partial under its
    * `batch_id` partition. */
  def putHllBatch(batch: DataFrame, group: Column, value: Column,
      path: String, batchId: Long): Unit =
    writeBatchPartial(hllPartials(batch, group, value), batchId,
      s"$path/hll")

  /** Idempotently (re)write one batch's CMS counter partial. Creates
    * the width sidecar on first use; later calls read it back, so every
    * batch of a store shares one shape even across restarts. */
  def putCmsBatch(batch: DataFrame, value: Column, path: String,
      batchId: Long, width: Int): Unit = {
    val spark = batch.sparkSession
    if (!StoreFiles.exists(spark, s"$path/cms_meta"))
      spark.createDataFrame(Seq(Tuple1(width))).toDF("width")
        .write.mode("overwrite").parquet(s"$path/cms_meta")
    writeBatchPartial(
      Sketches.cmsSketch(batch, value, cmsWidth(spark, path)), batchId,
      s"$path/cms")
  }

  /** Idempotently (re)write one batch's histogram counter partial. */
  def putHistBatch(batch: DataFrame, group: Column, measure: Column,
      path: String, batchId: Long): Unit =
    writeBatchPartial(Sketches.histSketch(batch, group, measure), batchId,
      s"$path/hist")

  /** Compact a BATCH-KEYED store: fold every partition with
    * `batch_id < keepFrom` (including earlier folds at −1) into one
    * canonical partial under `batch_id = −1`, leaving partitions ≥
    * `keepFrom` untouched. Called from the streaming sink with
    * `keepFrom` = the batch it just wrote: under foreachBatch's
    * at-least-once contract the ONLY replayable batch is the one whose
    * commit hasn't landed yet, and batches before it have committed —
    * so folding them can never race a replay, and a replay of
    * `keepFrom` itself still dynamic-overwrites its own live
    * partition. Merged reads are unchanged (same associativity as
    * [[compact]]). */
  def compactBatches(spark: SparkSession, path: String,
      keepFrom: Long): Unit = {
    def sub(name: String)(fold: DataFrame => DataFrame): Unit =
      if (StoreFiles.exists(spark, s"$path/$name"))
        StoreFiles.replaceDir(spark, s"$path/$name") { tmp =>
          val all = StoreFiles.scan(spark, s"$path/$name")
          fold(all.filter(col("batch_id") < keepFrom).drop("batch_id"))
            .withColumn("batch_id", lit(-1L))
            .unionByName(all.filter(col("batch_id") >= keepFrom))
            .coalesce(1)
            .write.partitionBy("batch_id").parquet(tmp)
        }
    sub("hll")(hllFold)
    sub("cms")(Sketches.cmsMergeSketches)
    sub("hist")(Sketches.histMergeSketches)
  }
}
