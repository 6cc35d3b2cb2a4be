package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted 64-bit Hamming FINGERPRINT index — the incremental-arrival
  * path for every 64-bit fingerprint family ([[Dedup.hammingNearDup]]'s
  * set-shaped "all pairs within radius" made a store): perceptual image
  * aHash, audio dHash ([[Multimodal]]), SimHash over tokens,
  * rolling-hash sketches. The [[DedupIndex]] MinHash store plays this
  * role for text shingles; THIS is its exact-at-the-radius twin for
  * packed 64-bit signatures — a 100 TB media corpus pays ONE banding
  * pass at build, and each arriving batch then finds its stored
  * near-dup partners through a band equi-join whose only pair-sized
  * work is the candidates a shared band key admits. Never a corpus
  * rescan, never an all-pairs join, and recall is exactly 1.0 at the
  * stored radius (the generalized-pigeonhole guarantee — spec-pinned
  * against brute force).
  *
  * Layout under `path`:
  *  - `sigs/` — (doc_id, sh, attrs…): the signature of record, for
  *    audits, rebuilds, and radius re-derivation.
  *  - `bands/` — one row per (doc, band key): (doc_id, sh, attrs…,
  *    block_idx, block_val), partitioned by `bpfx` (band value mod
  *    [[BandPfxBuckets]]) and sorted by (block_idx, block_val) within
  *    each directory. A probe pushes its batch's literal bpfx set into
  *    the partition column — a narrow batch (few docs, or a small
  *    radius whose combination count is below the fan-out) reads only
  *    its own directories — and the within-directory sort keeps
  *    row-group stats selective for the join's matched keys.
  *  - `meta/` — the radius, pinned at build: probes band with the
  *    STORE's radius, so a caller can't accidentally band differently
  *    from the rows it probes (the [[DedupIndex]] meta discipline).
  *  - `tombstones/` — delete sidecar; probes anti-join it, so a
  *    deleted doc stops surfacing as a partner immediately and
  *    [[compact]] drops its rows physically later.
  *
  * Attribute columns follow the store-wide contract
  * ([[LexIndex]]/[[AnnIndex]]): denormalized onto the banded rows at
  * build/append so a filtered probe is the SAME pruned scan with one
  * more pushed predicate — candidates restricted BEFORE verification,
  * never a join back to the corpus.
  */
object FingerprintIndex {

  /** At-scale partition fan-out of `bands/`: 64 directories keeps the
    * store flat-cap-friendly while giving narrow probes a real
    * directory lever — at small radii (c = 1, e.g. 4 combinations at
    * radius 3) a single-doc probe touches ≤ 4 of the 64 directories.
    * Once a batch's key count covers the fan-out, every directory
    * holds candidates and the scale mechanism is the equi-join itself
    * (only band-matched rows survive to the pair stage — the
    * [[DedupIndex.nearDupAgainstIndex]] shape), with the columnar
    * 16-byte band scan as the floor. Deployments probing single-doc /
    * small arrivals at wide radii can raise the fan-out at build time
    * (`pfxBuckets`); the value is meta-pinned like the radius, so
    * probes always derive prefixes under the store's own constant.
    *
    * The build DEFAULT is scale-adaptive ([[adaptiveBuckets]]): small
    * corpora take 8 directories, 100k+ take the full 64 — a 64-way
    * fan-out on a few thousand signatures writes 64 near-empty files
    * per table and pushes every read past the 32-path parallel-listing
    * threshold (one distributed listing JOB per scan), costing more
    * than the pruning saves. Probes are unaffected either way: they
    * read the fan-out from meta. */
  val BandPfxBuckets = 64

  /** The scale-adaptive build default — see [[BandPfxBuckets]]. */
  private def adaptiveBuckets(nSigs: Long): Int =
    if (nSigs < 100000L) 8 else BandPfxBuckets

  // batch_id is reserved too: the batch-keyed layout writes it as a
  // partition column, and a same-named attr would silently be
  // clobbered there — and on a plain store would make compact()
  // misread the layout as batch-keyed. All entry points fail loudly.
  private val Reserved =
    Set("doc_id", "sh", "block_idx", "block_val", "bpfx", "batch_id")

  private def checkAttrs(df: DataFrame): Unit = {
    val dups = df.columns.groupBy(identity)
      .collect { case (c, a) if a.length > 1 => c }
    require(dups.isEmpty,
      s"attr columns duplicate reserved names: ${dups.mkString(",")}")
    val bad = df.columns.drop(2).filter(Reserved)
    require(bad.isEmpty,
      s"attr columns collide with reserved names: ${bad.mkString(",")}")
  }

  /** (doc_id, sh, attrs…) → one row per band key, carrying the
    * signature and attrs so verification and filtering never need a
    * second join. `pfxBuckets` comes from the store's meta on every
    * path that touches an existing store — like the radius, the
    * partition fan-out is pinned at build so a probe can never derive
    * prefixes under a different constant than the directories were
    * written with (which would silently mis-prune). */
  private def bandedOf(sigs: DataFrame, maxHamming: Int,
      pfxBuckets: Int): DataFrame =
    sigs.select(col("*"),
        posexplode(Dedup.hammingBandKeys(col("sh"), maxHamming))
          .as(Seq("block_idx", "block_val")))
      .withColumn("bpfx",
        pmod(col("block_val"), lit(pfxBuckets.toLong)).cast("int"))

  /** (maxHamming, pfxBuckets) from the store's meta sidecar — columns
    * selected by NAME so a schema-order drift across store versions
    * fails loudly (missing column) instead of silently swapping the
    * radius and the fan-out. */
  private[ops] def readMeta(spark: SparkSession, path: String): (Int, Int) =
    StoreFiles.sidecar(spark, s"$path/meta") { df =>
      val m = df.select("max_hamming", "pfx_buckets").head()
      (m.getInt(0), m.getInt(1))
    }

  /** Build + persist the fingerprint index: one signature scan feeds
    * both tables. `maxHamming` is the radius the store serves —
    * probing a looser radius than the store was built for would lose
    * pairs, so the radius is meta-pinned and probes read it back.
    *
    * `batchKeyed = true` writes the base build under batch_id = −1
    * (sigs partitioned by batch_id, bands by (batch_id, bpfx)) — the
    * store-wide batch-keyed discipline, so the streaming ingest's
    * per-batch dynamic overwrites ([[putHammingBatch]]) compose with
    * the base. A store is either batch-keyed (this +
    * [[putHammingBatch]]) or plain (default + [[appendHammingIndex]]);
    * the layouts don't mix under one path. Probes are layout-agnostic:
    * they name their columns explicitly and `bpfx` prunes partitions
    * at either nesting depth. */
  def writeHammingIndex(sigs0: DataFrame, id: Column, sig: Column,
      path: String, maxHamming: Int, attrs: Seq[Column] = Nil,
      batchKeyed: Boolean = false,
      pfxBuckets: Int = 0): Unit = {
    // the band-row count per signature is C(maxHamming + c, c): radius
    // 16 is 4,845 rows/doc (the exact-recall price, heavy but
    // servable); radius 20 would be 53,130 and radius 32 ~77M — a
    // build at such a radius OOMs or never finishes rather than
    // failing fast, so the bound stops at the last practical radius
    require(maxHamming >= 0 && maxHamming <= 16,
      s"need 0 <= maxHamming <= 16 (band rows per signature grow as " +
        s"C(maxHamming+c, c) — 4,845 at 16, 53,130 at 20), got $maxHamming")
    // 0 = the scale-adaptive default (sized from the corpus below);
    // an explicit value pins the fan-out, as before
    require(pfxBuckets == 0 || (pfxBuckets >= 1 && pfxBuckets <= 4096),
      s"need 1 <= pfxBuckets <= 4096 (or 0 = adaptive), got $pfxBuckets")
    val sigs = sigs0
      .select(id.cast("long").as("doc_id") +: sig.as("sh") +: attrs: _*)
      .localCheckpoint(eager = false)
    checkAttrs(sigs)
    // the count doubles as the lazy checkpoint's materialization — the
    // writes below reuse the checkpointed rows, so sizing the fan-out
    // costs no extra corpus scan
    val buckets =
      if (pfxBuckets != 0) pfxBuckets else adaptiveBuckets(sigs.count())
    if (batchKeyed)
      sigs.withColumn("batch_id", lit(-1L))
        .write.mode("overwrite").partitionBy("batch_id")
        .parquet(s"$path/sigs")
    else sigs.write.mode("overwrite").parquet(s"$path/sigs")
    val banded = bandedOf(sigs, maxHamming, buckets)
      .repartition(col("bpfx"))
      .sortWithinPartitions(col("block_idx"), col("block_val"))
    if (batchKeyed)
      banded.withColumn("batch_id", lit(-1L))
        .write.mode("overwrite").partitionBy("batch_id", "bpfx")
        .parquet(s"$path/bands")
    else banded.write.mode("overwrite").partitionBy("bpfx")
      .parquet(s"$path/bands")
    sigs.sparkSession.createDataFrame(Seq((maxHamming, buckets)))
      .toDF("max_hamming", "pfx_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Ingest one micro-batch into a batch-keyed fingerprint store:
    * every row lands under its batch's own partitions, so a foreachBatch
    * replay overwrites exactly the partitions it wrote the first time —
    * EXACTLY-once under the at-least-once contract, the
    * [[SketchStore]] discipline. Banding radius comes from the store's
    * meta; attrs must match the build's. */
  def putHammingBatch(batch: DataFrame, id: Column, sig: Column,
      path: String, batchId: Long, attrs: Seq[Column] = Nil): Unit = {
    val spark = batch.sparkSession
    val (maxHamming, pfxBuckets) = readMeta(spark, path)
    val sigs = batch
      .select(id.cast("long").as("doc_id") +: sig.as("sh") +: attrs: _*)
      .localCheckpoint(eager = false)
    checkAttrs(sigs)
    sigs.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$path/sigs")
    bandedOf(sigs, maxHamming, pfxBuckets)
      .withColumn("batch_id", lit(batchId))
      .repartition(col("bpfx"))
      .sortWithinPartitions(col("block_idx"), col("block_val"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "bpfx").parquet(s"$path/bands")
  }

  /** Fold a batch-keyed fingerprint store's COMMITTED batches
    * (batch_id < keepFrom, including earlier folds at −1) into the
    * base partition, collapsing per-batch small files; partitions ≥
    * keepFrom are untouched, so a replay of the one in-flight batch
    * still overwrites only its own partitions (the streaming-safe
    * fold contract of the other families). Probe results unchanged. */
  def compactHammingBatches(spark: SparkSession, path: String,
      keepFrom: Long): Unit = {
    def fold(dir: String, inner: Option[String]): Unit =
      StoreFiles.replaceDir(spark, dir) { tmp =>
        val all = StoreFiles.scan(spark, dir)
        val out = all.filter(col("batch_id") < keepFrom).drop("batch_id")
          .withColumn("batch_id", lit(-1L))
          .unionByName(all.filter(col("batch_id") >= keepFrom))
        inner match {
          case Some(p) => out.repartition(col(p))
            .sortWithinPartitions(col("block_idx"), col("block_val"))
            .write.partitionBy("batch_id", p).parquet(tmp)
          case None => out.repartition(
              spark.sessionState.conf.numShufflePartitions)
            .write.partitionBy("batch_id").parquet(tmp)
        }
      }
    fold(s"$path/sigs", None)
    fold(s"$path/bands", Some("bpfx"))
  }

  /** Append an accepted batch's signatures + banded rows (the
    * incremental-growth twin of [[writeHammingIndex]]): the radius
    * comes from the store's own meta sidecar, so an append can't band
    * differently from the base build. Attr columns must match the
    * store's (the store-wide consistency contract — backfill upgrades
    * ride [[compact]]'s rewrite, as in the other families). */
  def appendHammingIndex(batch: DataFrame, id: Column, sig: Column,
      path: String, attrs: Seq[Column] = Nil,
      maxFilesPerDir: Int = 0): Unit = {
    val spark = batch.sparkSession
    val (maxHamming, pfxBuckets) = readMeta(spark, path)
    val sigs = batch
      .select(id.cast("long").as("doc_id") +: sig.as("sh") +: attrs: _*)
      .localCheckpoint(eager = false)
    checkAttrs(sigs)
    sigs.write.mode("append").parquet(s"$path/sigs")
    val banded = bandedOf(sigs, maxHamming, pfxBuckets)
    banded
      .repartition(col("bpfx"))
      .sortWithinPartitions(col("block_idx"), col("block_val"))
      .write.mode("append").partitionBy("bpfx").parquet(s"$path/bands")
    // the store-family small-file policy: blind appends leave one more
    // file per touched directory; when any exceeds the threshold
    // (listing bounded to what this append grew, plus the flat sigs/
    // table under the shuffle-count-aware flat cap), compact in place
    if (maxFilesPerDir > 0) {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      val touched = banded.select(col("bpfx")).distinct().collect()
        .map(r => "bands/bpfx=" +
          ExternalCatalogUtils.escapePathName(r.getInt(0).toString))
        .toIndexedSeq :+ "sigs"
      if (StoreFiles.needsFileCompaction(spark, path, maxFilesPerDir,
          touched, spark.sessionState.conf.numShufflePartitions))
        compact(spark, path)
    }
  }

  /** Tombstone-delete documents: probes anti-join the sidecar, so a
    * deleted doc immediately stops pairing with new arrivals —
    * identical probe results to an index rebuilt without the docs.
    * Rows stay on disk until [[compact]]. Idempotent. */
  def deleteDocs(spark: SparkSession, path: String, ids: DataFrame,
      id: Column): Unit =
    ids.select(id.cast("long").as("doc_id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")

  /** Compact: physically drop tombstoned rows from both tables,
    * collapse the small files appends left per partition, clear the
    * sidecar. Probe results unchanged; probe cost drops (no anti-join,
    * fewer files per pruned directory). Writers quiesced during the
    * rename swaps.
    *
    * `backfillAttrs` UPGRADES a store built without attribute columns
    * to filtered serving WITHOUT a corpus rebuild — the store-family
    * upgrade path ([[LexIndex.compactBm25Index]] precedent): a
    * (doc_id, attr…) frame with unique doc_id joins onto every live
    * row during the rewrite compaction already does. After the
    * compact, probes accept `attrFilter` over the new columns exactly
    * as if the store had been built with them (spec-pinned identity);
    * subsequent appends/puts must carry matching attrs. Docs missing
    * from the frame keep NULL attrs — they then fail every
    * non-null-safe attrFilter, so cover the corpus. */
  def compact(spark: SparkSession, path: String,
      backfillAttrs: Option[DataFrame] = None): Unit = {
    val attrF = backfillAttrs.map { a =>
      require(a.columns.contains("doc_id"),
        "backfillAttrs needs a doc_id join column")
      val clash = a.columns.filter(c => c != "doc_id" && Reserved(c))
      require(clash.isEmpty,
        "backfillAttrs columns collide with index columns: " +
          clash.mkString(", "))
      // a duplicate doc_id would MULTIPLY band rows — one aggregation
      // over the (small) attr table rules it out before the rewrite
      val c = a.agg(count(lit(1)).as("n"),
        countDistinct(col("doc_id")).as("nd")).head()
      require(c.getLong(0) == c.getLong(1),
        "backfillAttrs has duplicate doc_id rows")
      a.localCheckpoint(eager = false)
    }
    def withAttrs(df: DataFrame): DataFrame =
      attrF.fold(df)(a => df.join(a, Seq("doc_id"), "left"))
    StoreFiles.replaceDir(spark, s"$path/sigs") { tmp =>
      val live = withAttrs(
        StoreFiles.dropTombstoned(spark, path,
          StoreFiles.scan(spark, s"$path/sigs"), "doc_id"))
      val out = live
        .repartition(spark.sessionState.conf.numShufflePartitions)
      if (live.columns.contains("batch_id"))
        out.write.partitionBy("batch_id").parquet(tmp)
      else out.write.parquet(tmp)
    }
    StoreFiles.replaceDir(spark, s"$path/bands") { tmp =>
      val live = withAttrs(
        StoreFiles.dropTombstoned(spark, path,
          StoreFiles.scan(spark, s"$path/bands"), "doc_id"))
      val out = live.repartition(col("bpfx"))
        .sortWithinPartitions(col("block_idx"), col("block_val"))
      if (live.columns.contains("batch_id"))
        out.write.partitionBy("batch_id", "bpfx").parquet(tmp)
      else out.write.partitionBy("bpfx").parquet(tmp)
    }
    StoreFiles.delete(spark, s"$path/tombstones")
  }

  /** All stored near-dup partners of a new batch, exact at the store's
    * radius: (batch_doc, index_doc, hamming ≤ maxHamming). The batch
    * bands with the STORE's meta-pinned radius; its distinct bpfx
    * values (at most [[BandPfxBuckets]] — the collect is bounded by
    * construction, not by the batch) prune the band scan's partition
    * directories; the equi-join on (block_idx, block_val) admits only
    * band-matched candidates, each already carrying both signatures,
    * so verification is one codegen'd bit_count per candidate and the
    * only pair-sized exchange is the final dedup of multi-band
    * matches. `attrFilter` restricts the STORED side (pushed into the
    * same pruned scan — "partners among lang=en docs" never rescans).
    * A batch doc already present in the index pairs with itself at
    * distance 0; callers probing arrivals before ingest (the
    * [[DedupIndex.newOnly]] shape) never see that row. */
  def hammingAgainstIndex(spark: SparkSession, batch: DataFrame,
      id: Column, sig: Column, path: String,
      attrFilter: Option[Column] = None): DataFrame = {
    val (maxHamming, pfxBuckets) = readMeta(spark, path)
    val b = batch.select(id.cast("long").as("batch_doc"),
        sig.as("b_sh"))
      .localCheckpoint(eager = false)
    val bBands = b.select(col("batch_doc"), col("b_sh"),
        posexplode(Dedup.hammingBandKeys(col("b_sh"), maxHamming))
          .as(Seq("block_idx", "block_val")))
      .withColumn("bpfx",
        pmod(col("block_val"), lit(pfxBuckets.toLong)).cast("int"))
    val pfxs = bBands.select(col("bpfx")).distinct()
      .collect().map(_.getInt(0)).toIndexedSeq
    val stored = StoreFiles.dropTombstoned(spark, path,
      attrFilter.foldLeft(
          StoreFiles.scan(spark, s"$path/bands")
            .filter(col("bpfx").isin(pfxs: _*)))(_.filter(_)), "doc_id")
    stored.as("i")
      .join(bBands.as("b"),
        col("i.block_idx") === col("b.block_idx") &&
          col("i.block_val") === col("b.block_val"))
      .select(col("b.batch_doc"), col("i.doc_id").as("index_doc"),
        bit_count(col("b.b_sh").bitwiseXOR(col("i.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** RANKED top-k Hamming serving from the SAME fingerprint store —
    * (batch_doc, index_doc, hamming, rank), rank 1-based per batch doc
    * by (hamming asc, index_doc asc): the store's set-shaped probe
    * ([[hammingAgainstIndex]]) capped to each query's k best partners.
    * Unifies serving on ONE artifact: without this, ranked Hamming
    * needed the same 64-bit signatures written a second time into the
    * [[AnnIndex]] binary family — duplicated storage and two
    * lifecycles for one modality. The k best WITHIN THE STORE'S
    * RADIUS: banded candidates are exact at the radius (the
    * pigeonhole guarantee), so the page is exactly brute-force top-k
    * cut at the radius, and a doc with fewer than k partners inside
    * the radius returns an UNDER-FILLED page (by design — a Hamming
    * store serves "near duplicates, ranked", not "nearest whatever";
    * rows beyond the radius would need an unbanded corpus scan).
    * Scale shape unchanged from the set probe: pruned band scan +
    * equi-join + one codegen'd bit_count per candidate; the ranking
    * adds only a bounded per-query top-k aggregate (map-side k-row
    * states — candidates never collect). No query batch ceiling is
    * needed: unlike the ANN kNN joins, nothing query-sized is
    * collected or broadcast — the only driver-side collect remains
    * the bpfx set, bounded by the meta-pinned fan-out. `attrFilter`
    * restricts the stored side in the same pruned scan. */
  def hammingTopK(spark: SparkSession, batch: DataFrame, id: Column,
      sig: Column, path: String, k: Int,
      attrFilter: Option[Column] = None): DataFrame = {
    require(k >= 1 && k <= 1000, s"need 1 <= k <= 1000, got $k")
    hammingAgainstIndex(spark, batch, id, sig, path, attrFilter)
      .groupBy(col("batch_doc"))
      .agg(graft.functions.TopKAggregate
        .topk(-col("hamming").cast("double"), col("index_doc"), k)
        .as("top"))
      .select(col("batch_doc"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("batch_doc"), col("p.id").as("index_doc"),
        (-col("p.score")).cast("int").as("hamming"),
        (col("r") + 1).cast("long").as("rank"))
  }

  /** The arrival GATE: filter a new batch down to rows with NO stored
    * partner within the store's radius — the near-dup twin of
    * [[DedupIndex.newOnly]] (which gates on exact fingerprints). The
    * returned frame keeps the batch's full schema, so the accepted
    * rows flow straight into [[appendHammingIndex]] /
    * [[putHammingBatch]]: probe-then-ingest is the per-arrival dedup
    * loop a 100 TB media pipeline runs. One banded probe + one
    * batch-sized anti-join; duplicates WITHIN the batch are not
    * gated (they agree on arrival time — dedup them upstream with
    * [[Dedup.hammingNearDup]] if the batch itself can collide). */
  def newOnlyByHamming(spark: SparkSession, batch: DataFrame,
      id: Column, sig: Column, path: String): DataFrame = {
    val dupIds = hammingAgainstIndex(spark, batch, id, sig, path)
      .select(col("batch_doc")).distinct()
    batch.join(dupIds,
      id.cast("long") === col("batch_doc"), "left_anti")
  }
}
