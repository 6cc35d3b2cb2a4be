package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN indexes: the 100 TB path for similarity search.
  *
  * The in-memory operators in [[Similarity]] bucket/assign the corpus per
  * query. At scale the index is built ONCE — a single partition-local scan
  * over the corpus — and stored as a parquet table PARTITIONED BY the
  * bucket (LSH) or cell (IVF) key. A query then reads only the probed
  * partitions: the probe list is computed driver-side (from the stored
  * plane seed / centroid table, both tiny) and pushed down as a partition
  * filter, so a top-k over a 100 TB corpus touches
  * `probes / 2^numPlanes` (LSH) or `nProbe / nList` (IVF) of the files
  * and never shuffles the corpus.
  *
  * Layout (all plain parquet, no external service):
  *   `<path>/index/`      vec_id, v (normalized), partitioned by bucket|cell
  *   `<path>/centroids/`  IVF only: cell, cv
  *   `<path>/errstate/`   trained families only: the memoized drift
  *                        state — (batch_id, n, sum_e6) rows whose sum
  *                        is the live corpus's count + quantization-
  *                        error sum under the current model
  *   `<path>/genptr/`, `<path>/gens/g<N>/`  trained families only:
  *                        the generation pointer + retrained roots
  *                        (see the Generations section below)
  */
object AnnIndex {

  private def dotLocal(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length && i < b.length) { s += a(i) * b(i); i += 1 }
    s
  }

  // ------------------------------------------------------------------
  // Generations — retrain without quiescing probes (trained families).
  //
  // A retrain compact used to rewrite the trained store's data tables
  // in place and swap the tiny model sidecars last, leaving a bounded
  // window where rows were assigned under a newer model than the
  // sidecar — IVF-PQ ADC rankings in that window were unreliable, so
  // the contract quiesced probes through a retrain. At 100 TB a model
  // retrain is exactly when serving load exists, so the window itself
  // had to go: a retrain now writes the NEW model and its re-encoded
  // data under a fresh GENERATION ROOT (`<path>/gens/g<N>`), leaving
  // the old generation's tables untouched and serving, and flips a
  // one-row pointer (`<path>/genptr`) LAST — one atomic rename. Every
  // entry point resolves the pointer ONCE ([[currentRoot]]) and uses
  // that literal root for its whole plan, so a probe interleaved with
  // a retrain reads whole-old or whole-new tables, never a mix; a
  // crash anywhere before the flip leaves the old generation serving
  // and a re-run converges (the half-written next root is deleted and
  // rebuilt). Dead generations are REAPED at the next plain compact
  // (writers quiesced there by the existing contract — the grace
  // period a pinned probe needs). Only the trained families (IVF,
  // IVF-PQ) ever create a pointer: untrained stores resolve to their
  // own path with one existence check, and resolution is idempotent
  // (a generation root has no pointer of its own).
  //
  // Tombstones are PER GENERATION: a retrain trains without the
  // tombstoned rows and drops them physically, so the new root starts
  // with no sidecar, while the old root keeps its sidecar for probes
  // still pinned to it — both die together at reap.
  // ------------------------------------------------------------------

  /** The generation currently serving at `path` (0 = the path's own
    * directories, the layout every store starts with). */
  def currentGeneration(spark: SparkSession, path: String): Long =
    if (!StoreFiles.exists(spark, s"$path/genptr")) 0L
    else StoreFiles.sidecar(spark, s"$path/genptr")(_.head().getLong(0))

  /** The directory root the current generation's sub-tables live
    * under — `path` itself at generation 0, `<path>/gens/g<N>` after N
    * retrains. Resolved ONCE per operation; all of an operation's
    * reads then use the returned literal, which is what pins a probe
    * to a single generation across a concurrent retrain. */
  def currentRoot(spark: SparkSession, path: String): String = {
    val g = currentGeneration(spark, path)
    if (g == 0L) path else s"$path/gens/g$g"
  }

  private def flipGeneration(spark: SparkSession, path: String,
      gen: Long): Unit =
    StoreFiles.replaceDir(spark, s"$path/genptr") { tmp =>
      spark.createDataFrame(Seq(Tuple1(gen))).toDF("gen")
        .coalesce(1).write.parquet(tmp)
    }

  /** Drop every generation below `cur` — the dead gen-0 data dirs at
    * the store root plus earlier `gens/g*` roots. Runs inside a plain
    * compact (writers quiesced; probes pinned to a dead generation
    * must have drained — the documented reap grace). */
  private def reapGenerations(spark: SparkSession, path: String,
      cur: Long): Unit =
    if (cur > 0) {
      Seq("index", "codes", "bits", "vectors", "centroids", "codebook",
        "stats", "meta", "tombstones", "errstate")
        .foreach(d => StoreFiles.delete(spark, s"$path/$d"))
      (1L until cur).foreach(g =>
        StoreFiles.delete(spark, s"$path/gens/g$g"))
    }

  /** A fresh full build is a generation RESET: the new store serves
    * from the path's own directories again, and any pointer or
    * generation roots a previous trained store left are gone. */
  private def resetGenerations(spark: SparkSession, path: String): Unit = {
    StoreFiles.delete(spark, s"$path/genptr")
    StoreFiles.delete(spark, s"$path/gens")
  }

  // ------------------------------------------------------------------
  // Memoized drift state — the monitor's stored-side error as STORE
  // STATE (`<root>/errstate`, rows (batch_id, n, sum_e6) whose SUM is
  // the live corpus's row count and 1e-6-floored quantization-error
  // sum under the current model). The error sum is exactly additive
  // under a frozen model (integer-valued terms), so it folds
  // incrementally instead of being recomputed per arrival:
  // build/retrain write it wholesale from the stored rows, appends ADD
  // the batch's own already-computed row, batch-keyed puts overwrite
  // their own (batch_id) partition (replay-idempotent — the values are
  // deterministic), deletes SUBTRACT the newly-tombstoned live rows'
  // error (one scan per delete — the rare direction), and a plain
  // compact recomputes wholesale (self-healing, and the upgrade path
  // for stores built before the sidecar existed). The monitor's
  // per-arrival cost drops from a corpus-sized stored-vector scan to
  // one batch scan + a sidecar read.
  // ------------------------------------------------------------------

  /** The 1e-6-floored spherical quantization error of a normalized
    * vector under centroid literals — the integer term every sidecar
    * sum is made of. */
  private def errE6(v: Column,
      cents: Array[(Int, Array[Double])]): Column =
    floor((lit(1.0) - Similarity.nearestCellScore(v, cents)) *
      lit(1000000.0)).cast("long")

  /** (row count, 1e-6-floored spherical quantization-error sum) of
    * `rows` (a (…, v) frame, v normalized) under centroid literals —
    * one narrow map + a map-side-combined aggregate, collected as two
    * longs. */
  private def errSumOf(rows: DataFrame,
      cents: Array[(Int, Array[Double])]): (Long, Long) = {
    val r = rows.select(errE6(col("v"), cents).as("e"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("e")), lit(0L)).as("s")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Attach the sidecar fold's (n, Σe) as OBSERVATION metrics on the
    * frame an append/put is about to write — the plain-PQ
    * [[foldPqErrObserved]] discipline applied to the trained families:
    * the error sum rides the SAME write action that persists the rows,
    * so the fold costs zero extra batch scans (the r12 monitor's whole
    * point was per-arrival cost; a separate errSumOf scan per append
    * paid one anyway). Returns the frame unchanged when the store has
    * no sidecar (pre-sidecar stores upgrade at their next compact —
    * the [[foldErrState]] guard). Callers must keep the observe BELOW
    * only hash repartitions / in-partition sorts: an observe under
    * `repartitionByRange` double-counts (range partitioning SAMPLES
    * its child — the spec-pinned hazard). */
  private def observeErr(rows: DataFrame, root: String,
      cents: Array[(Int, Array[Double])])
      : (DataFrame, Option[org.apache.spark.sql.Observation]) =
    if (!StoreFiles.exists(rows.sparkSession, s"$root/errstate"))
      (rows, None)
    else {
      val obs = new org.apache.spark.sql.Observation()
      (rows.observe(obs, count(lit(1)).as("n"),
        coalesce(sum(errE6(col("v"), cents)), lit(0L)).as("s")),
        Some(obs))
    }

  private def writeErrRow(spark: SparkSession, root: String,
      batchId: Long, n: Long, sumE6: Long, mode: String,
      dynamic: Boolean = false): Unit = {
    val w = spark.createDataFrame(Seq((batchId, n, sumE6)))
      .toDF("batch_id", "n", "sum_e6").coalesce(1).write.mode(mode)
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy("batch_id").parquet(s"$root/errstate")
  }

  /** Recompute + overwrite the whole sidecar from the stored live rows
    * under `cents` — the build/retrain/compact wholesale form. */
  private def writeErrStateAll(spark: SparkSession, root: String,
      storedSub: String, cents: Array[(Int, Array[Double])]): Unit = {
    val (n, s) = errSumOf(
      StoreFiles.dropTombstoned(spark, root,
        StoreFiles.scan(spark, s"$root/$storedSub")
          .select(col("vec_id"), col("v")), "vec_id"), cents)
    writeErrRow(spark, root, -1L, n, s, "overwrite")
  }

  /** Fold committed errstate batch rows (< keepFrom) into the base
    * partition — the [[foldBatches]] twin for the sidecar, so a
    * batch-keyed fold keeps replayable partitions intact. */
  private def foldErrStateBatches(spark: SparkSession, root: String,
      keepFrom: Long): Unit =
    if (StoreFiles.exists(spark, s"$root/errstate"))
      StoreFiles.replaceDir(spark, s"$root/errstate") { tmp =>
        val all = StoreFiles.scan(spark, s"$root/errstate")
        all.filter(col("batch_id") < keepFrom)
          .agg(lit(-1L).as("batch_id"),
            coalesce(sum(col("n")), lit(0L)).as("n"),
            coalesce(sum(col("sum_e6")), lit(0L)).as("sum_e6"))
          .unionByName(all.filter(col("batch_id") >= keepFrom)
            .select(col("batch_id"), col("n"), col("sum_e6")))
          .coalesce(1).write.partitionBy("batch_id").parquet(tmp)
      }

  /** [[writeErrStateAll]] for a keepVectors plain-PQ store: recompute
    * + overwrite the sidecar from the stored q4 vectors under the
    * current codebook. The min is SKIPPED: the store's own codes
    * table says which codeword each row quantized to, so the error is
    * a direct distance to the assigned codeword
    * ([[Similarity.pqErrFromCodes]] — dist-to-argmin == min-dist),
    * one narrow join instead of a numSub × codebookSize argmin scan.
    * The `sum_e6` column carries the family's OWN exact integer error
    * grid (squared 1e-4 units — not the trained families'
    * 1e-6-floored spherical error); the monitor's ratio is unitless,
    * so the two grids never mix. */
  private def writePqErrStateAll(spark: SparkSession, root: String,
      cb: Array[Array[Array[Double]]]): Unit = {
    val codes = StoreFiles.dropTombstoned(spark, root,
        StoreFiles.scan(spark, s"$root/codes"), "vec_id")
      .select(col("vec_id"), col("codes"))
    val r = StoreFiles.dropTombstoned(spark, root,
        StoreFiles.scan(spark, s"$root/vectors")
          .select(col("vec_id"), col("v")), "vec_id")
      .join(codes, Seq("vec_id"))
      .select(Similarity.pqErrFromCodes(col("v"), col("codes"), cb)
        .cast("long").as("e"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("e")), lit(0L)).as("s")).head()
    writeErrRow(spark, root, -1L, r.getLong(0), r.getLong(1),
      "overwrite")
  }

  /** Fold an OBSERVED (n, sum_e6) into the sidecar — fed by the
    * metrics a write action already computed
    * ([[org.apache.spark.sql.Observation]] on the error expression),
    * so an append/put pays no separate sidecar scan. Shared by every
    * family: plain PQ observes the encode's `e` column on the codes
    * write; IVF / IVF-PQ observe the spherical error on their
    * index/vectors write ([[observeErr]]). The errstate existence
    * guard keeps pre-sidecar stores unchanged until their next
    * compact. */
  private def foldPqErrObserved(spark: SparkSession, root: String,
      obs: org.apache.spark.sql.Observation, batchId: Long,
      dynamic: Boolean): Unit =
    if (StoreFiles.exists(spark, s"$root/errstate")) {
      val m = obs.get
      val n = m("n").asInstanceOf[Long]
      val s = if (m("s") == null) 0L else m("s").asInstanceOf[Long]
      writeErrRow(spark, root, batchId, n, s,
        if (dynamic) "overwrite" else "append", dynamic)
    }

  /** The sidecar's (n_stored, stored_sum_e6), or None when the store
    * predates it (callers fall back to the recompute scan). */
  private[graft] def readErrState(spark: SparkSession,
      root: String): Option[(Long, Long)] =
    if (!StoreFiles.exists(spark, s"$root/errstate")) None
    else {
      val r = StoreFiles.scan(spark, s"$root/errstate")
        .agg(coalesce(sum(col("n")), lit(0L)),
          coalesce(sum(col("sum_e6")), lit(0L))).head()
      Some((r.getLong(0), r.getLong(1)))
    }

  /** Build + persist the LSH index: one corpus scan, no shuffle except the
    * partitioned write's file clustering. `numPlanes` is embedded in the
    * path's metadata row so the query side derives the same planes.
    * `attrs` are extra (pre-aliased) attribute columns stored alongside
    * each vector — the filtered-vector-search layout, where a metadata
    * predicate prunes candidates IN the index scan instead of joining
    * back to the corpus afterwards.
    *
    * `batchKeyed = true` writes the base build under
    * (batch_id = −1, bucket) — the exactly-once streaming layout
    * ([[putLshBatch]] composes with it); a store is either batch-keyed
    * or plain, never both. Probes select their columns explicitly and
    * `bucket` prunes partitions at either nesting depth. */
  def writeLshIndex(corpus: DataFrame, id: Column, vec: Column,
      path: String, numPlanes: Int, attrs: Seq[Column] = Nil,
      batchKeyed: Boolean = false): Unit = {
    val dim = corpus.select(size(vec)).head().getInt(0)
    val planes = Similarity.planeVectors(numPlanes, dim)
    // cluster by bucket before the partitioned write: one file per
    // bucket per shuffle partition instead of one per (task x bucket) —
    // without it a 1000-task corpus scan writes 1000 x 2^planes tiny
    // files and the write dominates
    val rows = corpus.select(
      id.as("vec_id") +: Similarity.l2Normalize(vec).as("v") +:
        Similarity.lshBucket(vec, planes).as("bucket") +: attrs: _*)
    val (out, pcols) =
      if (batchKeyed) (rows.withColumn("batch_id", lit(-1L)),
        Seq("batch_id", "bucket"))
      else (rows, Seq("bucket"))
    out.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy(pcols: _*)
      .parquet(s"$path/index")
    // tiny sidecar so the reader needs no out-of-band parameters
    corpus.sparkSession.createDataFrame(Seq((numPlanes, dim)))
      .toDF("num_planes", "dim")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Idempotently (re)write one micro-batch's vectors under their own
    * (batch_id, bucket) partitions of a BATCH-KEYED LSH index: the
    * stored meta sidecar re-derives the SAME hyperplanes (frozen by
    * construction — deterministic in (num_planes, dim)), so a replay
    * reproduces its rows byte-for-byte and the dynamic partition
    * overwrite makes the write EXACTLY-once under foreachBatch's
    * at-least-once contract — the [[putIvfBatch]] discipline for the
    * LSH layout. */
  def putLshBatch(batch: DataFrame, id: Column, vec: Column,
      path: String, batchId: Long, attrs: Seq[Column] = Nil): Unit = {
    val meta = readMeta(batch.sparkSession, path)
    val planes = Similarity.planeVectors(meta.getInt(0), meta.getInt(1))
    batch.select(id.as("vec_id") +: Similarity.l2Normalize(vec).as("v") +:
        Similarity.lshBucket(vec, planes).as("bucket") +: attrs: _*)
      .withColumn("batch_id", lit(batchId))
      .repartition(col("bucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "bucket").parquet(s"$path/index")
  }

  /** Append a batch of vectors to a persisted LSH index: the stored
    * meta sidecar re-derives the SAME hyperplanes (they are
    * deterministic in (num_planes, dim)), so appended rows land in
    * exactly the buckets a whole-corpus rebuild would assign — probe
    * results over the appended index are byte-identical to a fresh
    * build (spec-pinned). One batch scan, no corpus re-read. `attrs`
    * must match the build's attribute columns.
    *
    * `maxFilesPerDir` > 0 enforces the small-file policy at append
    * time: each blind append leaves one more file per touched bucket,
    * and when any directory's file count exceeds the threshold
    * ([[StoreFiles.needsFileCompaction]] — a short-circuited listing)
    * the store compacts in place ([[compactAnnIndex]]; the appender is
    * the store's single writer, so the quiesce contract holds). */
  def appendLshIndex(batch: DataFrame, id: Column, vec: Column,
      path: String, attrs: Seq[Column] = Nil,
      maxFilesPerDir: Int = 0): Unit = {
    val meta = readMeta(batch.sparkSession, path)
    val planes = Similarity.planeVectors(meta.getInt(0), meta.getInt(1))
    val rows = batch.select(
        id.as("vec_id") +: Similarity.l2Normalize(vec).as("v") +:
          Similarity.lshBucket(vec, planes).as("bucket") +: attrs: _*)
      .localCheckpoint(eager = false)
    rows.repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(s"$path/index")
    maybeCompactFiles(batch.sparkSession, path, maxFilesPerDir,
      touchedPartDirs(rows, "index", "bucket"))
  }

  /** The directories an append just grew, store-relative — one listing
    * each is all the steady-state file policy then costs
    * ([[StoreFiles.needsFileCompaction]] `touchedDirs`). The batch's
    * distinct partition values are a micro-batch-sized aggregate over
    * the frame the write already materialized (checkpointed).
    * Directory names are built with Spark's OWN Hive path escaping
    * (null → `__HIVE_DEFAULT_PARTITION__`, URL-encoding for reserved
    * characters), so they match what the partitioned write just put on
    * disk for ANY value — a hand-rolled `"$pcol=$value"` would miss
    * escaped directories and the policy would silently skip them.
    * (Today's partition values are numeric/hex, which escape to
    * themselves — this keeps the invariant by construction, not by
    * luck.) */
  private def touchedPartDirs(rows: DataFrame, sub: String,
      pcol: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    rows.select(col(pcol)).distinct().collect()
      .map { r =>
        val v = r.get(0)
        val part = if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
          else ExternalCatalogUtils.escapePathName(v.toString)
        s"$sub/$pcol=$part"
      }.toIndexedSeq
  }

  /** The [[appendLshIndex]] `maxFilesPerDir` policy, shared by every
    * plain-append entry point of the vector store family. The policy
    * walk is bounded to the directories this append touched, and flat
    * sub-stores compare against the shuffle-partition count —
    * [[compactAnnIndex]] re-clusters them into that many files by
    * design, so a lower per-dir threshold would re-trip on every
    * append after a compact (a permanent rewrite storm). */
  private def maybeCompactFiles(spark: SparkSession, path: String,
      maxFilesPerDir: Int, touchedDirs: => Seq[String],
      root: String = null): Unit =
    // the policy LISTING walks the serving generation's directories
    // (where the append just landed); the triggered compact takes the
    // STORE path and re-resolves — `root` defaults to the path itself
    // for the untrained families, which never have generations
    if (maxFilesPerDir > 0 &&
        StoreFiles.needsFileCompaction(spark,
          Option(root).getOrElse(path), maxFilesPerDir,
          touchedDirs, spark.sessionState.conf.numShufflePartitions))
      compactAnnIndex(spark, path)

  /** Tombstone-delete vectors from a persisted ANN index (any kind at
    * this path — the sidecar is shared): every probe anti-joins the
    * tombstoned ids, so a deleted vector stops surfacing as a
    * neighbor immediately; its index rows leave disk at
    * [[compactAnnIndex]]. The [[DedupIndex]]/[[LexIndex]] lifecycle
    * discipline applied to the vector side. */
  def deleteVecs(spark: SparkSession, path: String, ids: DataFrame,
      id: Column): Unit = {
    val root = currentRoot(spark, path)
    val idsD = ids.select(id.as("vec_id")).distinct().localCheckpoint()
    // exact drift-state subtraction (trained stores with a sidecar):
    // the error of the rows THIS call newly tombstones — ids that are
    // live in the store right now — computed against the PRE-delete
    // tombstone set and collected as two longs BEFORE the sidecar
    // mutates. Tombstones then land first: a crash between the two
    // writes leaves the sidecar overstating the stored error (an
    // UNDER-reading drift ratio — degraded sensitivity, never a false
    // trigger), repaired wholesale at the next compact; re-running the
    // same delete subtracts zero (the ids are tombstoned by then), so
    // the call stays idempotent.
    val delta =
      if (StoreFiles.exists(spark, s"$root/errstate")) {
        val storedSub =
          if (StoreFiles.exists(spark, s"$root/vectors")) "vectors"
          else "index"
        val gone = StoreFiles.dropTombstoned(spark, root,
          StoreFiles.scan(spark, s"$root/$storedSub")
            .select(col("vec_id"), col("v")), "vec_id")
          .join(idsD, Seq("vec_id"), "left_semi")
        if (StoreFiles.exists(spark, s"$root/centroids"))
          Some(errSumOf(gone, readCentroids(spark, root)))
        else if (StoreFiles.exists(spark, s"$root/codebook")) {
          // keepVectors plain PQ: the stored v IS the q4 grid the
          // family's error is defined over, and the stored codes say
          // which codeword each row quantized to — dist-to-argmin,
          // no re-min (the writePqErrStateAll form on the gone set)
          val cb = readCodebook(spark, s"$root/codebook")
          val r = gone.join(StoreFiles.dropTombstoned(spark, root,
              StoreFiles.scan(spark, s"$root/codes"), "vec_id")
              .select(col("vec_id"), col("codes")), Seq("vec_id"))
            .select(Similarity.pqErrFromCodes(col("v"), col("codes"),
              cb).cast("long").as("e"))
            .agg(count(lit(1)).as("n"),
              coalesce(sum(col("e")), lit(0L)).as("s")).head()
          Some((r.getLong(0), r.getLong(1)))
        } else None
      } else None
    idsD.write.mode("append").parquet(s"$root/tombstones")
    delta.foreach { case (n, s) =>
      if (n > 0) writeErrRow(spark, root, -2L, -n, -s, "append") }
  }

  /** All bucket-XOR masks with ≤ `probeFlips` bits set, enumerated as
    * C(numPlanes, ≤flips) combinations directly — never the full
    * 2^numPlanes range (which is billions of driver iterations past 31
    * planes and an empty, silently-zero-probing range at 63+). */
  private def flipMasks(numPlanes: Int, probeFlips: Int): Seq[Long] =
    (0 to math.min(probeFlips, numPlanes)).flatMap(r =>
      (0 until numPlanes).combinations(r)
        .map(_.foldLeft(0L)((acc, p) => acc | (1L << p))))

  /** Compact a persisted ANN index: physically drop tombstoned rows
    * from every sub-table present (partition-pruned `index/` for
    * LSH/IVF, flat `codes/` / `bits/` / `vectors/` for PQ / int8 /
    * binary), collapse the per-batch small files appends left behind,
    * and clear the tombstone sidecar — probe results unchanged,
    * probe cost back to one file per partition. Contract: writers
    * quiesced during the rename swaps ([[StoreFiles.replaceDir]]).
    *
    * `backfillAttrs` UPGRADES a store built without attribute columns
    * to the filtered-serving layout WITHOUT a corpus rebuild — the
    * [[LexIndex.compactBm25Index]] upgrade path for the vector
    * families. The frame is (vec_id, attr...) with vec_id unique; its
    * columns join onto every live STAGE-1 row (`index/`, `codes/`,
    * `bits/` — wherever the attrFilter scans run) during the rewrite
    * compaction already does; the rerank `vectors/` stays two-column
    * by design. After the compact, probes accept `attrFilter` over
    * the new columns exactly as a born-with-attrs store (spec-pinned
    * identity), and subsequent appends/puts must carry matching
    * `attrs`. Vectors missing from the frame keep NULL attrs — they
    * then fail every non-null-safe attrFilter, so cover the corpus.
    *
    * `retrainIters` RETRAINS the trained families' MODEL during the
    * same rewrite — the backfill precedent applied to the model
    * itself, closing the "retrain = full corpus rebuild" gap the
    * append contract used to state. IVF: recompute centroids from the
    * stored vectors (`Similarity.ivfCentroidsKMeansPre` — the stored
    * `v` ARE the build's normalized inputs, so the retrain runs the
    * identical md5-seeded sample + Lloyd rounds a fresh full-corpus
    * build would, bit-for-bit) and re-assign every live row's cell in
    * the rewrite pass compact already does. IVF-PQ: additionally
    * re-derive the residual codebook from the full-precision
    * `vectors/` table and re-encode every live row's codes. The
    * result is spec-pinned IDENTICAL to a fresh build over the live
    * corpus — drift-decayed recall recovers to fresh-build recall
    * with no corpus re-read outside the store. Crash ordering: data
    * tables rewrite first (each an atomic rename swap serving the OLD
    * consistent store until it lands), the tiny model sidecars swap
    * last — a crash between swaps leaves rows assigned under a newer
    * model than the sidecar, which degrades recall but never returns
    * a wrong score (stored vectors are full precision; IVF-PQ ADC
    * rankings in that window are unreliable, so quiesce probes
    * through a retrain compact — the writer-quiesce contract's probe
    * twin); re-running the retrain compact converges. Requires a
    * trained store (IVF / IVF-PQ) or a keepVectors plain-PQ store
    * ([[writePqIndex]] `keepVectors = true` — the opt-in that makes
    * the otherwise-terminal family retrainable; a plain PQ store
    * WITHOUT it keeps no vectors and stays terminal by design). */
  def compactAnnIndex(spark: SparkSession, path: String,
      backfillAttrs: Option[DataFrame] = None,
      retrainIters: Option[Int] = None): Unit = {
    val root = currentRoot(spark, path)
    val attrF = backfillAttrs.map { a =>
      require(a.columns.contains("vec_id"),
        "backfillAttrs needs a vec_id join column")
      val reserved = Set("v", "bucket", "cell", "codes", "lo", "hi",
        "batch_id")
      val clash = a.columns.filter(reserved.contains)
      require(clash.isEmpty,
        s"backfillAttrs columns collide with index columns: " +
          clash.mkString(", "))
      // duplicate vec_ids would multiply stage-1 rows (a vector would
      // score once per duplicate) — ruled out by one aggregation over
      // the attr table, a compaction-time cost
      val c = a.agg(count(lit(1)).as("n"),
        countDistinct(col("vec_id")).as("nd")).head()
      require(c.getLong(0) == c.getLong(1),
        "backfillAttrs has duplicate vec_id rows")
      a.localCheckpoint(eager = false)
    }
    // attrs land on the stage-1 scan tables only — the rerank
    // vectors/ keeps its narrow two-column layout
    val attrSubs = Set("index", "codes", "bits")
    def sub(name: String): Unit =
      if (StoreFiles.exists(spark, s"$root/$name"))
        StoreFiles.replaceDir(spark, s"$root/$name") { tmp =>
          val live1 = StoreFiles.dropTombstoned(spark, root,
            StoreFiles.scan(spark, s"$root/$name"), "vec_id")
          val live = attrF.filter(_ => attrSubs.contains(name))
            .fold(live1)(a => live1.join(a, Seq("vec_id"), "left"))
          val pcol = Seq("bucket", "cell").find(live.columns.contains)
          pcol match {
            // batch-keyed stores keep their partitioned layout: the
            // full fold lands under batch_id = -1 so later per-batch
            // dynamic overwrites still compose — a plain-layout rewrite
            // here would corrupt the directory into a mixed layout
            case Some(p) if live.columns.contains("batch_id") =>
              live.drop("batch_id").withColumn("batch_id", lit(-1L))
                .repartition(col(p))
                .write.partitionBy("batch_id", p).parquet(tmp)
            case Some(p) => live.repartition(col(p))
              .write.partitionBy(p).parquet(tmp)
            // flat tables re-cluster by vec_id (range + in-partition
            // sort) so the rerank paths' `vec_id IN` lookups keep their
            // row-group min/max pruning after compaction; a batch-keyed
            // flat table (the IVF-PQ vectors/) folds to partition −1
            // instead of losing its layout
            case None if live.columns.contains("batch_id") =>
              live.drop("batch_id").withColumn("batch_id", lit(-1L))
                .repartitionByRange(
                  spark.sessionState.conf.numShufflePartitions,
                  col("vec_id"))
                .sortWithinPartitions(col("vec_id"))
                .write.partitionBy("batch_id").parquet(tmp)
            case None => live.repartitionByRange(
                spark.sessionState.conf.numShufflePartitions,
                col("vec_id"))
              .sortWithinPartitions(col("vec_id"))
              .write.parquet(tmp)
          }
        }
    retrainIters match {
      case Some(iters) =>
        require(iters > 0, s"retrainIters must be positive, got $iters")
        val hasCent = StoreFiles.exists(spark, s"$root/centroids")
        val pqRetrainable = !hasCent &&
          StoreFiles.exists(spark, s"$root/codebook") &&
          StoreFiles.exists(spark, s"$root/vectors")
        require(hasCent || pqRetrainable,
          s"retrain at compact needs a trained store (IVF / IVF-PQ) " +
            s"or a keepVectors plain-PQ store: no centroids/ under " +
            s"$path" +
            (if (StoreFiles.exists(spark, s"$root/codebook"))
              " — this is a plain PQ store built WITHOUT keepVectors, " +
                "TERMINAL under drift by design (it keeps no stored " +
                "vectors to retrain from); rebuild it with " +
                "writePqIndex(keepVectors = true) (stores the q4 " +
                "vectors and joins the retrain lifecycle), " +
                "writeIvfPqIndex, or writeQuantizedIndex if drift is " +
                "expected"
            else ""))
        // the retrain writes the NEW model + re-encoded data under the
        // next generation root and flips the pointer last — the old
        // root (tombstones included, for probes still pinned to it)
        // stays untouched until the next plain compact reaps it
        if (!hasCent) retrainPqAtCompact(spark, path, root, attrF)
        else if (StoreFiles.exists(spark, s"$root/codes"))
          retrainIvfPqAtCompact(spark, path, root, iters, attrF)
        else retrainIvfAtCompact(spark, path, root, iters, attrF)
      case None =>
        Seq("index", "codes", "bits", "vectors").foreach(sub)
        // refresh the memoized drift state wholesale from the live
        // rows just compacted — the self-heal point (and the upgrade
        // path for trained stores built before the sidecar existed)
        if (StoreFiles.exists(spark, s"$root/centroids"))
          writeErrStateAll(spark, root,
            if (StoreFiles.exists(spark, s"$root/vectors")) "vectors"
            else "index",
            readCentroids(spark, root))
        else if (StoreFiles.exists(spark, s"$root/codebook") &&
            StoreFiles.exists(spark, s"$root/vectors"))
          writePqErrStateAll(spark, root,
            readCodebook(spark, s"$root/codebook"))
        StoreFiles.delete(spark, s"$root/tombstones")
        reapGenerations(spark, path, currentGeneration(spark, path))
    }
  }

  /** The plain-PQ retrain behind [[compactAnnIndex]] — the family's
    * model is an md5-seeded SAMPLE, not a Lloyd chain, so
    * `retrainIters` is accepted for API uniformity and ignored: the
    * retrain re-draws the codebook from the live stored q4 vectors
    * (the identical `md5('pq:' || vec_id)` ordering a fresh build
    * runs over its corpus — and the stored `v` IS the build's q4
    * input, so retrain == fresh build over the live corpus BIT-exact)
    * and re-encodes every live row's codes. Everything lands under
    * the NEXT GENERATION ROOT and the pointer flips last — the
    * quiesce-free contract of the trained families, which matters
    * here for the same reason as IVF-PQ: ADC rankings under a mixed
    * codebook window would be unreliable. */
  private def retrainPqAtCompact(spark: SparkSession, path: String,
      root: String, attrF: Option[DataFrame]): Unit = {
    val nextGen = currentGeneration(spark, path) + 1
    val nextRoot = s"$path/gens/g$nextGen"
    StoreFiles.delete(spark, nextRoot)
    val cbOld = readCodebook(spark, s"$root/codebook")
    val (numSub, cbSize) = (cbOld.length, cbOld(0).length)
    val oldCodes = StoreFiles.dropTombstoned(spark, root,
      StoreFiles.scan(spark, s"$root/codes"), "vec_id")
    val batchKeyed = oldCodes.columns.contains("batch_id")
    val attrCols = oldCodes.columns
      .filterNot(Set("vec_id", "codes", "batch_id"))
    val liveVecs = StoreFiles.dropTombstoned(spark, root,
        StoreFiles.scan(spark, s"$root/vectors"), "vec_id")
      .select(col("vec_id"), col("v"))
      .localCheckpoint(eager = false)
    val cb = Similarity.pqCodebookFrom(
      liveVecs.select(col("vec_id"), col("v").as("q")),
      numSub, cbSize, "pq:")
    val coded0 = liveVecs.select(col("vec_id"),
      Similarity.pqCodesExprWide(col("v"), cb).as("codes"))
    val withOld =
      if (attrCols.isEmpty) coded0
      else coded0.join(
        oldCodes.select("vec_id", attrCols.toIndexedSeq: _*),
        Seq("vec_id"), "left")
    val coded = attrF.fold(withOld)(a =>
      withOld.join(a, Seq("vec_id"), "left"))
    def flat(df: DataFrame, dir: String): Unit =
      if (batchKeyed)
        df.withColumn("batch_id", lit(-1L))
          .repartitionByRange(
            spark.sessionState.conf.numShufflePartitions, col("vec_id"))
          .sortWithinPartitions(col("vec_id"))
          .write.partitionBy("batch_id").parquet(dir)
      else df.repartitionByRange(
          spark.sessionState.conf.numShufflePartitions, col("vec_id"))
        .sortWithinPartitions(col("vec_id"))
        .write.parquet(dir)
    flat(coded, s"$nextRoot/codes")
    flat(liveVecs, s"$nextRoot/vectors")
    locally {
      import spark.implicits._
      (for { m <- cb.indices; c <- cb(m).indices; d <- cb(m)(c).indices }
        yield (m, c, d, cb(m)(c)(d)))
        .toDF("m", "cidx", "dim", "c4")
        .write.parquet(s"$nextRoot/codebook")
    }
    // no observe here: the range-clustered rewrite SAMPLES its child
    // before shuffling, which would double-count observed metrics —
    // the sidecar instead derives from the freshly-written tables via
    // the codes join (dist-to-argmin, no re-min)
    writePqErrStateAll(spark, nextRoot, cb)
    flipGeneration(spark, path, nextGen)
  }

  /** Quantization-error DRIFT MONITOR for a trained store (IVF /
    * IVF-PQ) or a keepVectors plain-PQ store (whose family-local
    * error is the exact-integer PQ residual — see
    * [[Similarity.pqMinDistExpr]]; the `sum_e6` columns then carry
    * that grid, and the ratio stays unitless) — the cheap,
    * label-free signal for WHEN to run the
    * retrain compact: under a frozen model, drift decays recall
    * invisibly (truth-labeled recall rows like qe54/qe55 are
    * evaluation artifacts, not something a production arrival loop
    * computes); the spherical quantization error `1 − max_cell
    * dot(v, cv)` is computable per arriving batch from the stored
    * centroids alone, and its RATIO against the stored corpus's own
    * error is a direct fit measure — in-distribution batches ratio
    * ≈ 1, drifted batches measurably above (the qe56 fixture pins
    * the control and drifted rows against an external re-derivation).
    * One row out: (n_stored, stored_sum_e6, n_batch, batch_sum_e6,
    * drift_ratio) — error sums as exact 1e-6-floored integers, the
    * ratio of the two means rounded to 4. Cost: one narrow scan of
    * the stored vectors (`index/` for IVF, `vectors/` for IVF-PQ —
    * tombstones honored) + one batch scan, each a partition-local
    * map against centroid literals and a map-side-combined
    * aggregate — no shuffle beyond one row per partition, safe to
    * run per arrival. Deployments can memoize the stored side
    * between compacts (it only changes when the store does). */
  def assignmentDrift(spark: SparkSession, path: String,
      batch: DataFrame, id: Column, vec: Column): DataFrame = {
    val root = currentRoot(spark, path)
    // guard BEFORE the read: a raw parquet read of a missing
    // directory throws an unhelpful PATH_NOT_FOUND first
    val trained = StoreFiles.exists(spark, s"$root/centroids")
    // a keepVectors plain-PQ store monitors too: its quantization
    // error is the exact-integer residual the per-subspace argmin
    // leaves behind, computable from the stored q4 vectors + the
    // frozen codebook — the spherical error's family-local analog
    val pqRetrainable = !trained &&
      StoreFiles.exists(spark, s"$root/codebook") &&
      StoreFiles.exists(spark, s"$root/vectors")
    require(trained || pqRetrainable,
      s"no centroids/ under $path — " +
        "the drift monitor needs a trained store (IVF / IVF-PQ) or a " +
        "keepVectors plain-PQ store" +
        (if (StoreFiles.exists(spark, s"$root/codebook"))
          "; this is a plain PQ store built WITHOUT keepVectors, " +
            "TERMINAL under drift by design (no stored vectors to " +
            "retrain from) — rebuild it with writePqIndex(keepVectors " +
            "= true) or writeIvfPqIndex to join the monitor + retrain " +
            "lifecycle"
        else ""))
    def errSum(rows: DataFrame, n: String, s: String): DataFrame = {
      val e =
        if (trained) {
          val cents = readCentroids(spark, root)
          floor((lit(1.0) -
            Similarity.nearestCellScore(col("v"), cents)) *
            lit(1000000.0)).cast("long")
        } else Similarity.pqMinDistExpr(col("v"),
          readCodebook(spark, s"$root/codebook")).cast("long")
      rows.select(e.as("e"))
        .agg(count(lit(1)).as(n), sum(col("e")).as(s))
    }
    // the stored side comes from the memoized sidecar when the store
    // carries one (additively maintained at build/append/put/delete,
    // recomputed at compact/retrain — sidecar == recompute is
    // spec-pinned across the whole lifecycle), so the per-arrival call
    // costs ONE batch scan; stores from before the sidecar fall back
    // to the recompute scan and upgrade at their next compact
    val (ns, ss) = readErrState(spark, root) match {
      case Some((n, s)) => (n, Option(s))
      case None =>
        val r = errSum(
          StoreFiles.dropTombstoned(spark, root,
            StoreFiles.scan(spark,
                s"$root/" + (if (StoreFiles.exists(spark,
                  s"$root/vectors")) "vectors" else "index"))
              .select(col("vec_id"), col("v")), "vec_id"),
          "n_stored", "stored_sum_e6").head()
        (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
    }
    // each family's batch vectors enter the SAME space its stored
    // side lives in: normalized for the spherical error, the q4 grid
    // for the PQ residual error
    val b = errSum(
      batch.select(id.as("vec_id"),
        (if (trained) Similarity.l2Normalize(vec)
         else Similarity.pqQ4(vec)).as("v")),
      "n_batch", "batch_sum_e6").head()
    val (nb, bs) =
      (b.getLong(0), if (b.isNullAt(1)) None else Some(b.getLong(1)))
    // the one-row result is a LOCAL relation of literals with the
    // ratio computed by the SAME Spark expressions as before (an
    // empty batch's null sum still nulls the ratio, a zero stored
    // mean still divides identically) — the monitor's whole cost is
    // the ONE batch-scan job above; callers' head() launches nothing
    def optLong(v: Option[Long]) =
      v.fold(lit(null).cast("long"))(x => lit(x))
    import spark.implicits._
    Seq(1).toDF("one")
      .select(lit(ns).as("n_stored"), optLong(ss).as("stored_sum_e6"),
        lit(nb).as("n_batch"), optLong(bs).as("batch_sum_e6"),
        round((optLong(bs) * lit(1.0) / lit(nb)) /
          (optLong(ss) * lit(1.0) / lit(ns)), 4)
          .as("drift_ratio"))
  }

  /** The monitor-driven retrain — [[DedupIndex.refreshClusterMap]]'s
    * check-then-rebuild discipline on the vector side: measure the
    * arriving batch's quantization-error ratio ([[assignmentDrift]]),
    * and run the retrain compact ([[compactAnnIndex]] `retrainIters`)
    * only when it exceeds `maxRatio`. Returns true when a retrain
    * happened. The steady-state call costs one narrow stored-vector
    * scan + one batch scan (no labels, no truth, no rewrite); a
    * triggered retrain converges the ratio back toward 1, so the next
    * arrival's check passes — the spec pins trigger, no-trigger, and
    * post-retrain quiescence. `maxRatio` is a deployment knob; the
    * qe56 fixture measured in-distribution batches at ~1.01 and a
    * drifted cap at ~1.33, so thresholds in the 1.1–1.2 band separate
    * cleanly there — calibrate on YOUR corpus's control batches. */
  def retrainIfDrifted(spark: SparkSession, path: String,
      batch: DataFrame, id: Column, vec: Column, maxRatio: Double,
      retrainIters: Int = 2): Boolean = {
    val row = assignmentDrift(spark, path, batch, id, vec).head()
    // an empty batch (everything gated upstream) or a degenerate
    // store whose own error floors to zero yields a NULL ratio —
    // no drift evidence either way, so no retrain (never an NPE on
    // the per-arrival path)
    if (row.isNullAt(4) || row.getDouble(4) <= maxRatio) false
    else {
      compactAnnIndex(spark, path, retrainIters = Some(retrainIters))
      true
    }
  }

  /** The IVF retrain behind [[compactAnnIndex]]: one pass over the
    * live stored rows trains the new centroids (driver state: nList ×
    * dim doubles) and re-assigns every cell — no corpus read outside
    * the store. The rewrite lands under the NEXT GENERATION ROOT
    * (index, centroids, drift state — tombstoned rows dropped, so the
    * new root starts with no sidecar) while the old generation keeps
    * serving untouched; the pointer flips last (one atomic rename), so
    * probes see whole-old or whole-new, never a mixed model — the
    * quiesce-free retrain. Crash before the flip: the old generation
    * serves, and a re-run deletes the half-written next root and
    * converges. */
  private def retrainIvfAtCompact(spark: SparkSession, path: String,
      root: String, iters: Int, attrF: Option[DataFrame]): Unit = {
    val nextGen = currentGeneration(spark, path) + 1
    val nextRoot = s"$path/gens/g$nextGen"
    StoreFiles.delete(spark, nextRoot)
    val nList = readCentroids(spark, root).length
    val live = StoreFiles.dropTombstoned(spark, root,
        StoreFiles.scan(spark, s"$root/index"), "vec_id")
      .localCheckpoint(eager = false)
    val cents = Similarity.ivfCentroidsKMeansPre(
      live.select(col("vec_id"), col("v")), nList, iters)
    val re0 = live.drop("cell")
      .withColumn("cell", Similarity.nearestCell(col("v"), cents))
    val re = attrF.fold(re0)(a => re0.join(a, Seq("vec_id"), "left"))
    if (re.columns.contains("batch_id"))
      re.drop("batch_id").withColumn("batch_id", lit(-1L))
        .repartition(col("cell"))
        .write.partitionBy("batch_id", "cell").parquet(s"$nextRoot/index")
    else re.repartition(col("cell"))
      .write.partitionBy("cell").parquet(s"$nextRoot/index")
    spark.createDataFrame(cents.map { case (c, cv) => (c, cv) }.toSeq)
      .toDF("cell", "cv").write.parquet(s"$nextRoot/centroids")
    writeErrStateAll(spark, nextRoot, "index", cents)
    flipGeneration(spark, path, nextGen)
  }

  /** The IVF-PQ retrain behind [[compactAnnIndex]]: the full-precision
    * `vectors/` table (the reason the family stores it) feeds the SAME
    * training pass a fresh build runs — Lloyd-refined centroids,
    * residual codebook sample, re-encoded codes — and the code rows'
    * attr columns carry over by vec_id. Everything lands under the
    * NEXT GENERATION ROOT (codes, compacted vectors, both model
    * sidecars, drift state), the pointer flips last —
    * [[retrainIvfAtCompact]]'s quiesce-free contract for the family
    * whose ADC scores made the old in-place swap's mixed-model window
    * actually dangerous. */
  private def retrainIvfPqAtCompact(spark: SparkSession, path: String,
      root: String, iters: Int, attrF: Option[DataFrame]): Unit = {
    val nextGen = currentGeneration(spark, path) + 1
    val nextRoot = s"$path/gens/g$nextGen"
    StoreFiles.delete(spark, nextRoot)
    val nList = readCentroids(spark, root).length
    val cbOld = readCodebook(spark, s"$root/codebook")
    val (numSub, cbSize) = (cbOld.length, cbOld(0).length)
    val oldCodes = StoreFiles.dropTombstoned(spark, root,
      StoreFiles.scan(spark, s"$root/codes"), "vec_id")
    val batchKeyed = oldCodes.columns.contains("batch_id")
    val attrCols = oldCodes.columns
      .filterNot(Set("vec_id", "cell", "codes", "batch_id"))
    val liveVecs = StoreFiles.dropTombstoned(spark, root,
        StoreFiles.scan(spark, s"$root/vectors"), "vec_id")
      .select(col("vec_id"), col("v"))
      .localCheckpoint(eager = false)
    val (cents, cb, coded0) = Similarity.ivfPqEncodePre(
      liveVecs, nList, numSub, cbSize, iters)
    val withOld =
      if (attrCols.isEmpty) coded0
      else coded0.join(
        oldCodes.select("vec_id", attrCols.toIndexedSeq: _*),
        Seq("vec_id"), "left")
    val coded = attrF.fold(withOld)(a =>
      withOld.join(a, Seq("vec_id"), "left"))
    if (batchKeyed)
      coded.withColumn("batch_id", lit(-1L))
        .repartition(col("cell"))
        .write.partitionBy("batch_id", "cell").parquet(s"$nextRoot/codes")
    else coded.repartition(col("cell"))
      .write.partitionBy("cell").parquet(s"$nextRoot/codes")
    val liveFull = StoreFiles.dropTombstoned(spark, root,
      StoreFiles.scan(spark, s"$root/vectors"), "vec_id")
    if (batchKeyed)
      liveFull.drop("batch_id").withColumn("batch_id", lit(-1L))
        .repartitionByRange(
          spark.sessionState.conf.numShufflePartitions, col("vec_id"))
        .sortWithinPartitions(col("vec_id"))
        .write.partitionBy("batch_id").parquet(s"$nextRoot/vectors")
    else liveFull.repartitionByRange(
        spark.sessionState.conf.numShufflePartitions, col("vec_id"))
      .sortWithinPartitions(col("vec_id"))
      .write.parquet(s"$nextRoot/vectors")
    spark.createDataFrame(cents.map { case (c, cv) => (c, cv) }.toSeq)
      .toDF("cell", "cv").write.parquet(s"$nextRoot/centroids")
    locally {
      import spark.implicits._
      (for { m <- cb.indices; c <- cb(m).indices; d <- cb(m)(c).indices }
        yield (m, c, d, cb(m)(c)(d)))
        .toDF("m", "cidx", "dim", "c6")
        .write.parquet(s"$nextRoot/codebook")
    }
    writeErrStateAll(spark, nextRoot, "vectors", cents)
    flipGeneration(spark, path, nextGen)
  }

  /** Top-k against a persisted LSH index. The query vector is collected
    * (one row), its bucket and the `probeFlips`-adjacent buckets are
    * computed driver-side, and the scan filters `bucket IN (...)` — a
    * partition-pruning predicate, so only the probed directories are read.
    * An optional `attrFilter` (over [[writeLshIndex]] `attrs` columns) is
    * applied in the SAME scan — filtered vector search, with the
    * predicate pushed to parquet next to the bucket pruning rather than
    * post-filtering the top-k (which would return <k rows). An empty
    * query frame yields an empty result. */
  def queryLshIndex(spark: SparkSession, path: String, query: DataFrame,
      k: Int, probeFlips: Int = 1,
      attrFilter: Option[Column] = None): DataFrame =
    lshCandidates(spark, path, query, probeFlips, attrFilter) match {
      case None =>
        StoreFiles.scan(spark, s"$path/index")
          .select(col("vec_id"), lit(0.0d).as("cos"),
            lit(0).as("rank")).limit(0)
      case Some(scored) => Similarity.topKRanked(scored, k)
    }

  /** Multi-query top-k against a persisted LSH index — the
    * batch-serving twin of [[queryLshIndex]] (the [[ivfKnnJoinIndexed]]
    * shape for the bucketed family): every query's bucket and its
    * `probeFlips`-adjacent buckets are computed driver-side from the
    * stored meta (queries are serving-sized by contract — the same
    * collected-batch assumption as the IVF/IVF-PQ joins), the UNION of
    * all probed buckets becomes one static partition-pruning filter on
    * the index read, the per-(query, bucket) probe pairs and query
    * vectors ride broadcasts (a vector scores for a query only when
    * its bucket is in THAT query's probe set), and the per-query top-k
    * is a bounded `topk_agg` — the stored corpus is scanned once
    * (pruned) and never shuffled. An optional `attrFilter` (over
    * [[writeLshIndex]] `attrs` columns) is applied in the SAME scan —
    * filtered vector search for the whole batch, the predicate pushed
    * to parquet next to the bucket pruning ([[queryLshIndex]]'s
    * contract). NOTE (changed in this version): the collected query
    * batch is now ceiling-guarded like every sibling batch probe —
    * at most [[MaxShortlistIds]]`/k` query rows; a larger batch, which
    * previously collected unbounded, now fails loudly naming the
    * ceiling. Split oversized batches into multiple probe calls.
    * Output: (query_id, vec_id, cos, rank), rank 1-based
    * per query (cos desc, vec_id asc). */
  def lshKnnJoinIndexed(spark: SparkSession, path: String,
      queries: DataFrame, qid: Column, qvec: Column, k: Int,
      probeFlips: Int = 1, attrFilter: Option[Column] = None): DataFrame = {
    val meta = readMeta(spark, path)
    val (numPlanes, dim) = (meta.getInt(0), meta.getInt(1))
    val planes = Similarity.planeVectors(numPlanes, dim)
    val qRows = collectQueryBatch(
        queries.select(qid.cast("long").as("query_id"),
          Similarity.l2Normalize(qvec).as("qv")), perQuery = k)
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    if (qRows.isEmpty)
      return StoreFiles.scan(spark, s"$path/index")
        .select(lit(0L).as("query_id"), col("vec_id"),
          lit(0.0d).as("cos"), lit(0L).as("rank")).limit(0)
    val masks = flipMasks(numPlanes, probeFlips)
    val pairRows = qRows.map { case (q, qv) =>
      val qbucket = planes.zipWithIndex.foldLeft(0L) {
        case (acc, (pl, p)) =>
          if (dotLocal(pl, qv) >= 0) acc | (1L << p) else acc
      }
      (q, masks.map(_ ^ qbucket))
    }
    val probedBuckets = pairRows.flatMap(_._2).distinct.toIndexedSeq
    import spark.implicits._
    val pairs = pairRows.toSeq
      .flatMap { case (q, bs) => bs.map(b => (q, b)) }
      .toDF("query_id", "bucket")
    val qvDf = qRows.toSeq.toDF("query_id", "qv")
    val index = StoreFiles.dropTombstoned(spark, path,
      attrFilter.foldLeft(StoreFiles.scan(spark, s"$path/index"))(_.filter(_))
        .filter(col("bucket").isin(probedBuckets: _*)), "vec_id")
    index.join(broadcast(pairs), Seq("bucket"))
      .join(broadcast(qvDf), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(Similarity.dot(col("v"), col("qv")), 4).as("cos"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate
        .topk(col("cos"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("query_id"), col("p.id").as("vec_id"),
        col("p.score").as("cos"), (col("r") + 1).cast("long").as("rank"))
  }

  /** Build + persist a MULTI-TABLE LSH index: `numTables` INDEPENDENT
    * plane sets — table t uses planes [t·P, (t+1)·P) of the same
    * deterministic splitmix generator, so the whole geometry
    * re-derives from (num_planes, dim, num_tables); nothing trained,
    * nothing sampled — and every vector is stored once PER TABLE under
    * the combined partition key `bucket = t·2^P + bucket_t(v)`. The
    * standard public fix for single-table LSH's recall ceiling
    * (qe46's grid tops out at 0.54): a true neighbor is missed only
    * when it hashes away from the query in EVERY table, so recall
    * rises roughly as 1 − (1 − r)^L at storage ×L and probe IO ×L —
    * while preserving the family's niche: NO training step, and
    * appends land in exactly the buckets a whole-corpus rebuild would
    * assign (streaming-appendable). One corpus scan builds all tables
    * (the L per-table keys explode from each row); probes prune to the
    * probed (table, bucket) partitions exactly like the single-table
    * family. `attrs` ride every stored row — the filtered-serving
    * layout. */
  def writeLshMultiIndex(corpus: DataFrame, id: Column, vec: Column,
      path: String, numPlanes: Int, numTables: Int,
      attrs: Seq[Column] = Nil, batchKeyed: Boolean = false): Unit = {
    require(numPlanes >= 1 && numPlanes < 62 && numTables >= 1 &&
      numTables.toLong <= (Long.MaxValue >> numPlanes),
      s"combined (table, bucket) key must fit a long: " +
        s"numPlanes=$numPlanes numTables=$numTables")
    val dim = corpus.select(size(vec)).head().getInt(0)
    val all = Similarity.planeVectors(numPlanes * numTables, dim)
    val rows = corpus.select(
      id.as("vec_id") +: Similarity.l2Normalize(vec).as("v") +: attrs: _*)
    val bucketCols = (0 until numTables).map { t =>
      Similarity.lshBucket(col("v"),
        all.slice(t * numPlanes, (t + 1) * numPlanes)) +
        lit(t.toLong << numPlanes)
    }
    val keyed = rows.withColumn("bucket", explode(array(bucketCols: _*)))
    // batchKeyed: base build under batch_id = −1, so streamed batches'
    // dynamic overwrites ([[putLshMultiBatch]]) compose — the
    // [[writeLshIndex]] batch-keyed contract on the combined key
    val (out, pcols) =
      if (batchKeyed) (keyed.withColumn("batch_id", lit(-1L)),
        Seq("batch_id", "bucket"))
      else (keyed, Seq("bucket"))
    out.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy(pcols: _*)
      .parquet(s"$path/index")
    corpus.sparkSession
      .createDataFrame(Seq((numPlanes, dim, numTables)))
      .toDF("num_planes", "dim", "num_tables")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Idempotently (re)write one micro-batch of a BATCH-KEYED
    * multi-table LSH index under its own (batch_id, bucket)
    * partitions: the stored meta re-derives the same L plane sets
    * (frozen by construction), so a replay reproduces its rows
    * byte-for-byte and the dynamic partition overwrite makes the
    * write EXACTLY-once under foreachBatch's at-least-once contract —
    * [[putLshBatch]] on the combined key. Folds ride
    * [[compactLshBatches]] unchanged (the layout is the same
    * (batch_id, bucket) nesting). */
  def putLshMultiBatch(batch: DataFrame, id: Column, vec: Column,
      path: String, batchId: Long, attrs: Seq[Column] = Nil): Unit = {
    val meta = readMeta(batch.sparkSession, path)
    val (numPlanes, dim, numTables) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val all = Similarity.planeVectors(numPlanes * numTables, dim)
    val rows = batch.select(
      id.as("vec_id") +: Similarity.l2Normalize(vec).as("v") +: attrs: _*)
    val bucketCols = (0 until numTables).map { t =>
      Similarity.lshBucket(col("v"),
        all.slice(t * numPlanes, (t + 1) * numPlanes)) +
        lit(t.toLong << numPlanes)
    }
    rows.withColumn("bucket", explode(array(bucketCols: _*)))
      .withColumn("batch_id", lit(batchId))
      .repartition(col("bucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "bucket").parquet(s"$path/index")
  }

  /** Append a batch to a multi-table LSH index: the stored meta
    * re-derives the SAME L plane sets, so appended rows land in
    * exactly the (table, bucket) partitions a whole-corpus rebuild
    * would assign — probes over the appended index are byte-identical
    * to a fresh build (spec-pinned; the [[appendLshIndex]] contract,
    * which is the whole point of the untrained family). `attrs` must
    * match the build's. `maxFilesPerDir` as on [[appendLshIndex]]. */
  def appendLshMultiIndex(batch: DataFrame, id: Column, vec: Column,
      path: String, attrs: Seq[Column] = Nil,
      maxFilesPerDir: Int = 0): Unit = {
    val meta = readMeta(batch.sparkSession, path)
    val (numPlanes, dim, numTables) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val all = Similarity.planeVectors(numPlanes * numTables, dim)
    val rows0 = batch.select(
      id.as("vec_id") +: Similarity.l2Normalize(vec).as("v") +: attrs: _*)
    val bucketCols = (0 until numTables).map { t =>
      Similarity.lshBucket(col("v"),
        all.slice(t * numPlanes, (t + 1) * numPlanes)) +
        lit(t.toLong << numPlanes)
    }
    val rows = rows0.withColumn("bucket", explode(array(bucketCols: _*)))
      .localCheckpoint(eager = false)
    rows.repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(s"$path/index")
    maybeCompactFiles(batch.sparkSession, path, maxFilesPerDir,
      touchedPartDirs(rows, "index", "bucket"))
  }

  /** Multi-query top-k against a multi-table LSH index — the
    * [[lshKnnJoinIndexed]] shape with a second IO axis: each query
    * probes its bucket (+ `probeFlips` neighbors) in the first
    * `tables` stored tables (0 = all), the probed (table, bucket)
    * union is ONE static partition filter, and a vector reachable
    * through several tables scores ONCE (the candidate set is
    * DISTINCT (query, vec, cos) — map-side combined — before the
    * bounded per-query `topk_agg`). Probing fewer tables than stored
    * just prunes to fewer partitions — one artifact serves the whole
    * recall-vs-IO grid (qe52). Batch ceiling-guarded like every
    * sibling probe. Output: (query_id, vec_id, cos, rank). */
  def lshMultiKnnJoinIndexed(spark: SparkSession, path: String,
      queries: DataFrame, qid: Column, qvec: Column, k: Int,
      probeFlips: Int = 1, tables: Int = 0,
      attrFilter: Option[Column] = None): DataFrame = {
    val meta = readMeta(spark, path)
    val (numPlanes, dim, numTables) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val useT = if (tables <= 0) numTables else math.min(tables, numTables)
    val all = Similarity.planeVectors(numPlanes * numTables, dim)
    val qRows = collectQueryBatch(
        queries.select(qid.cast("long").as("query_id"),
          Similarity.l2Normalize(qvec).as("qv")), perQuery = k)
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    if (qRows.isEmpty)
      return StoreFiles.scan(spark, s"$path/index")
        .select(lit(0L).as("query_id"), col("vec_id"),
          lit(0.0d).as("cos"), lit(0L).as("rank")).limit(0)
    val masks = flipMasks(numPlanes, probeFlips)
    val pairRows = qRows.map { case (q, qv) =>
      (q, (0 until useT).flatMap { t =>
        val planes = all.slice(t * numPlanes, (t + 1) * numPlanes)
        val qb = planes.zipWithIndex.foldLeft(0L) {
          case (acc, (pl, p)) =>
            if (dotLocal(pl, qv) >= 0) acc | (1L << p) else acc
        }
        masks.map(m => (t.toLong << numPlanes) + (m ^ qb))
      })
    }
    val probedBuckets = pairRows.flatMap(_._2).distinct.toIndexedSeq
    import spark.implicits._
    val pairs = pairRows.toSeq
      .flatMap { case (q, bs) => bs.map(b => (q, b)) }
      .toDF("query_id", "bucket")
    val qvDf = qRows.toSeq.toDF("query_id", "qv")
    val index = StoreFiles.dropTombstoned(spark, path,
      attrFilter.foldLeft(StoreFiles.scan(spark, s"$path/index"))(_.filter(_))
        .filter(col("bucket").isin(probedBuckets: _*)), "vec_id")
    index.join(broadcast(pairs), Seq("bucket"))
      .join(broadcast(qvDf), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(Similarity.dot(col("v"), col("qv")), 4).as("cos"))
      .distinct() // reached via several tables ⇒ still scores once
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate
        .topk(col("cos"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("query_id"), col("p.id").as("vec_id"),
        col("p.score").as("cos"), (col("r") + 1).cast("long").as("rank"))
  }

  /** The partition-pruned candidate scan behind [[queryLshIndex]]:
    * (vec_id, cos) over only the probed buckets, or None for an empty
    * query. Exposed so the pruning is testable (the top-k stage
    * checkpoints, which hides the scan from its final plan). */
  private[graft] def lshCandidates(spark: SparkSession, path: String,
      query: DataFrame, probeFlips: Int,
      attrFilter: Option[Column] = None): Option[DataFrame] = {
    val meta = readMeta(spark, path)
    val (numPlanes, dim) = (meta.getInt(0), meta.getInt(1))
    val index = StoreFiles.dropTombstoned(spark, path, attrFilter.foldLeft(
      StoreFiles.scan(spark, s"$path/index"))(_.filter(_)), "vec_id")
    val qRows = query.select(col(query.columns.head).as("qv")).head(1)
    if (qRows.isEmpty) return None
    val qv = qRows(0).getSeq[Double](0).toArray
    val planes = Similarity.planeVectors(numPlanes, dim)
    val qbucket = planes.zipWithIndex.foldLeft(0L) { case (acc, (pl, p)) =>
      if (dotLocal(pl, qv) >= 0) acc | (1L << p) else acc
    }
    val probes = flipMasks(numPlanes, probeFlips).map(_ ^ qbucket)
    Some(index.filter(col("bucket").isin(probes: _*))
      .select(col("vec_id"),
        round(Similarity.dot(col("v"), lit(qv)), 4).as("cos")))
  }

  /** Build + persist the PRODUCT-QUANTIZATION codes index: `codes/`
    * holds `numSub` small ints per vector (the 64× compression that
    * makes a 100 TB corpus ADC-scannable), `codebook/` the tiny
    * (m, cidx, dim, c4) dictionary. One corpus scan encodes everything
    * ([[Similarity.pqCodesExpr]] — a single narrow codegen'd map); at
    * query time only `codes/` is read, two columns, no join, no
    * shuffle — a pure scan + TakeOrdered.
    *
    * `keepVectors = true` OPTS INTO RETRAINABILITY: plain PQ by
    * design stores no vectors, which makes its model TERMINAL under
    * drift (nothing to retrain the codebook from — the compression is
    * the point). With the flag the build additionally persists
    * `vectors/` holding the q4-QUANTIZED form (`Similarity.pqQ4` —
    * the exact input both training and encoding consume; full raw
    * precision is used by no PQ path, and storing the quantized form
    * is what makes retrain == fresh build BIT-exact, since q4 is not
    * idempotent) plus the memoized drift-state sidecar — the store
    * then joins the [[assignmentDrift]] monitor and the
    * generation-pinned [[compactAnnIndex]] retrain lifecycle exactly
    * like IVF / IVF-PQ. Cost: the stored q4 grid is the full vector
    * table (the 64× compression no longer bounds the store's
    * footprint) — that is the explicit price of retrainability, paid
    * only by deployments that choose it.
    *
    * `batchKeyed = true` writes codes (and vectors, when kept) under
    * `batch_id` partitions — the exactly-once streaming layout
    * ([[putPqBatch]] composes with it). */
  def writePqIndex(corpus: DataFrame, id: Column, vec: Column,
      path: String, numSub: Int = 8, codebookSize: Int = 16,
      attrs: Seq[Column] = Nil, keepVectors: Boolean = false,
      batchKeyed: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    resetGenerations(spark, path)
    val cb = Similarity.pqCodebook(corpus, id, vec, numSub, codebookSize)
    // Quantize lambda materialized once, then encoded: two projection
    // steps so the argmin tree references a plain attribute instead of
    // embedding the transform() lambda numSub×codebookSize times.
    // attrs ride the code rows (the writeLshIndex contract) so a
    // filtered ADC scan needs no corpus join.
    val q4 = corpus.select(id.as("vec_id") +:
      Similarity.pqQ4(vec).as("_v4") +: attrs: _*)
    // keepVectors builds additionally compute the row's quantization
    // error so the sidecar rides the codes write as observed metrics;
    // both encode and error run the native codegen'd argmin
    // ([[graft.functions.PqArgmin]] — same exact integer math, same
    // lower-code tiebreak as the historical forms; probe parity is
    // spec-pinned)
    val coded =
      if (keepVectors)
        q4.select(col("vec_id") +:
          Similarity.pqCodesExpr(col("_v4"), cb).as("codes") +:
          Similarity.pqMinDistExpr(col("_v4"), cb).cast("long").as("e") +:
          q4.columns.filterNot(c => c == "vec_id" || c == "_v4")
            .map(col).toSeq: _*)
      else q4.select(col("vec_id") +:
        Similarity.pqCodesExpr(col("_v4"), cb).as("codes") +:
        q4.columns.filterNot(c => c == "vec_id" || c == "_v4")
          .map(col).toSeq: _*)
    val obs = new org.apache.spark.sql.Observation()
    val codesOut =
      if (keepVectors)
        coded.observe(obs, count(lit(1)).as("n"),
          sum(col("e")).as("s")).drop("e")
      else coded
    if (batchKeyed)
      codesOut.withColumn("batch_id", lit(-1L))
        .write.mode("overwrite").partitionBy("batch_id")
        .parquet(s"$path/codes")
    else codesOut.write.mode("overwrite").parquet(s"$path/codes")
    import spark.implicits._
    val rows = for {
      m <- cb.indices; c <- cb(m).indices; d <- cb(m)(c).indices
    } yield (m, c, d, cb(m)(c)(d))
    rows.toDF("m", "cidx", "dim", "c4")
      .write.mode("overwrite").parquet(s"$path/codebook")
    if (keepVectors) {
      val vecs = corpus.select(id.as("vec_id"),
        Similarity.pqQ4(vec).as("v"))
      if (batchKeyed)
        vecs.withColumn("batch_id", lit(-1L))
          .sortWithinPartitions(col("vec_id"))
          .write.mode("overwrite").partitionBy("batch_id")
          .parquet(s"$path/vectors")
      else vecs.sortWithinPartitions(col("vec_id"))
        .write.mode("overwrite").parquet(s"$path/vectors")
      val m = obs.get
      writeErrRow(spark, path, -1L, m("n").asInstanceOf[Long],
        if (m("s") == null) 0L else m("s").asInstanceOf[Long],
        "overwrite")
    } else {
      // a rebuild WITHOUT the flag over a path that previously kept
      // vectors must not leave the stale table behind — the monitor
      // would read vectors that no longer match the codebook
      StoreFiles.delete(spark, s"$path/vectors")
      StoreFiles.delete(spark, s"$path/errstate")
    }
  }

  /** Encode a batch under a stored plain-PQ index's FROZEN codebook:
    * (vec_id, v, codes, e [, attrs]) with `v` the q4 grid and `e` the
    * row's quantization error (the native argmin's own min distance,
    * [[graft.functions.PqArgmin]]), kept so the sidecar fold rides
    * the encode's write action instead of a second scan.
    * Deterministic, so a streaming replay reproduces its rows
    * byte-for-byte; the native argmin computes the identical
    * exact-integer codes the build's form does (same math, same
    * lower-code tiebreak). */
  private def pqEncodeStored(batch: DataFrame, id: Column, vec: Column,
      root: String, attrs: Seq[Column] = Nil): DataFrame = {
    val cb = readCodebook(batch.sparkSession, s"$root/codebook")
    val q4 = batch.select(id.as("vec_id") +:
      Similarity.pqQ4(vec).as("v") +: attrs: _*)
    q4.select(col("vec_id") +: col("v") +:
      Similarity.pqCodesExpr(col("v"), cb).as("codes") +:
      Similarity.pqMinDistExpr(col("v"), cb).cast("long").as("e") +:
      q4.columns.filterNot(c => c == "vec_id" || c == "v")
        .map(col).toSeq: _*)
  }

  /** Append a batch to a persisted plain-PQ index under the STORED
    * codebook — frozen model, no corpus re-read (the
    * [[appendIvfPqIndex]] contract). On a `keepVectors` store the q4
    * vectors append too and the batch's own quantization error FOLDS
    * additively into the drift-state sidecar; when drift warrants,
    * retrain IN the store via [[compactAnnIndex]]`(retrainIters)`.
    * `attrs` must match the build's attribute columns.
    * `maxFilesPerDir` > 0 applies the [[appendLshIndex]] small-file
    * policy. */
  def appendPqIndex(batch: DataFrame, id: Column, vec: Column,
      path: String, attrs: Seq[Column] = Nil,
      maxFilesPerDir: Int = 0): Unit = {
    val spark = batch.sparkSession
    val root = currentRoot(spark, path)
    val enc = pqEncodeStored(batch, id, vec, root, attrs)
      .localCheckpoint(eager = false)
    // the sidecar's (n, Σe) rides the codes write as observed metrics
    // — the append pays exactly one argmin pass
    val obs = new org.apache.spark.sql.Observation()
    enc.observe(obs, count(lit(1)).as("n"), sum(col("e")).as("s"))
      .drop("v", "e").write.mode("append").parquet(s"$root/codes")
    val hasVecs = StoreFiles.exists(spark, s"$root/vectors")
    if (hasVecs) {
      enc.select(col("vec_id"), col("v"))
        .sortWithinPartitions(col("vec_id"))
        .write.mode("append").parquet(s"$root/vectors")
      foldPqErrObserved(spark, root, obs, batchId = -1L,
        dynamic = false)
    }
    maybeCompactFiles(spark, path, maxFilesPerDir,
      "codes" +: (if (hasVecs) Seq("vectors") else Nil),
      root = root)
  }

  /** Idempotently (re)write one micro-batch into a BATCH-KEYED
    * plain-PQ index: the frozen stored codebook encodes
    * ([[pqEncodeStored]] — deterministic) and the batch's rows land
    * under their own `batch_id` partitions via dynamic partition
    * overwrite — EXACTLY-once under foreachBatch's at-least-once
    * contract (the [[putIvfPqBatch]] discipline). On a `keepVectors`
    * store the q4 vectors and the errstate partition rewrite the same
    * way (replay-idempotent — the values are deterministic). */
  def putPqBatch(batch: DataFrame, id: Column, vec: Column,
      path: String, batchId: Long, attrs: Seq[Column] = Nil): Unit = {
    val spark = batch.sparkSession
    val root = currentRoot(spark, path)
    val enc = pqEncodeStored(batch, id, vec, root, attrs)
      .localCheckpoint(eager = false)
    val obs = new org.apache.spark.sql.Observation()
    enc.observe(obs, count(lit(1)).as("n"), sum(col("e")).as("s"))
      .drop("v", "e").withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$root/codes")
    if (StoreFiles.exists(spark, s"$root/vectors")) {
      enc.select(col("vec_id"), col("v"))
        .withColumn("batch_id", lit(batchId))
        .sortWithinPartitions(col("vec_id"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(s"$root/vectors")
      foldPqErrObserved(spark, root, obs, batchId, dynamic = true)
    }
  }

  /** [[compactIvfBatches]] for the batch-keyed plain-PQ layout: the
    * flat `codes/` fold plus — on a keepVectors store — the flat q4
    * `vectors/` fold and the errstate batch fold. */
  def compactPqBatches(spark: SparkSession, path: String,
      keepFrom: Long): Unit = {
    val root = currentRoot(spark, path)
    foldBatches(spark, s"$root/codes", None, keepFrom)
    if (StoreFiles.exists(spark, s"$root/vectors"))
      foldBatches(spark, s"$root/vectors", None, keepFrom)
    foldErrStateBatches(spark, root, keepFrom)
  }

  /** ADC top-k against a persisted PQ index. The query frame carries the
    * RAW vector (1 row, any column name); the codebook is a bounded
    * driver read, the distance table is computed locally in exact
    * integer math, and the scan touches `codes/` only. */
  def queryPqIndex(spark: SparkSession, path: String, query: DataFrame,
      k: Int, attrFilter: Option[Column] = None): DataFrame = {
    val root = currentRoot(spark, path) // generation pin (one resolve)
    val cb = readCodebook(spark, s"$root/codebook")
    val q4Row = query
      .select(Similarity.pqQ4(col(query.columns.head)).as("v4"))
      .head().getSeq[Double](0).toArray
    val qTable = Similarity.pqAdcTable(q4Row, cb)
    Similarity.pqRank(
      StoreFiles.dropTombstoned(spark, root, attrFilter.foldLeft(
          StoreFiles.scan(spark, s"$root/codes"))(_.filter(_)), "vec_id")
        .select(col("vec_id"),
          Similarity.pqScoreFromCodes(col("codes"), qTable)
            .cast("long").as("adc_score")), k)
  }

  /** Multi-query ADC top-k against a persisted PQ index — the
    * batch-serving twin of [[queryPqIndex]]: ONE `codes/` scan (two
    * columns, nothing corpus-sized joined or shuffled) serves the
    * whole batch. Each query's exact-integer distance table rides the
    * broadcast as a flattened array looked up by `element_at` (the
    * [[ivfPqShortlistFrame]] expression without the cell pruning —
    * plain PQ has no partitioning to prune; it is the compressed FULL
    * scan, amortized across the batch), and the per-query top-k is a
    * bounded `topk_agg` on the negated integer score. NOTE (changed
    * in this version): the collected query batch is now
    * ceiling-guarded like every sibling batch probe — at most
    * [[MaxShortlistIds]]`/k` query rows; a larger batch, which
    * previously collected unbounded, now fails loudly naming the
    * ceiling. Split oversized batches into multiple probe calls.
    * Output: (query_id, vec_id, adc_score, rank), rank 1-based per
    * query (adc_score asc, vec_id asc). */
  def pqKnnJoinIndexed(spark: SparkSession, path: String,
      queries: DataFrame, qid: Column, qvec: Column, k: Int,
      attrFilter: Option[Column] = None): DataFrame = {
    val root = currentRoot(spark, path) // generation pin (one resolve)
    val cb = readCodebook(spark, s"$root/codebook")
    val numSub = cb.length
    val cbSize = cb(0).length
    val qRows = collectQueryBatch(
        queries.select(qid.cast("long").as("query_id"),
          Similarity.pqQ4(qvec).as("q4")), perQuery = k)
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    if (qRows.isEmpty)
      return StoreFiles.scan(spark, s"$root/codes")
        .select(lit(0L).as("query_id"), col("vec_id"),
          lit(0L).as("adc_score"), lit(0L).as("rank")).limit(0)
    import spark.implicits._
    val qDf = qRows.toSeq.map { case (q, q4) =>
      (q, Similarity.pqAdcTable(q4, cb).flatten.toSeq)
    }.toDF("query_id", "qtab")
    val adc = (0 until numSub).map(m =>
        element_at(col("qtab"),
          lit(m * cbSize) + element_at(col("codes"), m + 1) + lit(1)))
      .reduce(_ + _)
    StoreFiles.dropTombstoned(spark, root, attrFilter.foldLeft(
        StoreFiles.scan(spark, s"$root/codes"))(_.filter(_)), "vec_id")
      .crossJoin(broadcast(qDf))
      .select(col("query_id"), col("vec_id"),
        adc.cast("long").as("adc_score"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate
        .topk(-col("adc_score").cast("double"), col("vec_id"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("query_id"), col("p.id").as("vec_id"),
        (-col("p.score")).cast("long").as("adc_score"),
        (col("r") + 1).cast("long").as("rank"))
  }

  /** Build + persist the int8-quantized codes index (the ADC storage
    * layout): `codes/` holds one signed byte per element (code − 128 —
    * 4× smaller than float32, and parquet bit-packs it further),
    * `stats/` the per-dim (min, max) dictionary, `vectors/` the
    * full-precision normalized vectors sorted by vec_id for the rerank
    * (row-group min/max stats prune the candidate `IN` lookup). One
    * corpus scan builds everything; only `codes/` is touched by the
    * stage-1 scan at query time. */
  def writeQuantizedIndex(corpus: DataFrame, id: Column, vec: Column,
      path: String, attrs: Seq[Column] = Nil): Unit = {
    val normed = corpus.select(id.as("vec_id") +:
      Similarity.l2Normalize(vec).as("v") +: attrs: _*)
    val (mn, mx) = Similarity.int8Stats(normed)
    // Codes build as ONE narrow map against the literal (mn, mx)
    // dictionary arrays — no dim join and no groupBy(vec_id)
    // reassembly shuffle of the exploded corpus (same integer-valued
    // double arithmetic as the exploded form, byte-identical codes).
    val mnL = lit(mn.map(_.toDouble)); val mxL = lit(mx.map(_.toDouble))
    val codesExpr = transform(col("v"), (x, i) => {
      val m = element_at(mnL, i + 1); val mM = element_at(mxL, i + 1)
      val xi = floor(x * lit(10000.0))
      (when(mM === m, lit(0.0)).otherwise(
        least(floor((xi - m) * lit(255.0) / (mM - m)), lit(255.0)))
        - lit(128)).cast("byte")
    })
    // attrs ride the stage-1 codes table only (where the filter runs);
    // the rerank vectors stay two-column
    val attrNames = normed.columns.filterNot(c => c == "vec_id" || c == "v")
    normed.select(col("vec_id") +: codesExpr.as("codes") +:
        attrNames.map(col).toSeq: _*)
      .write.mode("overwrite").parquet(s"$path/codes")
    val spark = corpus.sparkSession
    import spark.implicits._
    mn.indices.map(d => (d.toLong, mn(d), mx(d)))
      .toDF("dim", "mn", "mx")
      .write.mode("overwrite").parquet(s"$path/stats")
    normed.select(col("vec_id"), col("v"))
      .sortWithinPartitions(col("vec_id"))
      .write.mode("overwrite").parquet(s"$path/vectors")
  }

  /** Two-stage top-k against a persisted quantized index. Stage 1 only
    * scans `codes/`: the affine decode folds into ONE literal weight
    * vector — score(v) = Σ decode(cᵢ)·qᵢ = const + Σ (cᵢ+128)·wᵢ with
    * wᵢ = qᵢ·(mxᵢ−mnᵢ)/(255·10⁴) computed driver-side — so the scan is
    * a single codegen'd dot against a literal and the constant drops out
    * of the ranking. Stage 2 reads only the `rerank` candidate rows from
    * `vectors/` (vec_id IN — row-group pruned) and rescores exactly. */
  def queryQuantizedIndex(spark: SparkSession, path: String,
      query: DataFrame, k: Int, rerank: Int,
      attrFilter: Option[Column] = None): DataFrame = {
    val codes = StoreFiles.dropTombstoned(spark, path, attrFilter.foldLeft(
      StoreFiles.scan(spark, s"$path/codes"))(_.filter(_)), "vec_id")
    val qRows = query.select(col(query.columns.head).as("qv")).head(1)
    if (qRows.isEmpty)
      return codes.select(col("vec_id"), lit(0.0d).as("cos"),
        lit(0).as("rank")).limit(0)
    val qv = qRows(0).getSeq[Double](0).toArray
    val statRows = StoreFiles.scan(spark, s"$path/stats").collect()
    val mn = new Array[Long](qv.length); val mx = new Array[Long](qv.length)
    statRows.foreach { r =>
      val d = r.getLong(0).toInt; mn(d) = r.getLong(1); mx(d) = r.getLong(2)
    }
    val w = Array.tabulate(qv.length)(i =>
      qv(i) * (mx(i) - mn(i)).toDouble / (255.0 * 10000.0))
    val candidates = codes
      .select(col("vec_id"),
        Similarity.dot(transform(col("codes"),
          c => (c.cast("int") + lit(128)).cast("double")), lit(w))
          .as("ascore"))
      .orderBy(col("ascore").desc, col("vec_id")).limit(rerank)
      .collect().map(_.getLong(0))
    Similarity.topKRanked(
      StoreFiles.scan(spark, s"$path/vectors")
        .filter(col("vec_id").isin(candidates.toIndexedSeq: _*))
        .select(col("vec_id"),
          round(Similarity.dot(col("v"), lit(qv)), 4).as("cos")),
      k)
  }

  /** Multi-query two-stage top-k against a persisted int8-quantized
    * index — the batch-serving twin of [[queryQuantizedIndex]]. Stage 1
    * scans `codes/` ONCE for the whole batch: each stored code row
    * decodes to the integer grid `mn·255 + code·(mx−mn)` (a literal
    * per-dimension affine, codegen'd — no join), every query rides a
    * broadcast as its 1e-4-floored integer vector, and the per-query
    * `rerank` shortlist is a bounded `topk_agg` over the EXACT integer
    * score Σ decode·q_e4 (all intermediates integer-valued < 2⁵³, so
    * the ranking is bit-identical in any engine and any aggregation
    * order — the pqAdcCtes discipline; ranking by it ≡ ranking by the
    * decoded dot against the quantized query). Stage 2 collects the
    * shortlist (|queries| × rerank, guarded by [[MaxShortlistIds]])
    * and reads ONLY those rows from the vec_id-sorted `vectors/` via a
    * literal `vec_id IN` (row-group pruned), rescoring with exact
    * cosine. Output: (query_id, vec_id, cos, rank). EAGER like
    * [[ivfPqKnnJoinIndexed]]: stage 1 runs at call time. */
  def quantizedKnnJoinIndexed(spark: SparkSession, path: String,
      queries: DataFrame, qid: Column, qvec: Column, k: Int,
      rerank: Int, attrFilter: Option[Column] = None): DataFrame = {
    val qRows = collectQueryBatch(
        queries.select(qid.cast("long").as("query_id"),
          Similarity.l2Normalize(qvec).as("qv")), perQuery = rerank)
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    if (qRows.isEmpty)
      return StoreFiles.scan(spark, s"$path/codes")
        .select(lit(0L).as("query_id"), col("vec_id"),
          lit(0.0d).as("cos"), lit(0L).as("rank")).limit(0)
    val statRows = StoreFiles.scan(spark, s"$path/stats").collect()
    val dim = statRows.length
    val mn = new Array[Long](dim); val mx = new Array[Long](dim)
    statRows.foreach { r =>
      val d = r.getLong(0).toInt; mn(d) = r.getLong(1); mx(d) = r.getLong(2)
    }
    val decMul = lit(Array.tabulate(dim)(i => (mx(i) - mn(i)).toDouble))
    val decAdd = lit(Array.tabulate(dim)(i => mn(i) * 255.0))
    import spark.implicits._
    val qDf = qRows.toSeq.map { case (q, qv) =>
      (q, qv.map(x => math.floor(x * 10000.0)).toSeq)
    }.toDF("query_id", "qe4")
    val codes = StoreFiles.dropTombstoned(spark, path, attrFilter.foldLeft(
      StoreFiles.scan(spark, s"$path/codes"))(_.filter(_)), "vec_id")
    val decoded = transform(col("codes"), (c, i) =>
      (c.cast("double") + lit(128.0)) * element_at(decMul, i + 1) +
        element_at(decAdd, i + 1))
    val shortTriples = codes
      .select(col("vec_id"), decoded.as("dv"))
      .crossJoin(broadcast(qDf))
      .select(col("query_id"), col("vec_id"),
        Similarity.dot(col("dv"), col("qe4")).as("iscore"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate
        .topk(col("iscore"), col("vec_id"), rerank).as("top"))
      .select(col("query_id"), explode(col("top")).as("p"))
      .select(col("query_id"), col("p.id").as("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val shortIds = shortTriples.map(_._2).distinct.toIndexedSeq
    val pairsDf = shortTriples.toSeq.toDF("query_id", "vec_id")
    val qvDf = qRows.toSeq.toDF("query_id", "qv")
    StoreFiles.scan(spark, s"$path/vectors")
      .filter(col("vec_id").isin(shortIds: _*))
      .join(broadcast(pairsDf), Seq("vec_id"))
      .join(broadcast(qvDf), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(Similarity.dot(col("v"), col("qv")), 4).as("cos"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate
        .topk(col("cos"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("query_id"), col("p.id").as("vec_id"),
        col("p.score").as("cos"), (col("r") + 1).cast("long").as("rank"))
  }

  /** Build + persist the BINARY sign-bit index: `bits/` holds two
    * packed longs per vector — 16 bytes against 256 for float32, the
    * cheapest stored first-stage filter there is — plus `vectors/`
    * (normalized, vec_id-sorted so row-group stats prune the rerank
    * lookup). One corpus scan builds both. */
  def writeBinaryIndex(corpus: DataFrame, id: Column, vec: Column,
      path: String, attrs: Seq[Column] = Nil): Unit = {
    corpus.select(id.as("vec_id") +:
        Similarity.signBits(vec, 0).as("lo") +:
        Similarity.signBits(vec, 32).as("hi") +: attrs: _*)
      .write.mode("overwrite").parquet(s"$path/bits")
    corpus.select(id.as("vec_id"), Similarity.l2Normalize(vec).as("v"))
      .sortWithinPartitions(col("vec_id"))
      .write.mode("overwrite").parquet(s"$path/vectors")
  }

  /** Two-stage top-k against the persisted binary index. Stage 1 scans
    * `bits/` ONLY — Hamming distance to the query's stored signature is
    * two codegen'd bit_count(xor) ops per row, shortlisted by a
    * distributed TakeOrdered. Stage 2 reads just the shortlist rows
    * from `vectors/` (vec_id IN — row-group pruned) and rescores with
    * exact cosine. The query is named by id; its signature and full
    * vector both come from the index, so the corpus is never touched. */
  def queryBinaryIndex(spark: SparkSession, path: String, queryId: Long,
      k: Int, shortlist: Int,
      attrFilter: Option[Column] = None): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"need 1 <= k <= shortlist: k=$k shortlist=$shortlist")
    // the signature/vector lookups for the query id itself read the
    // RAW tables (querying by a deleted or filtered-out id is the
    // caller's call); only the candidate scan excludes tombstoned
    // vectors and applies the attribute filter
    val bits = StoreFiles.dropTombstoned(spark, path, attrFilter.foldLeft(
      StoreFiles.scan(spark, s"$path/bits"))(_.filter(_)), "vec_id")
    val qRows = StoreFiles.scan(spark, s"$path/bits")
      .filter(col("vec_id") === queryId).head(1)
    if (qRows.isEmpty)
      return bits.select(col("vec_id"), lit(0.0d).as("cos"),
        lit(0).as("rank")).limit(0)
    val (qlo, qhi) = (qRows(0).getLong(1), qRows(0).getLong(2))
    val short = bits.select(col("vec_id"),
        (bit_count(col("lo").bitwiseXOR(lit(qlo))) +
          bit_count(col("hi").bitwiseXOR(lit(qhi)))).cast("long")
          .as("_ham"))
      .orderBy(col("_ham"), col("vec_id")).limit(shortlist)
      .collect().map(_.getLong(0))
    val vectors = StoreFiles.scan(spark, s"$path/vectors")
    val qv = vectors.filter(col("vec_id") === queryId)
      .head().getSeq[Double](1).toArray
    Similarity.topKRanked(
      vectors.filter(col("vec_id").isin(short.toIndexedSeq: _*))
        .select(col("vec_id"),
          round(Similarity.dot(col("v"), lit(qv)), 4).as("cos")),
      k)
  }

  /** Multi-query two-stage top-k against the persisted binary index —
    * the batch-serving twin of [[queryBinaryIndex]]: queries are named
    * BY ID (their signatures and rerank vectors come from the index
    * itself — the corpus is never touched), the whole batch's Hamming
    * stage-1 is ONE `bits/` scan (16 bytes per row) against the
    * broadcast signature frame, per-query shortlists are bounded
    * `topk_agg`s over the exact integer distance, and stage 2 reads
    * only the collected shortlist rows from the vec_id-sorted
    * `vectors/` via a literal `vec_id IN` (row-group pruned),
    * rescoring with exact cosine. Guarded by [[MaxShortlistIds]];
    * EAGER like [[ivfPqKnnJoinIndexed]]. Query ids absent from the
    * index contribute no rows. Output: (query_id, vec_id, cos, rank). */
  def binaryKnnJoinIndexed(spark: SparkSession, path: String,
      queryIds: DataFrame, qid: Column, k: Int, shortlist: Int,
      attrFilter: Option[Column] = None): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"need 1 <= k <= shortlist: k=$k shortlist=$shortlist")
    val qIds = collectQueryBatch(
        queryIds.select(qid.cast("long").as("query_id")).distinct(),
        perQuery = shortlist)
      .map(_.getLong(0))
    if (qIds.isEmpty)
      return StoreFiles.scan(spark, s"$path/bits")
        .select(lit(0L).as("query_id"), col("vec_id"),
          lit(0.0d).as("cos"), lit(0L).as("rank")).limit(0)
    // signature lookups read the RAW table (querying by a deleted id
    // is the caller's call); only the candidate scan drops tombstones
    val sigRows = StoreFiles.scan(spark, s"$path/bits")
      .filter(col("vec_id").isin(qIds.toIndexedSeq: _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    import spark.implicits._
    val qSig = sigRows.toSeq.toDF("query_id", "qlo", "qhi")
    val bits = StoreFiles.dropTombstoned(spark, path, attrFilter.foldLeft(
      StoreFiles.scan(spark, s"$path/bits"))(_.filter(_)), "vec_id")
    val shortPairs = bits.crossJoin(broadcast(qSig))
      .select(col("query_id"), col("vec_id"),
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi"))))
          .cast("double").as("ham"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate
        .topk(-col("ham"), col("vec_id"), shortlist).as("top"))
      .select(col("query_id"), explode(col("top")).as("p"))
      .select(col("query_id"), col("p.id").as("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val shortIds = shortPairs.map(_._2).distinct.toIndexedSeq
    val qvRows = StoreFiles.scan(spark, s"$path/vectors")
      .filter(col("vec_id").isin(qIds.toIndexedSeq: _*))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val pairsDf = shortPairs.toSeq.toDF("query_id", "vec_id")
    val qvDf = qvRows.toSeq.toDF("query_id", "qv")
    StoreFiles.scan(spark, s"$path/vectors")
      .filter(col("vec_id").isin(shortIds: _*))
      .join(broadcast(pairsDf), Seq("vec_id"))
      .join(broadcast(qvDf), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(Similarity.dot(col("v"), col("qv")), 4).as("cos"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate
        .topk(col("cos"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("query_id"), col("p.id").as("vec_id"),
        col("p.score").as("cos"), (col("r") + 1).cast("long").as("rank"))
  }

  /** Build + persist the IVF index: centroids sampled deterministically
    * (optionally Lloyd-refined with `refineIters` spherical k-means
    * passes), every vector assigned partition-locally (centroids are
    * literals in the plan — no shuffle), stored partitioned by cell.
    *
    * `batchKeyed = true` writes the base build under
    * (batch_id = −1, cell) instead — the [[SketchStore]] batch-keyed
    * discipline applied to the vector index, so the streaming ingest's
    * per-batch dynamic overwrites ([[putIvfBatch]]) compose with the
    * base. A store is either batch-keyed (this + [[putIvfBatch]]) or
    * plain (default + [[appendIvfIndex]]); the layouts don't mix under
    * one path. Probes are layout-agnostic: they select their columns
    * explicitly and `cell` prunes partitions at either nesting depth. */
  def writeIvfIndex(corpus: DataFrame, id: Column, vec: Column,
      path: String, nList: Int, refineIters: Int = 0,
      batchKeyed: Boolean = false, attrs: Seq[Column] = Nil): Unit = {
    val spark = corpus.sparkSession
    // a fresh build resets generations FIRST: a stale pointer must
    // never redirect readers away from the tables written below
    resetGenerations(spark, path)
    val cents =
      if (refineIters > 0)
        Similarity.ivfCentroidsKMeans(corpus, id, vec, nList, refineIters)
      else Similarity.ivfCentroids(corpus, id, vec, nList)
    val assigned = corpus
      .select(id.as("vec_id") +:
        Similarity.l2Normalize(vec).as("v") +: attrs: _*)
      .withColumn("cell", Similarity.nearestCell(col("v"), cents))
    val (out, pcols) =
      if (batchKeyed) (assigned.withColumn("batch_id", lit(-1L)),
        Seq("batch_id", "cell"))
      else (assigned, Seq("cell"))
    out.repartition(col("cell"))
      .write.mode("overwrite").partitionBy(pcols: _*)
      .parquet(s"$path/index")
    spark.createDataFrame(
        cents.map { case (cell, cv) => (cell, cv) }.toSeq)
      .toDF("cell", "cv")
      .write.mode("overwrite").parquet(s"$path/centroids")
    // memoized drift state, computed from the STORED rows (bytes the
    // monitor's fallback scan would read — sidecar == recompute by
    // construction)
    writeErrStateAll(spark, path, "index", cents)
  }

  /** Idempotently (re)write one micro-batch's vectors under their own
    * (batch_id, cell) partitions of a BATCH-KEYED IVF index: the
    * STORED centroids assign the batch (frozen model — deterministic,
    * so a replay reproduces its rows byte-for-byte), and dynamic
    * partition overwrite makes the write EXACTLY-once under
    * foreachBatch's at-least-once contract — a replayed batch rewrites
    * its own partitions instead of duplicating them, and batch 0 after
    * a checkpoint reset overwrites only partition 0, never the base
    * build at −1. */
  def putIvfBatch(batch: DataFrame, id: Column, vec: Column,
      path: String, batchId: Long, attrs: Seq[Column] = Nil): Unit = {
    val spark = batch.sparkSession
    val root = currentRoot(spark, path)
    val cents = readCentroids(spark, root)
    val rows = batch.select(id.as("vec_id") +:
        Similarity.l2Normalize(vec).as("v") +: attrs: _*)
      .withColumn("cell", Similarity.nearestCell(col("v"), cents))
      .localCheckpoint(eager = false)
    // drift-state fold rides the batch's own partition as metrics
    // OBSERVED on this write (zero extra scans): a replay overwrites
    // the same deterministic row — exactly-once preserved
    val (toWrite, obsOpt) = observeErr(rows, root, cents)
    toWrite.withColumn("batch_id", lit(batchId))
      .repartition(col("cell"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "cell").parquet(s"$root/index")
    obsOpt.foreach(o =>
      foldPqErrObserved(spark, root, o, batchId, dynamic = true))
  }

  /** Fold one batch-keyed sub-table's COMMITTED batches
    * (batch_id < keepFrom, including earlier folds at −1) into the base
    * partition −1, collapsing the per-batch small files; partitions ≥
    * keepFrom are untouched, so a replay of the one in-flight batch
    * still overwrites only its own partitions —
    * [[SketchStore.compactBatches]]' streaming-safe contract. `pcol` is
    * the inner partition column (bucket / cell); a FLAT sub-table
    * (None — the IVF-PQ `vectors/`) re-clusters by vec_id within the
    * fold so the rerank paths' literal `IN` lookups keep their
    * row-group min/max pruning. */
  private def foldBatches(spark: SparkSession, dir: String,
      pcol: Option[String], keepFrom: Long): Unit =
    StoreFiles.replaceDir(spark, dir) { tmp =>
      val all = StoreFiles.scan(spark, dir)
      val out = all.filter(col("batch_id") < keepFrom).drop("batch_id")
        .withColumn("batch_id", lit(-1L))
        .unionByName(all.filter(col("batch_id") >= keepFrom))
      pcol match {
        case Some(p) => out.repartition(col(p))
          .write.partitionBy("batch_id", p).parquet(tmp)
        case None => out.repartitionByRange(
            spark.sessionState.conf.numShufflePartitions, col("vec_id"))
          .sortWithinPartitions(col("batch_id"), col("vec_id"))
          .write.partitionBy("batch_id").parquet(tmp)
      }
    }

  /** Fold a batch-keyed IVF index's committed batches into the base
    * partition ([[foldBatches]] on `index/`). Probe results unchanged
    * (index rows just concatenate; batch identity carries no probe
    * semantics). */
  def compactIvfBatches(spark: SparkSession, path: String,
      keepFrom: Long): Unit = {
    val root = currentRoot(spark, path)
    foldBatches(spark, s"$root/index", Some("cell"), keepFrom)
    foldErrStateBatches(spark, root, keepFrom)
  }

  /** [[compactIvfBatches]] for the batch-keyed LSH layout. */
  def compactLshBatches(spark: SparkSession, path: String,
      keepFrom: Long): Unit =
    foldBatches(spark, s"$path/index", Some("bucket"), keepFrom)

  /** [[compactIvfBatches]] for the batch-keyed IVF-PQ layout: the
    * cell-partitioned `codes/` fold plus the flat `vectors/` fold
    * (re-clustered by vec_id for the stage-2 literal-IN pruning). */
  def compactIvfPqBatches(spark: SparkSession, path: String,
      keepFrom: Long): Unit = {
    val root = currentRoot(spark, path)
    foldBatches(spark, s"$root/codes", Some("cell"), keepFrom)
    foldBatches(spark, s"$root/vectors", None, keepFrom)
    foldErrStateBatches(spark, root, keepFrom)
  }

  /** Append a batch of vectors to a persisted IVF index: the STORED
    * centroids assign the batch partition-locally (centroids are a
    * frozen model at append time — no retraining, no corpus re-read;
    * when drift decays recall, retrain IN the store via
    * [[compactAnnIndex]]`(retrainIters = Some(n))` — no corpus
    * rebuild), and the rows land under their cell partitions. Probes
    * over the appended index equal an assignment of the union corpus
    * under the same centroids (spec-pinned). `maxFilesPerDir` > 0
    * compacts in place when blind appends have accumulated too many
    * small files (the [[appendLshIndex]] policy). */
  def appendIvfIndex(batch: DataFrame, id: Column, vec: Column,
      path: String, maxFilesPerDir: Int = 0,
      attrs: Seq[Column] = Nil): Unit = {
    val spark = batch.sparkSession
    val root = currentRoot(spark, path)
    val cents = readCentroids(spark, root)
    val rows = batch
      .select(id.as("vec_id") +:
        Similarity.l2Normalize(vec).as("v") +: attrs: _*)
      .withColumn("cell", Similarity.nearestCell(col("v"), cents))
      .localCheckpoint(eager = false)
    // additive drift-state fold (exact: integer error terms under the
    // same frozen model the rows were just assigned with) rides the
    // index write as observed metrics — zero extra batch scans; BEFORE
    // the file policy, since a triggered compact recomputes wholesale
    val (toWrite, obsOpt) = observeErr(rows, root, cents)
    toWrite.repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$root/index")
    obsOpt.foreach(o =>
      foldPqErrObserved(spark, root, o, batchId = -1L, dynamic = false))
    maybeCompactFiles(spark, path, maxFilesPerDir,
      touchedPartDirs(rows, "index", "cell"), root = root)
  }

  /** Multi-query top-k against a persisted IVF index: the stored
    * centroid table (nList rows) is collected, per-query probe cells
    * are ranked on the tiny |queries| × nList frame, the UNION of
    * probed cells (≤ nList values) becomes a static partition-pruning
    * filter on the index read, and the per-query candidate restriction
    * + bounded top-k ride one broadcast join — the stored corpus is
    * scanned once (pruned) and never shuffled. The batch-serving /
    * evaluation twin of [[queryIvfIndex]]: recall measured through this
    * path measures the ARTIFACT a service probes, not an in-memory
    * re-derivation. */
  def ivfKnnJoinIndexed(spark: SparkSession, path: String,
      queries: DataFrame, qid: Column, qvec: Column, k: Int,
      nProbe: Int = 4, attrFilter: Option[Column] = None): DataFrame = {
    // resolved ONCE: every read below uses this literal root, pinning
    // the whole probe to a single generation across concurrent retrains
    val root = currentRoot(spark, path)
    val cents = readCentroids(spark, root)
    val probes = Similarity.probeCellRanks(queries, qid, qvec, cents)
      .filter(col("crk") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
      .localCheckpoint(eager = false)
    val probedCells = probes.select(col("cell")).distinct().collect()
      .map(_.getInt(0)).toIndexedSeq // bounded by nList — driver-sized
    // attrFilter (over writeIvfIndex `attrs` columns) rides the SAME
    // pruned scan — the predicate pushes to parquet next to the cell
    // pruning (filtered vector search, the queryLshIndex contract:
    // candidates are restricted, distances and ranking are unchanged)
    val index = StoreFiles.dropTombstoned(spark, root,
      attrFilter.foldLeft(StoreFiles.scan(spark, s"$root/index"))(_.filter(_))
        .filter(col("cell").isin(probedCells: _*)), "vec_id")
    index.join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("vec_id"),
        round(Similarity.dot(col("v"), col("qv")), 4).as("cos"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate
        .topk(col("cos"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("query_id"), col("p.id").as("vec_id"),
        col("p.score").as("cos"), (col("r") + 1).cast("long").as("rank"))
  }

  /** Top-k against a persisted IVF index: centroid table (nList rows) is
    * read and scored driver-side, the best `nProbe` cells become a
    * partition-pruning `cell IN (...)` filter. An empty query frame yields
    * an empty result. */
  def queryIvfIndex(spark: SparkSession, path: String, query: DataFrame,
      k: Int, nProbe: Int = 4,
      attrFilter: Option[Column] = None): DataFrame = {
    val root = currentRoot(spark, path) // generation pin (one resolve)
    val index = StoreFiles.dropTombstoned(spark, root, attrFilter.foldLeft(
      StoreFiles.scan(spark, s"$root/index"))(_.filter(_)), "vec_id")
    val qRows = query.select(col(query.columns.head).as("qv")).head(1)
    if (qRows.isEmpty)
      return index.select(col("vec_id"), lit(0.0d).as("cos"),
        lit(0).as("rank")).limit(0)
    val qv = qRows(0).getSeq[Double](0).toArray
    val cells = readCentroids(spark, root)
      .map { case (cell, cv) => (cell, dotLocal(cv, qv)) }
      .sortBy { case (cell, score) => (-score, cell) }
      .take(nProbe).map(_._1)
    Similarity.topKRanked(
      index.filter(col("cell").isin(cells.toIndexedSeq: _*))
        .select(col("vec_id"),
          round(Similarity.dot(col("v"), lit(qv)), 4).as("cos")),
      k)
  }

  /** Build + persist the IVF-PQ (IVFADC) index — the composed 100 TB
    * layout: `codes/` holds `numSub` small residual codes per vector
    * PARTITIONED BY the trained coarse cell, so a probe reads
    * nProbe/nList of the directories at ~1 byte/dim; `centroids/` the
    * trained cells, `codebook/` the (m, cidx, dim, c6) residual
    * dictionary, `vectors/` the full-precision normalized vectors
    * (vec_id-sorted — row-group stats prune the rerank lookup). Cells
    * train with `refineIters` spherical Lloyd rounds
    * ([[Similarity.ivfCentroidsKMeans]]), so the service-shaped
    * artifact gets the trained model, not the sample seed. */
  def writeIvfPqIndex(corpus: DataFrame, id: Column, vec: Column,
      path: String, nList: Int = 16, numSub: Int = 8,
      codebookSize: Int = 16, refineIters: Int = 2,
      batchKeyed: Boolean = false, attrs: Seq[Column] = Nil): Unit = {
    resetGenerations(corpus.sparkSession, path)
    val (cents, cb, coded0) = Similarity.ivfPqEncode(corpus, id, vec,
      nList, numSub, codebookSize, refineIters)
    // attrs denormalize onto the code rows (one build-time join by
    // vec_id — the write shuffles by cell right after anyway), so a
    // filtered probe's predicate pushes into the SAME pruned codes
    // scan instead of joining the corpus back in at serving time
    val coded =
      if (attrs.isEmpty) coded0
      else coded0.join(corpus.select(id.as("vec_id") +: attrs: _*),
        Seq("vec_id"))
    val (codesOut, codesP) =
      if (batchKeyed) (coded.withColumn("batch_id", lit(-1L)),
        Seq("batch_id", "cell"))
      else (coded, Seq("cell"))
    codesOut.repartition(col("cell"))
      .write.mode("overwrite").partitionBy(codesP: _*)
      .parquet(s"$path/codes")
    val spark = corpus.sparkSession
    spark.createDataFrame(cents.map { case (cell, cv) => (cell, cv) }.toSeq)
      .toDF("cell", "cv")
      .write.mode("overwrite").parquet(s"$path/centroids")
    import spark.implicits._
    (for { m <- cb.indices; c <- cb(m).indices; d <- cb(m)(c).indices }
      yield (m, c, d, cb(m)(c)(d)))
      .toDF("m", "cidx", "dim", "c6")
      .write.mode("overwrite").parquet(s"$path/codebook")
    val vecs = corpus.select(id.as("vec_id"),
      Similarity.l2Normalize(vec).as("v"))
    if (batchKeyed)
      vecs.withColumn("batch_id", lit(-1L))
        .sortWithinPartitions(col("vec_id"))
        .write.mode("overwrite").partitionBy("batch_id")
        .parquet(s"$path/vectors")
    else vecs.sortWithinPartitions(col("vec_id"))
      .write.mode("overwrite").parquet(s"$path/vectors")
    writeErrStateAll(spark, path, "vectors", cents)
  }

  /** Append a batch to a persisted IVF-PQ index under the STORED model:
    * the frozen centroids assign cells, the frozen residual codebook
    * encodes — no retraining, no corpus re-read (when drift warrants,
    * retrain IN the store via [[compactAnnIndex]]`(retrainIters =
    * Some(n))`, the [[appendIvfIndex]] contract). Probing ALL cells
    * with a corpus-sized rerank over the
    * appended index still equals brute-force truth over the union —
    * the two-stage exactness identity is model-independent
    * (spec-pinned). `maxFilesPerDir` > 0 compacts in place when blind
    * appends have accumulated too many small files (the
    * [[appendLshIndex]] policy — doubly valuable here because the
    * compact also restores the flat `vectors/` table's global vec_id
    * clustering that per-append sorts cannot provide). */
  def appendIvfPqIndex(batch: DataFrame, id: Column, vec: Column,
      path: String, maxFilesPerDir: Int = 0,
      attrs: Seq[Column] = Nil): Unit = {
    val spark = batch.sparkSession
    val root = currentRoot(spark, path)
    val coded = ivfPqEncodeStored(batch, id, vec, root, attrs)
      .localCheckpoint(eager = false)
    coded.repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$root/codes")
    val vecs = batch
      .select(id.as("vec_id"), Similarity.l2Normalize(vec).as("v"))
      .localCheckpoint(eager = false)
    // the sidecar fold rides the vectors write as observed metrics —
    // zero extra batch scans per arrival
    val (toWrite, obsOpt) =
      observeErr(vecs, root, readCentroids(spark, root))
    toWrite.sortWithinPartitions(col("vec_id"))
      .write.mode("append").parquet(s"$root/vectors")
    obsOpt.foreach(o =>
      foldPqErrObserved(spark, root, o, batchId = -1L, dynamic = false))
    maybeCompactFiles(spark, path, maxFilesPerDir,
      touchedPartDirs(coded, "codes", "cell") :+ "vectors",
      root = root)
  }

  /** Encode a batch under a stored IVF-PQ index's FROZEN model:
    * (vec_id, cell, codes) — stored centroids assign, the stored
    * residual codebook encodes; deterministic, so a streaming replay
    * reproduces its rows byte-for-byte. */
  private def ivfPqEncodeStored(batch: DataFrame, id: Column,
      vec: Column, path: String, attrs: Seq[Column] = Nil): DataFrame = {
    val spark = batch.sparkSession
    val cents = readCentroids(spark, path)
    val cb = readCodebook(spark, s"$path/codebook")
    val coded = batch
      .select(id.as("vec_id"), Similarity.l2Normalize(vec).as("v"))
      .withColumn("cell", Similarity.nearestCell(col("v"), cents))
      .select(col("vec_id"), col("cell"),
        Similarity.residualE6(col("v"), col("cell"), cents).as("q"))
      .select(col("vec_id"), col("cell"),
        Similarity.pqCodesExprWide(col("q"), cb).as("codes"))
    // attrs denormalize onto the code rows, matching the build's
    // layout (the writeIvfPqIndex contract: consistent across a
    // store's builds, appends and batch-keyed puts)
    if (attrs.isEmpty) coded
    else coded.join(batch.select(id.as("vec_id") +: attrs: _*),
      Seq("vec_id"))
  }

  /** Idempotently (re)write one micro-batch into a BATCH-KEYED IVF-PQ
    * index: the frozen stored model encodes ([[ivfPqEncodeStored]] —
    * deterministic), and BOTH halves of the layout land under the
    * batch's own partitions via dynamic partition overwrite — codes
    * under (batch_id, cell), full-precision vectors under (batch_id),
    * vec_id-sorted within files so the stage-2 literal-IN rerank keeps
    * its row-group pruning. EXACTLY-once under foreachBatch's
    * at-least-once contract: a replay rewrites its own partitions
    * instead of appending duplicate code/vector rows (which would
    * surface twice in every ADC ranking — the failure mode the plain
    * [[appendIvfPqIndex]] has under replay). */
  def putIvfPqBatch(batch: DataFrame, id: Column, vec: Column,
      path: String, batchId: Long, attrs: Seq[Column] = Nil): Unit = {
    val spark = batch.sparkSession
    val root = currentRoot(spark, path)
    ivfPqEncodeStored(batch, id, vec, root, attrs)
      .withColumn("batch_id", lit(batchId))
      .repartition(col("cell"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "cell").parquet(s"$root/codes")
    val vecs = batch
      .select(id.as("vec_id"), Similarity.l2Normalize(vec).as("v"))
      .localCheckpoint(eager = false)
    val (toWrite, obsOpt) =
      observeErr(vecs, root, readCentroids(spark, root))
    toWrite.withColumn("batch_id", lit(batchId))
      .sortWithinPartitions(col("vec_id"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$root/vectors")
    obsOpt.foreach(o =>
      foldPqErrObserved(spark, root, o, batchId, dynamic = true))
  }

  // The model sidecars below are decoded once per on-disk stamp
  // (StoreFiles.sidecar) and shared between probes: read-only.

  private def readCodebook(spark: SparkSession,
      dir: String): Array[Array[Array[Double]]] =
    StoreFiles.sidecar(spark, dir) { df =>
      val rows = df.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      val cb = Array.ofDim[Double](rows.map(_._1).max + 1,
        rows.map(_._2).max + 1, rows.map(_._3).max + 1)
      rows.foreach { case (m, c, d, x) => cb(m)(c)(d) = x }
      cb
    }

  private def readCentroids(spark: SparkSession,
      path: String): Array[(Int, Array[Double])] =
    StoreFiles.sidecar(spark, s"$path/centroids")(_.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy { case (cell, _) => cell })

  /** The LSH families' (num_planes, dim[, ...]) meta row. */
  private def readMeta(spark: SparkSession, path: String): Row =
    StoreFiles.sidecar(spark, s"$path/meta")(_.head())

  /** ADC top-k against a persisted IVF-PQ index: centroids + codebook
    * are bounded driver reads, the probed cells become a static
    * partition-pruning `cell IN (...)` filter on `codes/`, and scoring
    * is a when-chain of exact-integer table lookups — the scan touches
    * nProbe/nList of the stored code directories and nothing else. */
  def queryIvfPqIndex(spark: SparkSession, path: String,
      query: DataFrame, k: Int, nProbe: Int = 4,
      attrFilter: Option[Column] = None): DataFrame = {
    val root = currentRoot(spark, path) // generation pin (one resolve)
    val cents = readCentroids(spark, root)
    val cb = readCodebook(spark, s"$root/codebook")
    val qv = query
      .select(Similarity.l2Normalize(col(query.columns.head)).as("qv"))
      .head().getSeq[Double](0).toArray
    val tabs = Similarity.ivfPqQueryTabs(qv, cents, cb, nProbe)
    val codes = StoreFiles.dropTombstoned(spark, root,
      attrFilter.foldLeft(StoreFiles.scan(spark, s"$root/codes"))(_.filter(_))
        .filter(col("cell").isin(tabs.map(_._1).toIndexedSeq: _*)), "vec_id")
    Similarity.pqRank(codes.select(col("vec_id"),
      Similarity.ivfPqScoreExpr(col("codes"), tabs).cast("long")
        .as("adc_score")), k)
  }

  /** Multi-query two-stage top-k against a persisted IVF-PQ index: per
    * query, the `nProbe` best stored cells' codes are ADC-scanned (the
    * probed-cell union is a static partition filter; per-(query, cell)
    * distance tables ride the broadcast probe frame as flattened
    * arrays, looked up by `element_at` — no shuffle of the codes), a
    * `rerank`-sized shortlist survives per query (bounded `topk_agg`
    * on the NEGATED integer distance), and stage 2 reads only the
    * shortlisted rows from `vectors/` — the collected ids are pushed
    * as a literal `vec_id IN (...)`, so row-group min/max pruning
    * fires on the vec_id-sorted table (plan-pinned in PlanShapeSpec).
    * Stage-1 IO is nProbe/nList of the corpus at code width — qe32's
    * compressed full scan, pruned.
    *
    * EAGER by contract: materializing the literal-IN shortlist runs
    * the stage-1 Spark jobs AT CALL TIME (not when the returned frame
    * is first consumed), and the result is frozen against index
    * mutations that land after the call — the price of the row-group
    * pruning a lazy broadcast-join plan cannot get. |queries| × rerank
    * must stay serving-sized (guarded by [[MaxShortlistIds]]). */
  def ivfPqKnnJoinIndexed(spark: SparkSession, path: String,
      queries: DataFrame, qid: Column, qvec: Column, k: Int,
      nProbe: Int = 8, rerank: Int = 50,
      attrFilter: Option[Column] = None): DataFrame = {
    // bounded collect: a query batch is evaluation-sized by contract
    // (the knnJoin broadcast assumption, materialized driver-side);
    // the limit rides BEFORE the collect so an over-contract batch
    // fails at the ceiling, not as a driver OOM mid-transfer
    val qRows = collectQueryBatch(
        queries.select(qid.cast("long").as("query_id"),
          Similarity.l2Normalize(qvec).as("qv")), perQuery = rerank)
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    ivfPqRerankedFrame(spark, path, qRows, nProbe, rerank, attrFilter)
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate
        .topk(col("cos"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("query_id"), col("p.id").as("vec_id"),
        col("p.score").as("cos"), (col("r") + 1).cast("long").as("rank"))
  }

  /** Ceiling on the driver-collected shortlist (|queries| × rerank ids)
    * of the two-stage probes — the serving-batch contract as a loud,
    * named failure instead of a driver OOM when someone feeds a
    * corpus-scale query batch. */
  val MaxShortlistIds: Long = 1L << 20

  /** Collect a query batch with the limit BEFORE the collect (the
    * [[LexIndex.phraseKnnJoinIndexed]] guard shape, uniform across all
    * six batch probes): at most `maxRows + 1` rows ever transfer, and
    * the sentinel +1 row turns an over-contract batch into a loud
    * failure naming the ceiling — instead of a corpus-sized frame
    * OOMing the driver before a require after the transfer could
    * fire. `perQuery` is what each query costs against
    * [[MaxShortlistIds]] (its rerank/shortlist size, or k for the
    * single-stage probes). */
  private def collectQueryBatch(queries: DataFrame,
      perQuery: Int): Array[org.apache.spark.sql.Row] = {
    val maxRows = (MaxShortlistIds / math.max(perQuery, 1)).toInt
    val rows = queries.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"query batch holds over $maxRows rows at $perQuery result ids " +
        s"per query — over the $MaxShortlistIds serving-batch " +
        "ceiling; split the query batch into smaller probe calls " +
        "instead of one driver-sized collect")
    rows
  }

  /** Stage 2 of [[ivfPqKnnJoinIndexed]] as a frame: the shortlisted
    * rows at full precision — (query_id, vec_id, srk, cos) with `srk`
    * the 1-based ADC shortlist rank (so an operating-point sweep can
    * re-cut the same frame at several shortlist sizes; qe39). The
    * per-query shortlists COLLECT (bounded by contract:
    * |queries| × rerank ids — the same driver-sizing that collected
    * qRows) so the full-precision read is a LITERAL `vec_id IN (...)`
    * pushed into the vectors/ scan. A broadcast join here would still
    * open every row group of the full corpus table — min/max row-group
    * pruning only fires on literal predicates (the
    * queryQuantizedIndex/queryBinaryIndex discipline); with the
    * literal, stage 2 reads only the row groups holding shortlisted
    * ids (vectors/ is vec_id-sorted). */
  private[graft] def ivfPqRerankedFrame(spark: SparkSession,
      path: String, qRows: Array[(Long, Array[Double])], nProbe: Int,
      rerank: Int, attrFilter: Option[Column] = None): DataFrame = {
    // resolution is idempotent (a generation root has no pointer), so
    // both the public entry and this frame may resolve — stage 1 and
    // stage 2 then read the SAME pinned generation
    val root = currentRoot(spark, path)
    require(qRows.length.toLong * rerank <= MaxShortlistIds,
      s"two-stage shortlist is ${qRows.length} queries x $rerank ids — " +
        s"over the $MaxShortlistIds serving-batch ceiling; split the " +
        "query batch into smaller probe calls instead of one " +
        "driver-sized collect")
    val shortTriples = ivfPqShortlistFrame(spark, root, qRows, nProbe,
        rerank, attrFilter)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val shortIds = shortTriples.map(_._2).distinct.toIndexedSeq
    import spark.implicits._
    val pairsDf = shortTriples.toSeq.toDF("query_id", "vec_id", "srk")
    val qvDf = qRows.toSeq.toDF("query_id", "qv")
    StoreFiles.scan(spark, s"$root/vectors")
      .filter(col("vec_id").isin(shortIds: _*))
      .join(broadcast(pairsDf), Seq("vec_id"))
      .join(broadcast(qvDf), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("srk"),
        round(Similarity.dot(col("v"), col("qv")), 4).as("cos"))
  }

  /** Stage 1 of [[ivfPqKnnJoinIndexed]] as a frame: the per-query
    * `rerank`-sized ADC shortlists (query_id, vec_id, srk — the
    * 1-based ADC rank) over the probed cells — the probed-cell union a
    * static partition filter, the per-(query, cell) distance tables
    * riding the broadcast probe frame, the shortlist a bounded
    * `topk_agg`. Exposed (like [[lshCandidates]]) so the pruning +
    * broadcast shape is plan-testable despite the public method
    * collecting it. */
  private[graft] def ivfPqShortlistFrame(spark: SparkSession,
      path: String, qRows: Array[(Long, Array[Double])], nProbe: Int,
      rerank: Int, attrFilter: Option[Column] = None): DataFrame = {
    val root = currentRoot(spark, path) // idempotent re-resolve
    val cents = readCentroids(spark, root)
    val cb = readCodebook(spark, s"$root/codebook")
    val numSub = cb.length; val cbSize = cb(0).length
    val probeRows = qRows.flatMap { case (q, qv) =>
      Similarity.ivfPqQueryTabs(qv, cents, cb, nProbe).map {
        case (cell, tab) => (q, cell, tab.flatten.toSeq)
      }
    }.toSeq
    import spark.implicits._
    val probes = probeRows.toDF("query_id", "cell", "qtab")
    val probedCells = probeRows.map(_._2).distinct.toIndexedSeq
    // attrFilter (over writeIvfPqIndex `attrs` columns) rides the SAME
    // pruned stage-1 scan — pushed to parquet next to the cell pruning,
    // so a filtered top-k restricts candidates BEFORE the shortlist
    // (post-filtering the top-k would return < k rows) and stage 2
    // inherits the already-filtered shortlist for free
    val codes = StoreFiles.dropTombstoned(spark, root,
      attrFilter.foldLeft(StoreFiles.scan(spark, s"$root/codes"))(_.filter(_))
        .filter(col("cell").isin(probedCells: _*)), "vec_id")
    val adc = (0 until numSub).map(m =>
        element_at(col("qtab"),
          lit(m * cbSize) + element_at(col("codes"), m + 1) + lit(1)))
      .reduce(_ + _)
    codes.join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("vec_id"), (-adc).as("nadc"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate
        .topk(col("nadc"), col("vec_id"), rerank).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("query_id"), col("p.id").as("vec_id"),
        (col("r") + 1).cast("long").as("srk"))
  }
}
