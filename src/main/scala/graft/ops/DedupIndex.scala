package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted dedup indexes: the incremental-arrival path for corpus
  * deduplication. The batch operators in [[Dedup]] re-fingerprint the
  * whole corpus per run; at 100 TB, new data arrives in batches that are
  * a tiny fraction of the corpus, and re-scanning everything per arrival
  * is the cost that kills the pipeline. The index is built ONCE (one
  * corpus scan), persisted as plain parquet, appended to as batches are
  * accepted, and each new batch probes it with scans bounded by the
  * batch — never by the corpus.
  *
  * Layout (all plain parquet, no external service):
  *   `<path>/exact/`   fp (content md5), doc_id — partitioned by `pfx`
  *                     (first 2 fp hex chars, 256 directories) so a
  *                     small batch's probe prunes to the partitions its
  *                     own prefixes name
  *   `<path>/lanes/`   doc_id, l0..l{n-1} portable MinHash lanes
  *                     (unsigned-32 values stored as long; `%08x` of a
  *                     lane is the original md5 8-hex slice)
  *   `<path>/bands/`   doc_id, band, bucket — partitioned by band
  *   `<path>/meta/`    num_lanes, rows_per_band sidecar
  *
  * Every hash is the engine-portable md5 form ([[Dedup.portableLanes]]),
  * so an external engine can rebuild the exact index content — the whole
  * incremental path is oracle-checkable, stored bytes included.
  */
object DedupIndex {

  /** The partition value is "x" + the first `width` fp hex chars — the
    * letter prefix keeps Hive partition-column TYPE INFERENCE from
    * reading an all-digit directory set ("42", "98", …) as integers on
    * one run and strings on the next (a mixed-type read then fails
    * casting "6d"). The width is chosen at build time from the corpus
    * size ([[StoreFiles.pfxWidthFor]]) and inferred from the directory
    * names everywhere else, so probes always derive prefixes under the
    * width the store was actually written with. */
  private def withFp(docs: DataFrame, id: Column, text: Column,
      width: Int): DataFrame =
    docs.select(id.as("doc_id"),
        TextAnalysis.fingerprint(text).as("fp"))
      .withColumn("pfx", concat(lit("x"), substring(col("fp"), 1, width)))

  /** The exact store's built prefix width, from its directory names
    * (2 when the store is empty/legacy — the pre-adaptive constant). */
  private def exactPfxWidth(spark: SparkSession, path: String): Int =
    StoreFiles.prefixWidth(spark, s"$path/exact", "pfx").getOrElse(2)

  /** Build + persist the exact-fingerprint index: one corpus scan (plus
    * one column-pruned count that sizes the partition fan-out — 16
    * directories below 100k docs, 256 above, so a small store is not
    * carved into 256 near-empty files whose listings then dominate
    * every probe). The pre-write `repartition(pfx)` clusters each
    * prefix into one file per shuffle partition — without it a
    * 1000-task scan writes 1000×256 tiny files and the write
    * dominates. */
  def writeExactIndex(docs: DataFrame, id: Column, text: Column,
      path: String): Unit =
    withFp(docs, id, text,
        StoreFiles.pfxWidthFor(docs.count()))
      .repartition(col("pfx"))
      .write.mode("overwrite").partitionBy("pfx").parquet(s"$path/exact")

  /** Append an accepted batch's fingerprints to the index (prefix
    * width inferred from the store — an append can never band a
    * different layout than the base build). */
  def appendExact(batch: DataFrame, id: Column, text: Column,
      path: String): Unit =
    withFp(batch, id, text,
        exactPfxWidth(batch.sparkSession, path))
      .repartition(col("pfx"))
      .write.mode("append").partitionBy("pfx").parquet(s"$path/exact")

  /** Filter a new batch down to documents whose content fingerprint is
    * NOT already in the index. Returns (doc_id, fp) of the new docs.
    *
    * Scale shape: the batch's distinct prefixes (≤ 256 values — a
    * driver-sized set by construction) become a STATIC partition filter
    * on the index read, so a small batch touches only the index
    * directories its own hashes name; the anti-join then shuffles the
    * pruned index slice and the batch on fp. The corpus text is never
    * re-read — only its stored 32-byte fingerprints. */
  def newOnly(spark: SparkSession, batch: DataFrame, id: Column,
      text: Column, path: String): DataFrame = {
    val b = withFp(batch, id, text, exactPfxWidth(spark, path))
      .localCheckpoint(eager = false)
    val pfxs = b.select(col("pfx")).distinct().collect()
      .map(_.getString(0)).toSeq
    val idx = StoreFiles.dropTombstoned(spark, path,
      StoreFiles.scan(spark, s"$path/exact")
        .filter(col("pfx").isin(pfxs: _*)), "doc_id")
    b.join(idx.select(col("pfx"), col("fp")), Seq("pfx", "fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
  }

  /** Tombstone-delete documents from the index: the ids land in a
    * sidecar every probe anti-joins, so a deleted doc immediately stops
    * blocking new arrivals (exact) and stops surfacing as a near-dup
    * partner (minhash) — identical probe results to an index rebuilt
    * without the docs (StoreSpec pins both). The fingerprint/lane/band
    * rows stay on disk until [[compact]] drops them physically.
    * Idempotent by construction (re-deleting appends duplicate
    * tombstone ids; anti-joins don't care). */
  def deleteDocs(spark: SparkSession, path: String, ids: DataFrame,
      id: Column): Unit =
    ids.select(id.as("doc_id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")

  /** Compact the index: physically drop tombstoned rows from every
    * sub-table that exists (exact fingerprints, minhash lanes, banded
    * buckets), collapse the per-batch small files the appends left in
    * each partition directory, and clear the tombstone sidecar. Probe
    * results are unchanged; probe cost drops (fewer files opened per
    * pruned partition, no anti-join). The cluster map is NOT touched —
    * its lifecycle is [[refreshClusterMap]]'s coverage contract.
    * Contract: writers quiesced during the rename swaps. */
  def compact(spark: SparkSession, path: String): Unit = {
    def sub(name: String, partition: Option[String]): Unit =
      if (StoreFiles.exists(spark, s"$path/$name"))
        StoreFiles.replaceDir(spark, s"$path/$name") { tmp =>
          val live = StoreFiles.dropTombstoned(spark, path,
            StoreFiles.scan(spark, s"$path/$name"), "doc_id")
          partition match {
            case Some(p) => live.repartition(col(p))
              .write.partitionBy(p).parquet(tmp)
            // unpartitioned sub-table (lanes): doc-count-sized, so
            // rewrite at the session's shuffle parallelism — never 1
            case None => live.repartition(
                spark.sessionState.conf.numShufflePartitions)
              .write.parquet(tmp)
          }
        }
    sub("exact", Some("pfx"))
    sub("lanes", None)
    sub("bands", Some("band"))
    StoreFiles.delete(spark, s"$path/tombstones")
  }

  /** Build + persist the near-dup (MinHash band) index: portable lanes
    * for estimation plus banded buckets for candidate probing, band as
    * the partition key so a probe that hits few bands reads few
    * directories. One corpus scan feeds both tables. */
  def writeMinhashIndex(docs: DataFrame, id: Column, text: Column,
      path: String, numLanes: Int = 8, rowsPerBand: Int = 2): Unit = {
    val sig = Dedup.portableLanes(docs, id, lit(true), text, numLanes)
      .localCheckpoint(eager = false)
    sig.drop("block")
      .write.mode("overwrite").parquet(s"$path/lanes")
    Dedup.portableBanded(sig, numLanes, rowsPerBand)
      .drop("block")
      .repartition(col("band"))
      .write.mode("overwrite").partitionBy("band").parquet(s"$path/bands")
    docs.sparkSession.createDataFrame(Seq((numLanes, rowsPerBand)))
      .toDF("num_lanes", "rows_per_band")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** The minhash index's (num_lanes, rows_per_band). */
  private def readMeta(spark: SparkSession, path: String): (Int, Int) =
    StoreFiles.sidecar(spark, s"$path/meta") { df =>
      val m = df.head()
      (m.getInt(0), m.getInt(1))
    }

  /** Append an accepted batch's lanes + banded buckets to the minhash
    * index (the near-dup twin of [[appendExact]]): one batch scan feeds
    * both tables, band partitioning preserved so later probes stay
    * pruned. Lane/band parameters come from the index's own meta
    * sidecar — callers can't accidentally append with a different
    * sketch shape. */
  def appendMinhash(batch: DataFrame, id: Column, text: Column,
      path: String): Unit = {
    val spark = batch.sparkSession
    val (numLanes, rowsPerBand) = readMeta(spark, path)
    val sig = Dedup.portableLanes(batch, id, lit(true), text, numLanes)
      .localCheckpoint(eager = false)
    sig.drop("block")
      .write.mode("append").parquet(s"$path/lanes")
    Dedup.portableBanded(sig, numLanes, rowsPerBand)
      .drop("block")
      .repartition(col("band"))
      .write.mode("append").partitionBy("band").parquet(s"$path/bands")
  }

  /** Near-dup pairs of a new batch AGAINST the indexed corpus:
    * candidates from the banded equi-join (batch bands × index bands),
    * similarity ESTIMATED from stored lane agreement — est_e4 =
    * floor(matching_lanes / num_lanes · 1e4) — since the index stores
    * sketches, not text (estimation error ~1/√lanes; raise `numLanes`
    * at build time for tighter bounds, or re-verify survivors against
    * the corpus text as a second stage). Returns
    * (batch_doc, index_doc, est_e4) with est ≥ `minEstimate`.
    *
    * Scale shape: batch bands are batch-sized, the join against the
    * band-partitioned index shuffles only bucket-matched rows, and the
    * lane join touches index lanes only for candidate ids. */
  /** Build + persist the near-dup CLUSTER MAP: the write-once,
    * probe-many artifact for every downstream consumer of duplicate
    * clusters (canonical selection, leak-free splits, curation) —
    * nobody re-runs pair generation and connected components per
    * downstream query at 100 TB; they join a stored (doc_id, cluster)
    * table.
    *
    * Layout: `<path>/pairs/` (doc_a, doc_b — the verified near-dup
    * edges, kept so alternative clustering algorithms can re-derive
    * labels without re-running the pair join) and `<path>/clusters/`
    * (doc_id, cluster = the component's min doc id, only docs that
    * appear in some pair — singleton docs are their own cluster by
    * convention, which probes express as coalesce(cluster, doc_id)).
    * The pairs are written FIRST and clustering reads them back from
    * parquet, so the (expensive) pair join executes exactly once even
    * though the label loop iterates over the edge set. Both tables are
    * doc-count-sized, not corpus-sized. */
  def writeClusterMap(pairs: DataFrame, a: Column, b: Column,
      path: String): Unit = {
    val spark = pairs.sparkSession
    pairs.select(a.as("doc_a"), b.as("doc_b"))
      .write.mode("overwrite").parquet(s"$path/pairs")
    val stored = StoreFiles.scan(spark, s"$path/pairs")
    // small edge sets (the count is a parquet-metadata read — the
    // pairs just landed on disk, so probing the size re-runs no pair
    // generation) resolve with the driver-side union-find instead of
    // the iterative propagation's per-round checkpoint + count jobs;
    // past the cap, the distributed loop runs unchanged. Labels are
    // identical either way (component minimum for every paired doc).
    val labels =
      if (stored.count() <= MergeDriverEdgeCap) {
        val edges = stored.collect()
          .map(r => (r.get(0).asInstanceOf[Number].longValue,
            r.get(1).asInstanceOf[Number].longValue))
        import spark.implicits._
        unionFindLabels(edges).toDF("doc_id", "cluster")
      } else Dedup.dupClusters(stored, col("doc_a"), col("doc_b"))
    labels.write.mode("overwrite").parquet(s"$path/clusters")
    // a full rebuild resets the relabel-patch log: stale patches over
    // a fresh base would relabel components that no longer exist
    StoreFiles.delete(spark, s"$path/patches")
  }

  /** The stored (doc_id, cluster) labels of [[writeClusterMap]], with
    * the relabel-patch log applied — reads stay ONE coalesce deep
    * because [[mergeClusterMap]] keeps the log depth-1 by
    * construction: every appended patch row maps an old label to its
    * FINAL target as of that merge (prior rows whose target moves are
    * re-pointed under a higher seq, and the fold takes the latest row
    * per label). A map with no log (fresh build, or just compacted)
    * reads the base table verbatim. */
  def readClusterMap(spark: SparkSession, path: String): DataFrame = {
    val base = StoreFiles.scan(spark, s"$path/clusters")
    if (!StoreFiles.exists(spark, s"$path/patches")) base
    else base.join(foldedPatches(spark, path),
        base("cluster") === col("old_lab"), "left")
      .select(col("doc_id"),
        coalesce(col("new_lab"), col("cluster")).as("cluster"))
  }

  /** The patch log folded to its latest row per old label — the
    * function reads apply. Patch-log-sized (labels touched since the
    * last compact), never corpus-sized. */
  private def foldedPatches(spark: SparkSession,
      path: String): DataFrame =
    StoreFiles.scan(spark, s"$path/patches")
      .groupBy(col("old_lab"))
      .agg(max_by(col("new_lab"), col("seq")).as("new_lab"))

  /** Materialize the patched labels into the base table and clear the
    * log — the cluster map's compact. Merges stay arrival-sized
    * between compacts; this is where the one corpus-linear label
    * rewrite happens, on the store owner's schedule instead of per
    * arrival. Writers quiesced (the [[StoreFiles.replaceDir]]
    * contract). */
  def compactClusterMap(spark: SparkSession, path: String): Unit =
    if (StoreFiles.exists(spark, s"$path/patches")) {
      StoreFiles.replaceDir(spark, s"$path/clusters") { tmp =>
        readClusterMap(spark, path)
          .repartition(spark.sessionState.conf.numShufflePartitions)
          .write.parquet(tmp)
      }
      StoreFiles.delete(spark, s"$path/patches")
    }

  /** Corpus-coverage sidecar for the cluster map — the STALENESS
    * CONTRACT for long-lived deployments: the map is a write-once
    * artifact derived from a corpus snapshot, and a session must be able
    * to tell when the persisted map no longer covers the corpus it is
    * probed against (docs appended, removed, or edited since the build).
    *
    * `sig` is a per-document signature column the caller chooses —
    * `xxhash64(id, text)` detects edits as well as membership changes;
    * `xxhash64(id)` detects membership only. Coverage stores the doc
    * COUNT and the order-independent XOR of the signatures (bit_xor is
    * commutative/associative, overflow-free, and one map-side-combined
    * aggregation — the check costs one narrow scan, no shuffle beyond a
    * single row per partition). */
  def writeClusterMapCoverage(docs: DataFrame, sig: Column,
      path: String): Unit =
    coverageOf(docs, sig).write.mode("overwrite").parquet(s"$path/coverage")

  private def coverageOf(docs: DataFrame, sig: Column): DataFrame =
    docs.select(xxhash64(sig).as("_s"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(expr("bit_xor(_s)"), lit(0L)).as("corpus_sig"))

  /** True when the corpus no longer matches the coverage the map was
    * built from (or when no coverage was ever recorded — an unknown
    * corpus is stale by definition). */
  def clusterMapIsStale(spark: SparkSession, docs: DataFrame, sig: Column,
      path: String): Boolean = {
    val covPath = new org.apache.hadoop.fs.Path(s"$path/coverage")
    val fs = covPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(covPath)) return true
    val stored = StoreFiles.scan(spark, s"$path/coverage").head()
    val cur = coverageOf(docs, sig).head()
    stored.getLong(0) != cur.getLong(0) || stored.getLong(1) != cur.getLong(1)
  }

  /** Rebuild the cluster map iff the coverage check says the corpus
    * moved; returns true when a rebuild happened. `pairs` is BY-NAME so
    * the expensive pair generation only executes on a genuine refresh —
    * the steady-state call is one coverage scan + a head(). */
  def refreshClusterMap(docs: DataFrame, sig: Column, path: String,
      a: Column, b: Column)(pairs: => DataFrame): Boolean = {
    val spark = docs.sparkSession
    if (!clusterMapIsStale(spark, docs, sig, path)) false
    else {
      // Coverage is signed BEFORE the pair pass runs. On a live corpus
      // directory the two operations scan at different times; signing
      // first makes the race benign in the SAFE direction — a doc that
      // lands between the scans is clustered but not signed, so the
      // map merely reads stale and the next refresh picks it up. The
      // reverse order would sign a doc the map never clustered and
      // mask the gap forever.
      writeClusterMapCoverage(docs, sig, path)
      writeClusterMap(pairs, a, b, path)
      true
    }
  }

  /** The stored verified near-dup edges of [[writeClusterMap]]. */
  def readClusterPairs(spark: SparkSession, path: String): DataFrame =
    StoreFiles.scan(spark, s"$path/pairs")

  /** MERGE an arrival's near-dup edges into the stored cluster map —
    * the scale-safe alternative to [[refreshClusterMap]]'s full
    * rebuild: at 100 TB an arriving batch must not re-run pair
    * generation and connected components over everything it did not
    * touch. The stored labels make the merge cheap: every stored
    * component's label IS its minimum doc id, so contracting each
    * component to its label node is lossless — the new edges project
    * onto current labels ((endpoint → its stored label, or itself
    * when unseen)), min-label propagation runs on that CONTRACTED
    * graph (arrival-neighborhood-sized: its nodes are the labels the
    * arrival touches, its diameter the arrival's bridging depth —
    * never corpus-sized, and edges between same-label endpoints drop
    * out before the loop), and the resulting (old label → new label)
    * map is a broadcast-sized relabel join onto the stored table.
    * Components the arrival doesn't touch keep their rows verbatim;
    * the label table rewrite itself is one linear doc-count-sized
    * columnar pass (the same cost class as any store compact — the
    * bounded part is the ITERATION, which is what blows up on a
    * rebuild). Spec-pinned: stored map + arrival merge == a map
    * rebuilt from the union of pair sets, including arrivals that
    * BRIDGE existing clusters (both components relabel to the joint
    * minimum).
    *
    * The label table is NOT rewritten per arrival (that was one
    * corpus-linear pass per merge — compact's cost class at arrival
    * cadence): the relabel lands as an append-only PATCH LOG
    * (`patches/`: old_lab, new_lab, seq) plus the new docs' base rows,
    * and [[readClusterMap]] applies the folded log with one coalesce.
    * The log stays DEPTH-1 by construction: a merge appends its own
    * relabel rows fully resolved, and RE-POINTS the prior folded rows
    * whose target this merge moves (x → b stored, this merge maps
    * b → c ⇒ append x → c under the new seq) — so no read ever
    * chases a chain. [[compactClusterMap]] materializes the log into
    * the base on the owner's schedule — the rewrite still happens,
    * but once per compact, not once per arrival.
    *
    * Crash ordering: the new edges append to `pairs/` FIRST, the
    * new-doc base rows SECOND, the patch rows THIRD, and `coverage`
    * (the caller's post-arrival corpus snapshot) signs LAST — the
    * INVERSE of [[refreshClusterMap]]'s sign-first order,
    * deliberately: there the pair pass re-derives from a corpus scan
    * AFTER signing, so a doc landing between the scans is merely
    * unsigned-but-clustered (stale-looking, repaired next refresh);
    * here the edges are FIXED INPUTS, so signing first and crashing
    * before the label writes would leave a fresh-looking coverage
    * over labels that lack the arrival — masked forever. Signing last
    * means a crash anywhere leaves pairs ⊇ labels AND coverage stale,
    * so a staleness-gated recovery re-runs the merge, which is
    * IDEMPOTENT on the effective labels: already-merged endpoints
    * share labels, so the contracted graph is empty and no patch is
    * appended; already-appended new docs are in the base, so no base
    * row duplicates; `pairs/` may hold the replayed edges twice —
    * harmless to any rebuild, since duplicate edges don't change
    * components, and cheaper than anti-joining the full corpus-pair
    * table per arrival. */
  def mergeClusterMap(spark: SparkSession, path: String,
      newPairs: DataFrame, a: Column, b: Column,
      coverage: Option[(DataFrame, Column)] = None): Unit = {
    val e = newPairs.select(a.as("doc_a"), b.as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()
      .localCheckpoint()
    e.write.mode("append").parquet(s"$path/pairs")
    // EFFECTIVE labels (base + folded patches): the contracted graph
    // must be built over what reads see, or a second merge would
    // re-derive relabels the log already holds
    val stored = readClusterMap(spark, path)
    val ends = e.select(col("doc_a").as("d"))
      .union(e.select(col("doc_b").as("d"))).distinct()
    // the one corpus-sized scan of the merge: the left join labels
    // each arrival endpoint AND flags the unseen ones (`_new` = no
    // stored row) in the same pass — deriving new docs from this flag
    // instead of a separate anti-join halves the stored-table reads
    val endLab = ends
      .join(stored.withColumnRenamed("doc_id", "d"), Seq("d"), "left")
      .select(col("d"), coalesce(col("cluster"), col("d")).as("lab"),
        col("cluster").isNull.as("_new"))
      .localCheckpoint()
    val labEdges = e
      .join(endLab.select(col("d").as("doc_a"), col("lab").as("la")),
        Seq("doc_a"))
      .join(endLab.select(col("d").as("doc_b"), col("lab").as("lb")),
        Seq("doc_b"))
      .select(col("la"), col("lb"))
      .filter(col("la") =!= col("lb"))
    // identity rows (a component whose label didn't move) add nothing
    // to the log. The contracted graph is arrival-neighborhood-sized
    // by construction, so the steady-state merge resolves it DRIVER-
    // SIDE: one bounded collect + an in-memory union-find replaces the
    // log(diameter) Spark propagation rounds (each a checkpoint + a
    // count job) that dominated the per-arrival cost — the label
    // semantics (component minimum) are identical. A merge whose
    // contracted graph exceeds the cap (a backfill-scale arrival)
    // falls back to the distributed propagation, strategy left to AQE
    // — it must not die on a driver or broadcast ceiling.
    val localEdges =
      labEdges.limit(MergeDriverEdgeCap + 1).collect()
    val (relabel, relabelEmpty) =
      if (localEdges.length <= MergeDriverEdgeCap) {
        val pairs = unionFindMinRelabel(localEdges.map(r =>
          (r.get(0).asInstanceOf[Number].longValue,
            r.get(1).asInstanceOf[Number].longValue)))
        import spark.implicits._
        (pairs.toDF("old_lab", "new_lab"), pairs.isEmpty)
      } else {
        val r = Dedup.dupClusters(labEdges, col("la"), col("lb"))
          .select(col("doc_id").as("old_lab"),
            col("cluster").as("new_lab"))
          .filter(col("old_lab") =!= col("new_lab"))
          .localCheckpoint()
        (r, r.isEmpty)
      }
    // rows for arrival endpoints the map has never seen (their label
    // may come straight from the contracted propagation, or stay
    // themselves when their component didn't shrink below them) land
    // in the BASE, fully resolved as of this merge
    val newRows = endLab.filter(col("_new"))
      .join(relabel, col("lab") === col("old_lab"), "left")
      .select(col("d").as("doc_id"),
        coalesce(col("new_lab"), col("lab")).as("cluster"))
    newRows.write.mode("append").parquet(s"$path/clusters")
    if (!relabelEmpty) {
      val hasLog = StoreFiles.exists(spark, s"$path/patches")
      val seq =
        if (!hasLog) 0L
        else StoreFiles.scan(spark, s"$path/patches")
          .agg(coalesce(max(col("seq")), lit(-1L))).head().getLong(0) + 1L
      // re-point the prior folded rows whose CURRENT target this
      // merge relabels — the depth-1 invariant's maintenance write;
      // joining the folded view (not the raw log) is what keeps a
      // superseded row from resurrecting under the new seq
      val repoint =
        if (!hasLog) relabel.limit(0)
        else foldedPatches(spark, path)
          .withColumnRenamed("new_lab", "cur")
          .join(relabel.withColumnRenamed("old_lab", "cur"), Seq("cur"))
          .select(col("old_lab"), col("new_lab"))
      relabel.unionByName(repoint)
        .withColumn("seq", lit(seq))
        .write.mode("append").parquet(s"$path/patches")
    }
    coverage.foreach { case (docs, sig) =>
      writeClusterMapCoverage(docs, sig, path) }
  }

  /** Contracted-graph size cap for [[mergeClusterMap]]'s driver-side
    * union-find fast path: up to this many label edges collect (≤ ~2 MB
    * of longs) and resolve in memory; beyond it the merge falls back
    * to the distributed propagation. Arrival-cadence merges sit far
    * below this by construction (the contracted nodes are the labels
    * one arrival touches); only backfill-scale merges cross it. */
  private val MergeDriverEdgeCap = 131072

  /** Min-label connected components of a local edge list via
    * union-find — exactly [[Dedup.dupClusters]]' contract: every node
    * appearing in an edge labels to its component minimum. Returns
    * (node, label) for ALL nodes; [[unionFindMinRelabel]] keeps the
    * non-identity rows. */
  private def unionFindLabels(
      edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      // union toward the smaller root: the root IS the running
      // component minimum, so no second min pass is needed
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    val nodes = scala.collection.mutable.LinkedHashSet.empty[Long]
    edges.foreach { case (a, b) => nodes += a; nodes += b }
    nodes.iterator.map(n => (n, find(n))).toSeq
  }

  /** [[unionFindLabels]] cut to the (old → new) relabel pairs the
    * merge's patch log records (identity rows dropped). */
  private def unionFindMinRelabel(
      edges: Array[(Long, Long)]): Seq[(Long, Long)] =
    unionFindLabels(edges).filter(p => p._1 != p._2)

  def nearDupAgainstIndex(spark: SparkSession, batch: DataFrame,
      id: Column, text: Column, path: String,
      minEstimate: Double): DataFrame = {
    val (numLanes, rowsPerBand) = readMeta(spark, path)
    val bSig = Dedup.portableLanes(batch, id, lit(true), text, numLanes)
      .localCheckpoint(eager = false)
    // Lanes ride ON the band frames (both attach joins are
    // doc-count-sized — a few band rows per doc), so the bucket join
    // emits pairs already carrying both lane sets and the ONLY
    // pair-sized operation is one map-side-combined dedup aggregation,
    // with sub-threshold pairs filtered BEFORE the exchange. Honest
    // small-SF numbers (sf0.1, 4.5M pairs): candidate probing drops
    // 5.9 → 1.3 s, the full estimate pass costs ~1 s MORE (8.6 vs
    // 7.6 s) because the old shape's per-pair lane joins were
    // broadcast-hash at this index size — free locally, but three
    // pair-sized exchanges the moment the index outgrows a broadcast.
    // One bounded shuffle regardless of index size is the shape that
    // survives 100 TB (same trade the native as-of join documents).
    val lanes = (0 until numLanes).map(s => s"l$s")
    val bL = bSig.select(col("doc_id").as("batch_doc") +:
      lanes.map(l => col(l).as(s"a_$l")): _*)
    val bBands = Dedup.portableBanded(bSig, numLanes, rowsPerBand)
      .select(col("doc_id").as("batch_doc"), col("band"), col("bucket"))
      .join(bL, "batch_doc")
    val iL = StoreFiles.scan(spark, s"$path/lanes")
      .select(col("doc_id").as("index_doc") +:
        lanes.map(l => col(l).as(s"i_$l")): _*)
    // tombstoned docs drop at the band (candidate) source — one
    // anti-join before the bucket join, so deleted docs can't pair
    val iBands = StoreFiles.dropTombstoned(spark, path,
        StoreFiles.scan(spark, s"$path/bands"), "doc_id")
      .select(col("doc_id").as("index_doc"), col("band"), col("bucket"))
      .join(iL, "index_doc")
    val agree = lanes.map(l =>
      when(col(s"a_$l") === col(s"i_$l"), 1).otherwise(0)).reduce(_ + _)
    bBands.join(iBands, Seq("band", "bucket"))
      .select(col("batch_doc"), col("index_doc"),
        floor(agree.cast("double") / lit(numLanes.toDouble) *
          lit(10000.0)).cast("long").as("est_e4"))
      .filter(col("est_e4") >= math.floor(minEstimate * 10000).toLong)
      .groupBy(col("batch_doc"), col("index_doc"))
      .agg(max(col("est_e4")).as("est_e4"))
  }
}
