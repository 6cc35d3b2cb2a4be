package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 postings/stats index — the LEXICAL twin of the vector
  * index family in [[AnnIndex]]. The in-memory
  * [[TextAnalysis.bm25TopK]] takes literal terms and rescans the corpus
  * per query set — fine for one-off analytics, wrong for a retrieval
  * service: at 100 TB the corpus is tokenized ONCE into a stored
  * postings table and every query is a partition-pruned probe bounded
  * by its own terms' posting lists.
  *
  * Layout (plain parquet):
  *   `<path>/postings/`  term, doc_id, tf, dl — partitioned by `tpfx`
  *                       ("x" + first 2 md5 hex chars of the term, 256
  *                       directories) so a probe prunes to the
  *                       directories its own terms name; `dl` (the
  *                       document token count) is denormalized onto the
  *                       posting row so scoring needs NO doc-side join
  *   `<path>/df/`        term, df — per-term document frequency as
  *                       PARTIAL rows (one per build/append batch,
  *                       NEGATIVE partials on delete), `tpfx`
  *                       partitioned like the postings; partials sum
  *                       associatively so a probe reads only its own
  *                       terms' rows and NEVER re-counts posting lists
  *                       (df is a property of the INDEX, maintained by
  *                       the lifecycle — not recomputed at probe time,
  *                       which would put a skew-prone per-term shuffle
  *                       in the serving path)
  *   `<path>/stats/`     n_docs, total_dl — one PARTIAL row per
  *                       appended batch; both fields sum associatively,
  *                       so `avgdl = Σtotal_dl / Σn_docs` at read time
  *                       and appends never read history (the
  *                       [[SketchStore]] merge-on-read discipline)
  *
  * A term's full posting list (and its df partials) live inside its own
  * partition, so probes never touch global state beyond the tiny stats
  * sidecar. [[appendBm25Index]] makes the lifecycle incremental: a new
  * batch's postings and df partials land in their prefix directories
  * and its stats partial appends blindly; a probe over the appended
  * index is byte-identical to one over a single whole-corpus build
  * (posting rows are the same rows either way and the df partials sum
  * to the same counts — spec-pinned, and qd81 shares qd76's oracle
  * verbatim). */
object LexIndex {

  /** Prefix partition key: "x" + first `width` term-md5 hex chars (the
    * letter guard keeps Hive partition-type inference string-stable,
    * same as [[DedupIndex]]'s fingerprint prefixes). The width is
    * chosen at build time from the corpus size
    * ([[StoreFiles.pfxWidthFor]] — 16 directories small, 256 at scale;
    * a small store carved into 256 × 3 near-empty sub-table
    * directories pays more in listings and file opens than the
    * pruning saves) and inferred from the directory names on every
    * other path, so probes always derive prefixes under the width the
    * store was written with. */
  private def tpfx(term: Column, width: Int): Column =
    concat(lit("x"), substring(md5(term), 1, width))

  /** The store's built prefix width, from its postings directory names
    * (2 when absent — the pre-adaptive constant, so legacy stores keep
    * pruning exactly as built). One driver-side listing, no job. */
  private def storedTpfxWidth(spark: SparkSession, path: String): Int =
    StoreFiles.prefixWidth(spark, s"$path/postings", "tpfx").getOrElse(2)

  /** Build + persist the index: ONE corpus tokenization feeds both the
    * postings table and the stats sidecar. The pre-write
    * `repartition(tpfx)` clusters each prefix into one file per shuffle
    * partition (without it a wide scan writes tasks × 256 tiny files).
    *
    * `positions = true` additionally writes `<path>/positions/`
    * (term, doc_id, pos — the 0-based token index), term-prefix
    * partitioned like the postings, enabling exact-PHRASE probes
    * ([[phraseTopKIndexed]]). BM25 probes never read it; the setting
    * must be consistent across a store's builds and appends. */
  /** `attrs` are extra (pre-aliased) DOC-level attribute columns
    * denormalized onto every posting row — the `dl` discipline applied
    * to filtered retrieval: a probe's `attrFilter` predicate then
    * pushes into the SAME pruned postings scan instead of joining a
    * doc table back in at serving time. Storage pays |postings| × attr
    * width for it (attrs should be small codes, not text); the setting
    * must be consistent across a store's builds and appends. */
  def writeBm25Index(docs: DataFrame, id: Column, text: Column,
      path: String, positions: Boolean = false,
      attrs: Seq[Column] = Nil): Unit =
    writeBatch(docs, id, text, path, mode = "overwrite", positions,
      attrs)

  /** Append a new batch: postings rows and df partials land in their
    * term-prefix directories, the stats partial appends blindly — no
    * history read, no rebuild. Identical probe results to a fresh
    * whole-corpus build because postings(A ∪ B) IS postings(A) ∪
    * postings(B) row-for-row (doc_ids are disjoint across batches) and
    * the df/stats sums are associative. Position rows (when the store
    * carries them) append under the same argument.
    *
    * `maxFilesPerDir` > 0 enforces the small-file policy at append
    * time: when any directory's file count exceeds the threshold
    * ([[StoreFiles.needsFileCompaction]] — a short-circuited listing)
    * the index compacts in place ([[compactBm25Index]]; the appender
    * is the store's single writer, so the quiesce contract holds). */
  def appendBm25Index(batch: DataFrame, id: Column, text: Column,
      path: String, positions: Boolean = false,
      maxFilesPerDir: Int = 0, attrs: Seq[Column] = Nil): Unit = {
    val post = writeBatch(batch, id, text, path, mode = "append",
      positions, attrs)
    val spark = batch.sparkSession
    if (maxFilesPerDir > 0) {
      // the policy walk is bounded to the term-prefix directories this
      // batch actually grew (a micro-batch-sized distinct over the
      // frame the write already materialized) plus the stats sidecar —
      // O(touched) listings at steady state, never a full store walk
      val touched = post.select(col("tpfx")).distinct().collect()
        .map(_.getString(0))
        .flatMap(p => Seq(s"postings/tpfx=$p", s"df/tpfx=$p",
          s"positions/tpfx=$p")).toIndexedSeq :+ "stats"
      if (StoreFiles.needsFileCompaction(spark, path, maxFilesPerDir,
          touched))
        compactBm25Index(spark, path)
    }
  }

  private def tokenized(docs: DataFrame, id: Column, text: Column,
      attrs: Seq[Column] = Nil): DataFrame =
    docs.select(id.as("doc_id") +:
        TextAnalysis.tokens(text).as("toks") +: attrs: _*)
      .withColumn("dl", size(col("toks")).cast("long"))
      .localCheckpoint(eager = false)

  /** Doc-level columns (doc_id, dl, any attrs) carry through the
    * explode onto every posting row; they are functionally dependent
    * on doc_id, so widening the group-by keys changes no counts. */
  private def postingsOf(toks: DataFrame, width: Int): DataFrame = {
    val docCols = toks.columns.filter(_ != "toks").map(col).toSeq
    toks.select(docCols :+ explode(col("toks")).as("term"): _*)
      .groupBy(col("term") +: docCols: _*)
      .agg(count(lit(1)).as("tf"))
      .withColumn("tpfx", tpfx(col("term"), width))
  }

  /** Position rows carry the doc attrs too (dl stays postings-only —
    * phrase matching never needs it), so a filtered phrase probe
    * prunes candidates in its own positions scan. */
  private def positionsOf(toks: DataFrame, width: Int): DataFrame = {
    val attrCols = toks.columns
      .filterNot(c => c == "doc_id" || c == "toks" || c == "dl")
      .map(col).toSeq
    toks.select(col("doc_id") +:
        posexplode(col("toks")).as(Seq("pos", "term")) +: attrCols: _*)
      .select(col("term") +: col("doc_id") +:
        col("pos").cast("long").as("pos") +: attrCols: _*)
      .withColumn("tpfx", tpfx(col("term"), width))
  }

  private def statsOf(toks: DataFrame): DataFrame =
    toks.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))

  /** One df PARTIAL per term in this batch: the batch's posting-list
    * lengths (postings are one row per (term, doc), so a count IS a
    * document frequency). Partials sum associatively across appends
    * and the negative rows [[deleteFromBm25Index]] writes. */
  private def dfOf(postings: DataFrame): DataFrame =
    postings.groupBy(col("term"), col("tpfx"))
      .agg(count(lit(1)).as("df"))

  /** Returns the (lazily checkpointed) postings frame so the append
    * path can derive its touched prefixes without re-tokenizing. */
  private def writeBatch(docs: DataFrame, id: Column, text: Column,
      path: String, mode: String, positions: Boolean,
      attrs: Seq[Column] = Nil): DataFrame = {
    val spark = docs.sparkSession
    // a store either carries df from birth or not at all: appending a
    // df partial to a LEGACY store (built before the sidecar existed)
    // would create a partial-history df/ that probes would then trust
    // — so appends write df only when the store already has it (or is
    // brand new); legacy stores keep the documented window fallback
    val fresh = !StoreFiles.exists(spark, s"$path/postings")
    val writeDf = mode == "overwrite" || fresh ||
      StoreFiles.exists(spark, s"$path/df")
    // fan-out: a fresh build sizes it from the corpus (one
    // column-pruned count); an append derives the built width from the
    // store's own directory names so the layouts can never mix
    val width =
      if (mode == "overwrite" || fresh)
        StoreFiles.pfxWidthFor(docs.count())
      else storedTpfxWidth(spark, path)
    val toks = tokenized(docs, id, text, attrs)
    // the postings frame feeds two writes (rows + df partial): the lazy
    // checkpoint materializes it once at the first write. The df
    // partial lands FIRST: a crash between the two writes then leaves
    // df merely over-counted (idf slightly conservative for the
    // batch's terms — benign staleness, repaired by the next
    // [[compactBm25Index]] recount), whereas postings-first would
    // leave terms whose rows exist but whose df is missing, and the
    // probe's inner df join would silently drop those documents.
    val post = postingsOf(toks, width).localCheckpoint(eager = false)
    if (writeDf)
      dfOf(post).repartition(col("tpfx"))
        .write.mode(mode).partitionBy("tpfx").parquet(s"$path/df")
    post.repartition(col("tpfx"))
      .write.mode(mode).partitionBy("tpfx").parquet(s"$path/postings")
    if (positions)
      positionsOf(toks, width).repartition(col("tpfx"))
        .write.mode(mode).partitionBy("tpfx").parquet(s"$path/positions")
    statsOf(toks).write.mode(mode).parquet(s"$path/stats")
    post
  }

  // ---- batch-keyed writes: the exactly-once streaming layout ----
  //
  // [[appendBm25Index]] is append-only rows + blind stats partials, so
  // a replayed micro-batch would DOUBLE its docs' posting rows (they'd
  // score twice) and over-count the stats sums. Keying every batch's
  // rows by a leading `batch_id` partition and writing with dynamic
  // partition overwrite makes the write idempotent — the [[SketchStore]]
  // / [[AnnIndex.putIvfBatch]] discipline for the lexical index. A
  // store is either batch-keyed (built by [[writeBm25IndexBatchKeyed]],
  // grown by [[putBm25Batch]]) or plain; the layouts don't mix under
  // one path. Probes are layout-agnostic: they name their columns and
  // `tpfx` prunes partitions at either nesting depth.

  /** Base build of a BATCH-KEYED index: everything lands under
    * batch_id = −1 so streamed batches' dynamic overwrites compose. */
  def writeBm25IndexBatchKeyed(docs: DataFrame, id: Column, text: Column,
      path: String, positions: Boolean = false,
      attrs: Seq[Column] = Nil): Unit = {
    val toks = tokenized(docs, id, text, attrs)
    // fresh overwrite: fan-out sized from the corpus (adaptive width)
    val width = StoreFiles.pfxWidthFor(docs.count())
    val post = postingsOf(toks, width).localCheckpoint(eager = false)
    // df FIRST — the [[writeBatch]] crash ordering: postings-first
    // would leave NEW postings paired with the OLD sidecar's partials
    // (silently wrong idf, dropped new-vocabulary terms). NOTE an
    // interrupted overwrite REBUILD is mixed-state either way (two
    // independent overwrites); the recovery contract is re-run the
    // build or [[compactBm25Index]] (its df recount repairs any drift)
    dfOf(post).withColumn("batch_id", lit(-1L))
      .repartition(col("tpfx"))
      .write.mode("overwrite").partitionBy("batch_id", "tpfx")
      .parquet(s"$path/df")
    post.withColumn("batch_id", lit(-1L))
      .repartition(col("tpfx"))
      .write.mode("overwrite").partitionBy("batch_id", "tpfx")
      .parquet(s"$path/postings")
    if (positions)
      positionsOf(toks, width).withColumn("batch_id", lit(-1L))
        .repartition(col("tpfx"))
        .write.mode("overwrite").partitionBy("batch_id", "tpfx")
        .parquet(s"$path/positions")
    statsOf(toks).withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").partitionBy("batch_id")
      .parquet(s"$path/stats")
  }

  /** Idempotently (re)write one micro-batch's postings/positions/stats
    * under its own batch_id partitions: a replay rewrites byte-for-byte
    * (the tokenization is deterministic) instead of doubling posting
    * rows and stats sums, and batch 0 after a checkpoint reset
    * overwrites only partition 0, never the base build at −1. Writes
    * the positional half exactly when the store carries one. */
  def putBm25Batch(batch: DataFrame, id: Column, text: Column,
      path: String, batchId: Long, attrs: Seq[Column] = Nil): Unit = {
    val spark = batch.sparkSession
    // same birth rule as the plain append: a legacy batch-keyed store
    // (no df/) never grows a partial-history sidecar — a brand-new
    // stream-only store creates it with its first batch
    val fresh = !StoreFiles.exists(spark, s"$path/postings")
    val writeDf = fresh || StoreFiles.exists(spark, s"$path/df")
    // a stream-only store sizes its fan-out from its FIRST batch (the
    // one count this put ever pays); later puts infer the built width
    // from the directory names — one driver listing, no job
    val width =
      if (fresh) StoreFiles.pfxWidthFor(batch.count())
      else storedTpfxWidth(spark, path)
    val toks = tokenized(batch, id, text, attrs)
    def put(df: DataFrame, dir: String, pcols: Seq[String]): Unit =
      df.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(pcols: _*).parquet(dir)
    val post = postingsOf(toks, width).localCheckpoint(eager = false)
    // df FIRST — the [[writeBatch]] crash ordering: a crash between
    // the two writes on a df-carrying store must leave df merely
    // over-counted for this batch's terms (benign staleness; the
    // stream's replay overwrites it, compact recounts it), never
    // posting rows whose df rows are missing — [[withDf]]'s inner
    // broadcast join would silently drop those documents from every
    // probe until repair
    if (writeDf)
      put(dfOf(post).repartition(col("tpfx")),
        s"$path/df", Seq("batch_id", "tpfx"))
    put(post.repartition(col("tpfx")),
      s"$path/postings", Seq("batch_id", "tpfx"))
    if (StoreFiles.exists(spark, s"$path/positions"))
      put(positionsOf(toks, width).repartition(col("tpfx")),
        s"$path/positions", Seq("batch_id", "tpfx"))
    put(statsOf(toks), s"$path/stats", Seq("batch_id"))
  }

  /** Fold a batch-keyed index's COMMITTED batches (batch_id < keepFrom,
    * including earlier folds at −1) into the base partition −1;
    * partitions ≥ keepFrom stay untouched so a replay of the one
    * in-flight batch still overwrites only its own partitions —
    * [[SketchStore.compactBatches]]' streaming-safe contract. Posting/
    * position rows concatenate; the stats partials SUM (associative). */
  def compactBm25Batches(spark: SparkSession, path: String,
      keepFrom: Long): Unit = {
    def sub(name: String, pcols: Seq[String],
        fold: DataFrame => DataFrame): Unit =
      if (StoreFiles.exists(spark, s"$path/$name"))
        StoreFiles.replaceDir(spark, s"$path/$name") { tmp =>
          val all = StoreFiles.scan(spark, s"$path/$name")
          fold(all.filter(col("batch_id") < keepFrom).drop("batch_id"))
            .withColumn("batch_id", lit(-1L))
            .unionByName(all.filter(col("batch_id") >= keepFrom))
            .repartition(col(pcols.last))
            .write.partitionBy(pcols: _*).parquet(tmp)
        }
    sub("postings", Seq("batch_id", "tpfx"), identity)
    // df partials of folded batches collapse to one row per term
    sub("df", Seq("batch_id", "tpfx"), d =>
      d.groupBy(col("term"), col("tpfx")).agg(sum(col("df")).as("df")))
    sub("positions", Seq("batch_id", "tpfx"), identity)
    if (StoreFiles.exists(spark, s"$path/stats"))
      StoreFiles.replaceDir(spark, s"$path/stats") { tmp =>
        val all = StoreFiles.scan(spark, s"$path/stats")
        all.filter(col("batch_id") < keepFrom)
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("total_dl")).as("total_dl"))
          .withColumn("batch_id", lit(-1L))
          .unionByName(all.filter(col("batch_id") >= keepFrom))
          .coalesce(1)
          .write.partitionBy("batch_id").parquet(tmp)
      }
  }

  /** Posting rows with a `df` column attached. The stored sidecar's
    * live per-term sums collect driver-side ([[dfSnapshot]] — ≤
    * |terms| rows, the anchor-choice discipline) and broadcast-join in
    * as a LOCAL relation, so neither the posting rows nor any sidecar
    * aggregation ever exchanges by term: df is maintained by the index
    * lifecycle, NEVER recomputed at probe time. The pre-sidecar window
    * derivation (`count over partition by term`) forced every pruned
    * posting row of a term onto one reducer, so a query containing a
    * near-ubiquitous term made that one task corpus-scale. Stores
    * built before the sidecar existed (no `df/` directory) fall back
    * to that legacy window — correct, but carrying the skew hazard;
    * one [[compactBm25Index]] upgrades them (its df RECOUNT creates
    * the sidecar from the live postings). */
  /** Stores whose probes have already logged the legacy df-window
    * warning (log once per store per session, not per probe). Exposed
    * package-private so the spec can assert WHICH stores warned. */
  private[graft] val legacyDfWindowWarned: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val logger =
    org.slf4j.LoggerFactory.getLogger(getClass)

  private def withDf(spark: SparkSession, path: String, post: DataFrame,
      terms: DataFrame, pfxs: Seq[String]): DataFrame =
    if (StoreFiles.exists(spark, s"$path/df")) {
      import spark.implicits._
      val dfLocal = dfSnapshot(spark, path, terms, pfxs).toSeq
        .map { case (t, n) => (t, n.toDouble) }.toDF("term", "df")
      post.join(broadcast(dfLocal), Seq("term"))
    } else {
      // loud, once per store: correct but skew-hazardous at scale — a
      // near-ubiquitous query term funnels its whole pruned posting
      // list through one Window reducer. Without the nudge a legacy
      // store carries the hazard silently forever.
      if (legacyDfWindowWarned.add(path))
        logger.warn(s"BM25 store $path has no df/ sidecar (pre-sidecar " +
          "layout): probes fall back to a per-term window over the " +
          "pruned postings — correct, but a skewed term serializes " +
          "its posting list through one task. Run compactBm25Index " +
          "once to upgrade (its df recount creates the sidecar).")
      post.withColumn("df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("term"))).cast("double"))
    }

  /** Driver snapshot of the probe terms' LIVE df — (term → df) over the
    * pruned sidecar partials, ≤ |terms| rows collected. Used by the
    * phrase probes to pick the rarest anchor term. Pre-sidecar stores
    * fall back to counting pruned, tombstone-filtered posting lists. */
  private def dfSnapshot(spark: SparkSession, path: String,
      terms: DataFrame, pfxs: Seq[String]): Map[String, Long] =
    (if (StoreFiles.exists(spark, s"$path/df"))
       StoreFiles.scan(spark, s"$path/df")
         .filter(col("tpfx").isin(pfxs: _*))
         .join(broadcast(terms.distinct()), Seq("term"))
         .groupBy(col("term")).agg(sum(col("df")).as("df"))
     else {
       val p0 = StoreFiles.scan(spark, s"$path/postings")
         .filter(col("tpfx").isin(pfxs: _*))
         .join(broadcast(terms.distinct()), Seq("term"))
       val p = StoreFiles.dropTombstoned(spark, path, p0, "doc_id")
       p.groupBy(col("term")).agg(count(lit(1)).as("df"))
     })
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap

  /** Merged global stats over all appended partials: `(n_docs, avgdl)`.
    * Both partial fields are exact longs, so the one division equals a
    * whole-corpus `avg(dl)` bit-for-bit — including across the NEGATIVE
    * partials [[deleteFromBm25Index]] appends (sums are associative in
    * both directions). */
  def readStats(spark: SparkSession, path: String): DataFrame =
    mergeStats(StoreFiles.scan(spark, s"$path/stats"))

  private def mergeStats(stats: DataFrame): DataFrame =
    stats.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_dl")).as("total_dl"))
      .select(col("n_docs"),
        (col("total_dl").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))

  /** One posting row's BM25 contribution, given its term's `df` column:
    * the store's [[readStats]] row is decoded once per stamp of
    * `stats/` and bound as literals, so a probe runs no stats job. */
  private def bm25Contrib(spark: SparkSession, path: String, k1: Double,
      b: Double): Column = {
    val st = StoreFiles.sidecar(spark, s"$path/stats")(mergeStats(_).head())
    val nDocs = lit(st.get(0)).cast("long")
    val avgdl = lit(st.get(1)).cast("double")
    val idf = log(lit(1.0) +
      (nDocs.cast("double") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)))
    idf * col("tf").cast("double") * lit(k1 + 1.0) /
      (col("tf").cast("double") + lit(k1) *
        (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
  }

  /** Tombstone-delete documents from the index. Three sidecar writes,
    * no posting rewrite: the doc ids land in `<path>/tombstones/`
    * (probes anti-join it), the global stats SUBTRACT via a negative
    * partial — `(−n_deleted, −Σdl)` appended to the stats table — and
    * the per-term df sidecar subtracts via negative `(term, −count)`
    * partials (one per term the deleted docs contain), all exact
    * because the fields are associative long sums. Each deleted doc's
    * `dl` and terms come from the stored postings themselves, so no
    * original text is needed; that derivation is the lifecycle's one
    * unpruned postings read (doc_id is not the partition key), and it
    * reads pruned COLUMNS (term, tpfx, doc_id, dl) — a delete-time
    * cost, never a probe-time one. Ids already tombstoned (or never
    * indexed) are ignored, so the call is idempotent — a re-delete
    * can't double-subtract. Probe results after a delete equal a
    * from-scratch build without the docs (StoreSpec pins this); the
    * dead rows leave disk at [[compactBm25Index]]. */
  def deleteFromBm25Index(spark: SparkSession, path: String,
      ids: DataFrame, id: Column): Unit = {
    val del0 = ids.select(id.as("doc_id")).distinct()
    val del = StoreFiles.dropTombstoned(spark, path, del0, "doc_id")
      .localCheckpoint()
    // one postings read serves all three writes below
    val deadPost = StoreFiles.scan(spark, s"$path/postings")
      .select(col("term"), col("tpfx"), col("doc_id"), col("dl"))
      .join(del, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val perDoc = deadPost
      .groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .localCheckpoint()
    // tombstones FIRST: a crash between the writes then leaves probes
    // already correct (docs excluded) with stats/df merely stale — and
    // the retry is a no-op (anti-join above), so it can't
    // double-subtract. The reverse order would subtract on every retry.
    // The tombstone row-set is the semi-joined set, not the request, so
    // it covers exactly the docs whose stats get subtracted.
    perDoc.select(col("doc_id"))
      .write.mode("append").parquet(s"$path/tombstones")
    // batch-keyed sidecars keep their layout: negative partials append
    // under the reserved batch_id = -2 partition (never a batch id, so
    // replays and folds can't collide with it)
    val batchKeyed =
      StoreFiles.scan(spark, s"$path/stats").columns.contains("batch_id")
    // repartition by tpfx so the partitioned write lands one file per
    // touched prefix, not one per (task × prefix); a legacy store
    // without df/ never grows one (negatives alone would be nonsense)
    if (StoreFiles.exists(spark, s"$path/df")) {
      val negDf = deadPost.groupBy(col("term"), col("tpfx"))
        .agg((count(lit(1)) * lit(-1L)).as("df"))
        .repartition(col("tpfx"))
      if (batchKeyed)
        negDf.withColumn("batch_id", lit(-2L))
          .write.mode("append").partitionBy("batch_id", "tpfx")
          .parquet(s"$path/df")
      else negDf.write.mode("append").partitionBy("tpfx")
        .parquet(s"$path/df")
    }
    val neg = perDoc
      .agg((count(lit(1)) * lit(-1L)).as("n_docs"),
        coalesce(sum(col("dl")) * lit(-1L), lit(0L)).as("total_dl"))
    if (batchKeyed)
      neg.withColumn("batch_id", lit(-2L))
        .write.mode("append").partitionBy("batch_id")
        .parquet(s"$path/stats")
    else neg.write.mode("append").parquet(s"$path/stats")
  }

  /** Compact the index: physically drop tombstoned postings, collapse
    * the per-batch small files each append left in every term-prefix
    * directory (one file per prefix after the repartition), fold the
    * stats partials — positives and negatives — into one canonical row,
    * and clear the tombstone sidecar. Probe results are unchanged
    * (StoreSpec pre/post equality); probe COST drops because the
    * pruned read opens one file per prefix and skips the anti-join.
    * Contract: writers quiesced during the rename swaps
    * ([[StoreFiles.replaceDir]]).
    *
    * `backfillAttrs` UPGRADES a store built without attribute columns
    * to the filtered-serving layout WITHOUT a corpus rebuild — the one
    * upgrade a 100 TB store can't get any other way (the attr contract
    * is consistent-from-birth otherwise; see [[writeBm25Index]]). The
    * frame is (doc_id, attr...) with doc_id unique; its columns join
    * onto every live posting AND position row during the rewrite
    * compaction already does — no extra pass, one doc-keyed join
    * against a table orders of magnitude smaller than the corpus.
    * After the compact, probes accept `attrFilter` over the new
    * columns exactly as if the store had been built with them
    * (spec-pinned identity), and subsequent appends/puts must carry
    * matching `attrs` (the same consistency contract as a born-with
    * store). Docs missing from the frame keep NULL attrs — they then
    * fail every non-null-safe attrFilter, so cover the corpus. */
  def compactBm25Index(spark: SparkSession, path: String,
      backfillAttrs: Option[DataFrame] = None): Unit = {
    val attrF = backfillAttrs.map { a =>
      require(a.columns.contains("doc_id"),
        "backfillAttrs needs a doc_id join column")
      val reserved = Set("term", "tf", "dl", "tpfx", "pos", "batch_id")
      val clash = a.columns.filter(reserved.contains)
      require(clash.isEmpty,
        s"backfillAttrs columns collide with index columns: " +
          clash.mkString(", "))
      // a duplicate doc_id would MULTIPLY posting rows (and corrupt
      // the df recount below) — one aggregation over the attr table
      // (compaction-time cost, tiny next to the rewrite) rules it out
      val c = a.agg(count(lit(1)).as("n"),
        countDistinct(col("doc_id")).as("nd")).head()
      require(c.getLong(0) == c.getLong(1),
        "backfillAttrs has duplicate doc_id rows")
      a.localCheckpoint(eager = false)
    }
    def prefixSub(name: String): Unit =
      if (StoreFiles.exists(spark, s"$path/$name"))
        StoreFiles.replaceDir(spark, s"$path/$name") { tmp =>
          val live0 = StoreFiles.scan(spark, s"$path/$name")
          val live1 = StoreFiles.dropTombstoned(spark, path, live0, "doc_id")
          val live = attrF.fold(live1)(a =>
            live1.join(a, Seq("doc_id"), "left"))
          // batch-keyed stores keep their layout (everything folds to
          // partition -1) so later per-batch overwrites still compose
          if (live.columns.contains("batch_id"))
            live.drop("batch_id").withColumn("batch_id", lit(-1L))
              .repartition(col("tpfx"))
              .write.partitionBy("batch_id", "tpfx").parquet(tmp)
          else live.repartition(col("tpfx"))
            .write.partitionBy("tpfx").parquet(tmp)
        }
    prefixSub("postings")
    prefixSub("positions")
    // df is RECOUNTED from the just-compacted live postings, not
    // folded from the partials: the recount equals the fold whenever
    // the sidecar is in sync (spec-pinned), REPAIRS it when it is not
    // (a crash between an append's two writes leaves drift that a
    // fold would preserve forever — compaction is the repair path),
    // and CREATES the sidecar on a legacy store, making
    // compact-then-probe the real upgrade path off the window
    // fallback. Costs one extra aggregation over postings compaction
    // already rewrote.
    StoreFiles.replaceDir(spark, s"$path/df") { tmp =>
      val live = StoreFiles.scan(spark, s"$path/postings")
      val fresh = dfOf(live.select(col("term"), col("tpfx")))
      if (live.columns.contains("batch_id"))
        fresh.withColumn("batch_id", lit(-1L))
          .repartition(col("tpfx"))
          .write.partitionBy("batch_id", "tpfx").parquet(tmp)
      else fresh.repartition(col("tpfx"))
        .write.partitionBy("tpfx").parquet(tmp)
    }
    StoreFiles.replaceDir(spark, s"$path/stats") { tmp =>
      val all = StoreFiles.scan(spark, s"$path/stats")
      val folded = all
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("total_dl")).as("total_dl"))
      if (all.columns.contains("batch_id"))
        folded.withColumn("batch_id", lit(-1L)).coalesce(1)
          .write.partitionBy("batch_id").parquet(tmp)
      else folded.coalesce(1).write.parquet(tmp)
    }
    StoreFiles.delete(spark, s"$path/tombstones")
  }

  /** BM25 (Okapi, `ln(1 + (N - df + 0.5)/(df + 0.5))` idf) top-k against
    * the PERSISTED index, with query terms AS A TABLE — the
    * parameterized service shape ([[TextAnalysis.bm25TopK]]'s literal
    * list becomes a probe join).
    *
    * Scale shape: the terms' distinct prefixes (≤ |terms|, a
    * driver-sized set by construction) become a static partition filter
    * on the postings read, so a probe touches only the directories its
    * own terms name; df broadcast-joins in from the lifecycle-maintained
    * `df/` sidecar (never recomputed — see [[withDf]]), the one-row
    * stats sidecar binds as literals, and the top-k is a TakeOrdered over
    * match-bounded rows. Nothing corpus-sized is read or shuffled, and
    * no per-term shuffle exists for a skewed term to serialize.
    *
    * Scoring: each (doc, term) contribution floors to 1e-4 units (long)
    * BEFORE the per-doc sum, so the score is exact integer math —
    * independent of aggregation order and engine (the float-sum
    * discipline of the oracle family). Only documents containing at
    * least one query term are scored: an index probe never enumerates
    * the rest of the corpus — that is the point of the index. Output:
    * (doc_id, score_e4), score desc / id asc, k rows. */
  def bm25TopKIndexed(spark: SparkSession, path: String, terms: DataFrame,
      term: Column, k: Int, k1: Double = 1.2, b: Double = 0.75,
      attrFilter: Option[Column] = None): DataFrame = {
    val tq = terms.select(term.as("term")).distinct()
      .withColumn("tpfx", tpfx(col("term"), storedTpfxWidth(spark, path)))
      .localCheckpoint(eager = false)
    val pfxs = tq.select(col("tpfx")).distinct().collect()
      .map(_.getString(0)).toSeq
    val post0 = StoreFiles.scan(spark, s"$path/postings")
      .filter(col("tpfx").isin(pfxs: _*))
      .join(broadcast(tq.select(col("term"))), Seq("term"))
    // tombstoned docs drop BEFORE the df window, so both df and the
    // scored set equal a from-scratch build without the deleted docs
    val post = StoreFiles.dropTombstoned(spark, path, post0, "doc_id")
    val contrib = bm25Contrib(spark, path, k1, b)
    // attrFilter (over writeBm25Index `attrs` columns) restricts the
    // CANDIDATE documents — applied ABOVE the df derivation so idf
    // stays GLOBAL on EVERY layout: with the sidecar df is corpus-wide
    // by construction, and on a legacy store the per-term window must
    // count the UNfiltered pruned posting list (filter-below-window
    // would make the same query score differently on the two layouts).
    // Catalyst still pushes the predicate through the sidecar path's
    // broadcast join into the SAME pruned parquet scan (plan-pinned);
    // on the legacy path the Window correctly blocks the pushdown.
    attrFilter
      .foldLeft(withDf(spark, path, post, tq.select(col("term")), pfxs))(
        _.filter(_))
      .select(col("doc_id"),
        floor(contrib * lit(10000.0)).cast("long").as("c_e4"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c_e4")).as("score_e4"))
      .orderBy(col("score_e4").desc, col("doc_id"))
      .limit(k)
  }

  /** MULTI-query BM25 top-k against the persisted index: queries
    * arrive as a (query_id, term) TABLE and every query's top-k is
    * answered in ONE probe — the batch-serving twin of
    * [[bm25TopKIndexed]] (one query's terms) and the lexical twin of
    * [[AnnIndex.ivfKnnJoinIndexed]]'s multi-query vector probe.
    *
    * Scale shape: the UNION of all queries' term prefixes (driver-
    * sized — a query batch is bounded by contract, like the vector
    * side's collected qRows) becomes one static partition filter, so
    * the postings read is pruned once for the whole batch and each
    * stored row is read ONCE no matter how many queries share a term.
    * df broadcast-joins in from the lifecycle-maintained `df/` sidecar
    * (over DISTINCT terms, BEFORE the per-query fan-out — see
    * [[withDf]]), the query fan-out is a broadcast join of the tiny
    * (query_id, term) frame, and the per-query top-k is a bounded
    * `topk_agg` — no corpus-sized shuffle, no Window anywhere.
    *
    * Scoring is [[bm25TopKIndexed]]'s exact-integer math verbatim
    * (per-(doc, term) contributions floored to 1e-4 units before the
    * per-(query, doc) sum). Output: (query_id, doc_id, score_e4,
    * rank), rank 1-based per query (score desc, doc_id asc). */
  def bm25KnnJoinIndexed(spark: SparkSession, path: String,
      queries: DataFrame, qid: Column, term: Column, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      attrFilter: Option[Column] = None): DataFrame = {
    val qt = queries.select(qid.cast("long").as("query_id"),
        term.as("term")).distinct()
      .localCheckpoint() // read once, serve prefixes + fan-out
    val tq = qt.select(col("term")).distinct()
      .withColumn("tpfx", tpfx(col("term"), storedTpfxWidth(spark, path)))
      .localCheckpoint(eager = false)
    val pfxs = tq.select(col("tpfx")).distinct().collect()
      .map(_.getString(0)).toSeq
    val post0 = StoreFiles.scan(spark, s"$path/postings")
      .filter(col("tpfx").isin(pfxs: _*))
      .join(broadcast(tq.select(col("term"))), Seq("term"))
    val post = StoreFiles.dropTombstoned(spark, path, post0, "doc_id")
    val contrib = bm25Contrib(spark, path, k1, b)
    // candidate docs restricted ABOVE the df derivation, global idf on
    // every layout — the [[bm25TopKIndexed]] attrFilter contract for
    // the whole batch (pushdown still reaches the pruned scan through
    // the sidecar path's broadcast join; the legacy window blocks it)
    attrFilter
      .foldLeft(withDf(spark, path, post, tq.select(col("term")), pfxs))(
        _.filter(_))
      .select(col("term"), col("doc_id"),
        floor(contrib * lit(10000.0)).cast("long").as("c_e4"))
      .join(broadcast(qt), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c_e4")).as("score_e4"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate
        .topk(col("score_e4").cast("double"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("query_id"), col("p.id").as("doc_id"),
        col("p.score").cast("long").as("score_e4"),
        (col("r") + 1).cast("long").as("rank"))
  }

  /** Exact-PHRASE search against the positional index: documents
    * containing the token sequence `phrase` verbatim, ranked by
    * occurrence count (ties to the lower doc_id). The classic
    * positional-postings algorithm as one aggregation: each term's
    * stored (doc_id, pos) rows shift to the phrase start they would
    * witness (`start = pos − offset`), and a start where ALL
    * `phrase.length` distinct offsets appear is a match — repeated
    * phrase words work because the count is per DISTINCT offset.
    *
    * Scale shape: the phrase's term prefixes prune the positions read
    * to the directories its own words name (the [[bm25TopKIndexed]]
    * discipline), and the intersection runs RAREST-term-first: the
    * phrase term with the smallest stored df (read from the postings
    * half — a pruned, ≤ |phrase|-row aggregate) anchors the candidate
    * (doc_id, start) set, and every other term's shifted positions
    * semi-join that broadcast set BEFORE the offset-counting
    * aggregation. A full match must witness the rare term at its
    * offset, so the semi-join loses nothing — but a phrase containing
    * a near-ubiquitous token no longer shuffles that token's
    * corpus-scale position list into the group-by: only rows landing
    * on a rare-anchored start survive the (broadcast) semi-join. The
    * candidate set is bounded by the MINIMUM df over the phrase's
    * terms — the broadcast contract; a phrase whose rarest term is
    * still corpus-scale has no selective plan in any engine, and the
    * absent-term case (df 0) short-circuits to an empty result. The
    * final rank is a TakeOrdered over match-bearing docs only.
    * Tombstoned docs drop before grouping, so a probe equals one over
    * an index built without them. */
  def phraseTopKIndexed(spark: SparkSession, path: String,
      phrase: Seq[String], k: Int,
      attrFilter: Option[Column] = None): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    import spark.implicits._
    val ph = phrase.zipWithIndex.map { case (w, i) => (w, i.toLong) }
      .toDF("term", "off")
      .withColumn("tpfx", tpfx(col("term"), storedTpfxWidth(spark, path)))
      .localCheckpoint(eager = false)
    val pfxs = ph.select(col("tpfx")).distinct().collect()
      .map(_.getString(0)).toIndexedSeq
    // rarest term from the df sidecar: LIVE per-term frequency over the
    // SAME pruned prefixes (a ≤ |phrase|-row collect) — the sidecar
    // folds delete negatives, so heavily-deleted terms can't anchor
    // with a stale inflated df. Terms absent from the corpus get df 0
    // — and win, correctly: the anchor set is then empty and so is the
    // result. Pre-sidecar stores fall back to counting the pruned,
    // tombstone-filtered posting lists.
    val dfByTerm = dfSnapshot(spark, path, ph.select(col("term")), pfxs)
    val (rareTerm, rareOff) = phrase.zipWithIndex
      .map { case (w, i) => (w, i.toLong) }
      .minBy { case (w, i) => (dfByTerm.getOrElse(w, 0L), i) }
    // attrFilter (over writeBm25Index `attrs` columns, which ride the
    // position rows too) restricts candidate docs in the SAME pruned
    // scan; the anchor df stays global — a performance choice only
    val pos0 = attrFilter
      .foldLeft(StoreFiles.scan(spark, s"$path/positions"))(_.filter(_))
      .filter(col("tpfx").isin(pfxs: _*))
      .join(broadcast(ph.select(col("term"), col("off"))), Seq("term"))
    val pos = StoreFiles.dropTombstoned(spark, path, pos0, "doc_id")
    val shifted = pos.select(col("doc_id"),
      (col("pos") - col("off")).as("start"), col("off"))
    // the rare term IS the off === rareOff row set: ph maps each
    // offset to exactly one (term, off) pair, so filtering the shifted
    // frame by the rare offset selects exactly the rare term's
    // occurrences (rareTerm documents WHICH term that is)
    val anchors = shifted.filter(col("off") === lit(rareOff))
      .select(col("doc_id"), col("start")).distinct()
    shifted
      .join(broadcast(anchors), Seq("doc_id", "start"), "left_semi")
      .groupBy(col("doc_id"), col("start"))
      .agg(countDistinct(col("off")).as("n_off"))
      .filter(col("n_off") === phrase.length)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(k)
  }

  /** Ceiling on the driver-collected (query, term, off) rows of a
    * phrase batch — the serving-batch contract as a loud failure
    * instead of a driver OOM. */
  val MaxPhraseBatchRows: Int = 1 << 20

  /** MULTI-query exact-PHRASE search against the positional index:
    * phrases arrive as a (query_id, off, term) TABLE — `off` the
    * 0-based position of `term` inside its query's phrase — and every
    * query's top-k match counts are answered in ONE probe: the
    * [[bm25KnnJoinIndexed]] batch-serving shape for
    * [[phraseTopKIndexed]]'s intersection.
    *
    * Scale shape: the batch's term-prefix union is a single static
    * partition filter on the positions read (each stored position row
    * is read once however many phrases share its term), the phrase
    * fan-out rides a broadcast of the tiny batch frame, and the
    * intersection runs per-query RAREST-term-first — each query's
    * smallest-df term (from the `df/` sidecar, so anchors reflect live
    * documents) anchors its candidate (doc_id, start) set, and all
    * shifted positions semi-join the broadcast anchor union BEFORE the
    * offset-counting aggregation. The anchor set is bounded by
    * Σ_queries min-df — the broadcast contract, same as the
    * single-phrase probe per query. Per-query top-k is a bounded
    * `topk_agg`; a query whose rarest term is absent (df 0) simply
    * yields no rows. The phrase batch itself is collected driver-side
    * (serving-sized by contract — guarded by [[MaxPhraseBatchRows]]).
    * Output: (query_id, doc_id, n_matches, rank), rank 1-based per
    * query (n_matches desc, doc_id asc). */
  def phraseKnnJoinIndexed(spark: SparkSession, path: String,
      phrases: DataFrame, qid: Column, term: Column, off: Column,
      k: Int, maxBatchRows: Int = MaxPhraseBatchRows,
      attrFilter: Option[Column] = None): DataFrame = {
    import spark.implicits._
    // bounded collect: the per-query anchor choice and phrase lengths
    // are driver decisions, like the vector side's collected qRows —
    // the limit caps the transfer BEFORE the guard, so an over-sized
    // batch fails loudly instead of as a driver OOM
    val phRows = phrases.select(qid.cast("long").as("query_id"),
        term.as("term"), off.cast("long").as("off")).distinct()
      .limit(maxBatchRows + 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // an empty batch yields an empty typed frame, like every sibling
    // batch probe — a service whose filtered feed came up empty gets
    // zero rows, not an exception
    if (phRows.isEmpty)
      return spark.range(0).select(col("id").as("query_id"),
        col("id").as("doc_id"), col("id").as("n_matches"),
        col("id").as("rank"))
    require(phRows.length <= maxBatchRows,
      s"phrase batch holds over $maxBatchRows (query, term, off) rows " +
        "— over the serving-batch ceiling; split the batch into " +
        "smaller probe calls instead of one driver-sized one")
    val ph = phRows.toSeq.toDF("query_id", "term", "off")
      .withColumn("tpfx", tpfx(col("term"), storedTpfxWidth(spark, path)))
      .localCheckpoint(eager = false)
    val pfxs = ph.select(col("tpfx")).distinct().collect()
      .map(_.getString(0)).toIndexedSeq
    val dfByTerm = dfSnapshot(spark, path, ph.select(col("term")), pfxs)
    // per-query rare anchor: the (term, off) with the smallest live df
    // (ties to the earlier offset — deterministic); per-query length =
    // DISTINCT offsets (repeated phrase words contribute one offset
    // each, so the countDistinct match test stays exact)
    val anchorOff = phRows.groupBy(_._1).view.mapValues(rows =>
      rows.minBy { case (_, t, o) =>
        (dfByTerm.getOrElse(t, 0L), o) }._3).toMap
    val anchorDf = anchorOff.toSeq.toDF("query_id", "off")
      .localCheckpoint(eager = false)
    val lenDf = phRows.groupBy(_._1).view
      .mapValues(_.map(_._3).distinct.length.toLong).toSeq
      .toDF("query_id", "phlen")
      .localCheckpoint(eager = false)
    val pos0 = attrFilter
      .foldLeft(StoreFiles.scan(spark, s"$path/positions"))(_.filter(_))
      .filter(col("tpfx").isin(pfxs: _*))
      .join(broadcast(ph.select(col("query_id"), col("term"),
        col("off"))), Seq("term"))
    val pos = StoreFiles.dropTombstoned(spark, path, pos0, "doc_id")
    val shifted = pos.select(col("query_id"), col("doc_id"),
      (col("pos") - col("off")).as("start"), col("off"))
    // each (query, off) names exactly one term, so filtering by the
    // rare offset selects exactly that query's rare-term occurrences
    val anchors = shifted
      .join(broadcast(anchorDf), Seq("query_id", "off"))
      .select(col("query_id"), col("doc_id"), col("start")).distinct()
    shifted
      .join(broadcast(anchors), Seq("query_id", "doc_id", "start"),
        "left_semi")
      .groupBy(col("query_id"), col("doc_id"), col("start"))
      .agg(countDistinct(col("off")).as("n_off"))
      .join(broadcast(lenDf), Seq("query_id"))
      .filter(col("n_off") === col("phlen"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate
        .topk(col("n_matches").cast("double"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "p")))
      .select(col("query_id"), col("p.id").as("doc_id"),
        col("p.score").cast("long").as("n_matches"),
        (col("r") + 1).cast("long").as("rank"))
  }
}
