package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Filesystem plumbing shared by the persisted stores ([[AnnIndex]],
  * [[LexIndex]], [[FingerprintIndex]], [[DedupIndex]], [[SketchStore]]):
  * their reads ([[scan]], [[sidecar]]), the tombstone anti-join, and the
  * compaction lifecycle.
  *
  * Compaction uses rewrite-then-rename replacement: the folded row-set
  * is written to a temp sibling while the live directory keeps serving
  * reads, then the swap is delete + rename — two metadata operations,
  * not a long rewrite window. This is the classic log-structured
  * parquet-store discipline, not a transaction log: writers must be
  * quiesced during the swap (the compaction contract every store
  * documents), and a reader racing the two metadata ops can observe a
  * missing directory and should retry. At 100 TB the stores this
  * maintains are sketch/posting/fingerprint tables — orders of
  * magnitude smaller than the corpus — so the rewrite is cheap
  * relative to what merged reads save once per-batch partials stop
  * accumulating.
  *
  * Reads resolve once per STAMP. A plain `spark.read.parquet(dir)`
  * launches a Spark job to infer the schema from a footer, and a
  * small collected sidecar (model centroids, a codebook, a `meta` row, the
  * generation pointer) costs one more job to collect values that
  * rarely change; a probe used to pay both before it read a row. A
  * directory's stamp is its (modification time, sorted top-level entry
  * names) — one `getFileStatus` plus one `listStatus` — and every write
  * the stores make moves it:
  *   - a Spark write job into `dir` (append, overwrite, dynamic
  *     partition overwrite) creates and deletes its `_temporary` or
  *     staging directory there, which moves the directory's mtime, also
  *     when the files land in partition directories that already exist;
  *   - an unpartitioned write also adds uniquely named part files;
  *   - [[replaceDir]] and [[delete]] swap or remove the whole directory,
  *     and a re-created one has a later mtime and new part-file names.
  * This relies on the filesystem keeping directory modification times,
  * as HDFS and local filesystems do.
  * [[scan]] reuses the schema Spark inferred at the current stamp and
  * [[sidecar]] the value it decoded; a missing directory has no stamp,
  * so it is never memoized and reads (and fails) as a plain read.
  * Frames are NOT shared: every [[scan]] builds a fresh relation with
  * its own file listing and attribute ids; only the schema is reused.
  * Decoded sidecar values ARE shared, so callers must not mutate them.
  * The memos are process-wide, keyed by the directory string as given,
  * and dropped whole past `MemoCap` entries, so a process that touches
  * many short-lived stores holds bounded memory. */
private[graft] object StoreFiles {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir))

  def delete(spark: SparkSession, dir: String): Unit =
    fs(spark, dir).delete(new Path(dir), true)

  private final case class Stamp(mtime: Long, names: Seq[String])

  private def stamp(spark: SparkSession, dir: String): Option[Stamp] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    try {
      val mtime = f.getFileStatus(p).getModificationTime
      Some(Stamp(mtime,
        f.listStatus(p).map(_.getPath.getName).sorted.toIndexedSeq))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  private val MemoCap = 4096
  private val schemas = new ConcurrentHashMap[String, (Stamp, StructType)]()
  private val decoded =
    new ConcurrentHashMap[(String, Class[_]), (Stamp, Any)]()

  private def remember[K, V](m: ConcurrentHashMap[K, (Stamp, V)], k: K,
      s: Stamp, v: V): Unit = {
    if (m.size >= MemoCap) m.clear()
    m.put(k, (s, v))
  }

  private def scanAt(spark: SparkSession, dir: String,
      s: Stamp): DataFrame = {
    val hit = schemas.get(dir)
    if (hit != null && hit._1 == s) spark.read.schema(hit._2).parquet(dir)
    else {
      val df = spark.read.parquet(dir)
      remember(schemas, dir, s, df.schema)
      df
    }
  }

  /** `spark.read.parquet(dir)`, with the schema Spark inferred the last
    * time `dir` had its current stamp — no footer-inference job while
    * the directory is unchanged. Each call returns a fresh frame; a
    * missing directory reads (and fails) as a plain read. */
  def scan(spark: SparkSession, dir: String): DataFrame =
    stamp(spark, dir).fold(spark.read.parquet(dir))(scanAt(spark, dir, _))

  /** `decode` applied to [[scan]]`(dir)`, run once per stamp: while
    * `dir` is unchanged, later calls return the value decoded before,
    * with no Spark job. The memo is keyed by `dir` and the decoder's
    * class, so each call site keeps its own value; `decode` must depend
    * on the rows alone (capture nothing that varies between calls). The
    * value is shared — do not mutate it. */
  def sidecar[T](spark: SparkSession, dir: String)(
      decode: DataFrame => T): T =
    stamp(spark, dir) match {
      case None => decode(spark.read.parquet(dir))
      case Some(s) =>
        val key = (dir, decode.getClass)
        val hit = decoded.get(key)
        if (hit != null && hit._1 == s) hit._2.asInstanceOf[T]
        else {
          val v = decode(scanAt(spark, dir, s))
          remember(decoded, key, s, v)
          v
        }
    }

  /** `rows` minus those whose `key` is in `<root>/tombstones` — the
    * tombstone anti-join every store family applies before it serves or
    * folds rows. A store with no tombstones returns `rows` as is. */
  def dropTombstoned(spark: SparkSession, root: String, rows: DataFrame,
      key: String): DataFrame = {
    val dir = s"$root/tombstones"
    stamp(spark, dir).fold(rows)(s =>
      rows.join(scanAt(spark, dir, s), Seq(key), "left_anti"))
  }

  /** Replace `dir` with whatever `write` produces at a temp sibling.
    * `write` runs while the old directory still exists, so folds that
    * READ the old rows to produce the new ones materialize before
    * anything is deleted. Hadoop's delete/rename report failure by
    * RETURN VALUE, not exception — both are checked, because a rename
    * that silently fails after the delete would leave the store gone
    * with the caller none the wiser (the one data-losing outcome a
    * compaction must never have; the `.compact-tmp` sibling still
    * holds the folded rows if the require trips). */
  def replaceDir(spark: SparkSession, dir: String)(
      write: String => Unit): Unit = {
    val f = fs(spark, dir)
    val tmp = dir + ".compact-tmp"
    f.delete(new Path(tmp), true)
    write(tmp)
    require(!f.exists(new Path(dir)) || f.delete(new Path(dir), true),
      s"delete of live store dir $dir failed")
    require(f.rename(new Path(tmp), new Path(dir)),
      s"rename $tmp -> $dir failed; folded rows remain at $tmp")
  }

  /** Total row count of the parquet files under `dir` — pure FOOTER
    * reads on the driver (one metadata read per file, no Spark job).
    * The manifest/health registry's count-shaped signals (tombstone
    * rows, pending patches, nList) live in tiny tables whose
    * `.count()` still pays a full job launch each; the parquet footer
    * carries the exact row count, so the walk reads it directly —
    * equal to `.count()` by the parquet contract. Recurses through
    * partition directories; `_`/`.`-prefixed names skipped (the
    * reader's own hidden-file convention). */
  def parquetRowCount(spark: SparkSession, dir: String): Long = {
    val f = fs(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    def walk(p: Path): Long =
      f.listStatus(p).map { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) 0L
        else if (s.isDirectory) walk(s.getPath)
        else if (n.endsWith(".parquet")) {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(s, conf))
          try r.getRecordCount finally r.close()
        } else 0L
      }.sum
    walk(new Path(dir))
  }

  /** The character width of partition column `pcol`'s VALUES under
    * `dir` (minus the "x" type-guard every prefix value carries),
    * inferred from the partition directory names — ONE driver-side
    * listing, no Spark job, no sidecar read. Descends through a
    * leading `batch_id=` level when present (the batch-keyed layouts
    * nest `<dir>/batch_id=N/<pcol>=xV/`). None when the directory is
    * missing or holds no such partition yet; stores written before the
    * adaptive-width policy used 2-char prefixes, so probe/append
    * callers default to 2 on None — legacy layouts keep pruning
    * exactly as built. */
  def prefixWidth(spark: SparkSession, dir: String,
      pcol: String): Option[Int] = {
    val f = fs(spark, dir)
    val root = new Path(dir)
    if (!f.exists(root)) return None
    val marker = pcol + "=x"
    def widthIn(p: Path, depth: Int): Option[Int] = {
      val dirs = f.listStatus(p).filter(s => s.isDirectory &&
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      dirs.collectFirst {
        case s if s.getPath.getName.startsWith(marker) =>
          s.getPath.getName.length - marker.length
      }.orElse {
        if (depth >= 1) None
        else dirs.find(_.getPath.getName.startsWith("batch_id="))
          .flatMap(s => widthIn(s.getPath, depth + 1))
      }
    }
    widthIn(root, 0)
  }

  /** Build-time prefix width for a store holding `n` rows/docs: 1 hex
    * char (16 directories) below 100k, 2 (256) above — the partition
    * fan-out then SCALES with the store instead of pinning the 100 TB
    * constant onto small corpora, where 256 directories × near-empty
    * files cost more in listings (a > 32-path listing launches a
    * distributed listing job per read) and per-file opens than the
    * pruning saves. Probes and appends never call this: they infer the
    * built width from the directory names ([[prefixWidth]]), so a
    * store is internally consistent for life regardless of the policy
    * the build ran under. */
  def pfxWidthFor(n: Long): Int = if (n < 100000L) 1 else 2

  /** The base-fold (−1) and reserved negative-partial (−2) partitions:
    * permanent residents of a batch-keyed layout, never IN-FLIGHT
    * batches — compaction policies must not count them, or the
    * post-fold steady state (−1 plus one live batch) re-triggers a
    * full-store rewrite on every micro-batch. */
  private val ReservedBatchDirs = Set("batch_id=-1", "batch_id=-2")

  /** Physical stats of one sub-store directory. `nBatches` counts
    * DISTINCT UNFOLDED `batch_id=` partition directories — the base
    * fold (−1) and the reserved negative-partial partition (−2) are
    * excluded (0 for a plain layout); `nFiles` counts data files. */
  case class SubStoreStats(subStore: String, nFiles: Long,
      nBatches: Long)

  /** Per-sub-store physical introspection of a persisted store (sketch
    * store, ANN index, lexical index — anything laid out as
    * `<path>/<sub>/...parquet`): file and batch-partition counts from a
    * pure metadata LISTING (no data read). NOTE the cost shape: this
    * walks every FILE recursively — O(files), fine for an explicit
    * operator call but NOT for a per-micro-batch trigger on an object
    * store holding millions of files. The per-trigger predicates below
    * ([[needsBatchCompaction]], [[needsFileCompaction]]) bound or
    * short-circuit their listings instead of calling this. */
  def storeStats(spark: SparkSession, path: String): Seq[SubStoreStats] = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) return Nil
    f.listStatus(root).filter(_.isDirectory).toSeq.map { sub =>
      var nFiles = 0L
      val batches = scala.collection.mutable.Set.empty[String]
      val it = f.listFiles(sub.getPath, true)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (st.isFile && !name.startsWith("_") && !name.startsWith(".")) {
          nFiles += 1
          var p = st.getPath.getParent
          while (p != null && p.getName.nonEmpty &&
              p.toString != sub.getPath.toString) {
            if (p.getName.startsWith("batch_id=") &&
                !ReservedBatchDirs.contains(p.getName)) batches += p.getName
            p = p.getParent
          }
        }
      }
      SubStoreStats(sub.getPath.getName, nFiles, batches.size.toLong)
    }.sortBy(s => s.subStore)
  }

  /** The batch-accumulation policy as a predicate: true when any
    * sub-store holds more than `maxBatches` live UNFOLDED batch
    * partitions (the −1 base fold and −2 reserved partition never
    * count — they are the steady state AFTER a fold, not backlog).
    * The streaming sinks call this per micro-batch, so the listing is
    * depth-bounded and short-circuited: batch partitions are immediate
    * children of each sub-store directory in every store family's
    * layout, so the cost is O(sub-dirs + batch-dirs) directory
    * listings — never a recursive walk of the data files — and the
    * first sub-store over the threshold stops the scan. This is the
    * introspection-driven alternative to a blind every-N-batches
    * cadence (which drifts from reality after checkpoint resets or
    * manual folds). */
  def needsBatchCompaction(spark: SparkSession, path: String,
      maxBatches: Int): Boolean = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) return false
    f.listStatus(root).iterator.filter(_.isDirectory).exists { sub =>
      f.listStatus(sub.getPath).iterator.count { st =>
        st.isDirectory && st.getPath.getName.startsWith("batch_id=") &&
          !ReservedBatchDirs.contains(st.getPath.getName)
      } > maxBatches
    }
  }

  /** The small-file-accumulation policy as a predicate: true when any
    * single DIRECTORY under the store holds more than its threshold of
    * data files — the trigger for PLAIN-append stores (no batch
    * partitions to count). Per-DIRECTORY, not per-sub-store total,
    * because a directory is the unit appends grow (each blind append
    * leaves one more file per touched partition directory) and
    * because the post-compaction steady state can then never
    * re-trigger right after a compact. The threshold is layout-aware:
    * PARTITION directories (`k=v` names) compact to ONE file each, so
    * they use `maxFilesPerDir` as-is; FLAT table directories (the
    * int8/binary/IVF-PQ `vectors/`, the HLL store) are rewritten by
    * compaction into up to `flatDirCap` files (the
    * `repartitionByRange(numShufflePartitions)` re-clustering that
    * preserves their vec_id row-group pruning), so they compare
    * against `max(maxFilesPerDir, flatDirCap)` — a plain per-dir
    * threshold below that count would re-trip on EVERY append after a
    * compact, a permanent full-store rewrite storm. Hidden/metadata
    * entries (`_*`, `.*` — files AND directories: `_spark_metadata`,
    * a leftover `.compact-tmp`) are excluded from both count and
    * descent.
    *
    * `touchedDirs` (store-relative) restricts the walk to the
    * directories the caller just appended into — the no-trip
    * steady-state cost is then O(touched) listings instead of a full
    * store walk per append. Sound under the single-writer contract:
    * files only accumulate via appends, so a directory this append
    * did not touch was checked by the append that last grew it. Empty
    * = walk the whole store (the explicit-operator form). The walk
    * short-circuits at the first directory over its threshold.
    * Callers run it at append time (see the `maxFilesPerDir`
    * parameter on the append entry points), not per micro-batch. */
  def needsFileCompaction(spark: SparkSession, path: String,
      maxFilesPerDir: Int, touchedDirs: Seq[String] = Nil,
      flatDirCap: Int = 0): Boolean = {
    val f = fs(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) return false
    def hidden(name: String): Boolean =
      name.startsWith("_") || name.startsWith(".")
    // A directory takes the stricter partition cap only when it IS a
    // Hive partition directory, matched by LAYOUT, not by a bare
    // '='-in-name check: the name must be `<identifier>=<value>`
    // (Spark writes partition columns as unescaped identifiers; values
    // are Hive-escaped and never empty — null becomes
    // __HIVE_DEFAULT_PARTITION__) AND it must sit at depth ≥ 2 below
    // the store root — every store family lays out
    // `<root>/<sub-store>/<pcol>=<v>/...`, so the root itself (a user
    // path that may contain '=') and the depth-1 sub-store directories
    // can never be partition dirs. Mis-classifying a flat dir as a
    // partition dir would hand it the stricter cap and re-trip the
    // policy on every append after a compact's
    // numShufflePartitions-file rewrite — the storm the layout-aware
    // threshold exists to prevent.
    def isPartitionDirName(name: String): Boolean = {
      val eq = name.indexOf('=')
      eq > 0 && eq < name.length - 1 &&
        name.charAt(0).isUnicodeIdentifierStart &&
        (1 until eq).forall(i => name.charAt(i).isUnicodeIdentifierPart)
    }
    def over(dir: Path, depth: Int): Boolean = {
      val cap = if (depth >= 2 && isPartitionDirName(dir.getName))
          maxFilesPerDir
        else math.max(maxFilesPerDir, flatDirCap)
      val st = f.listStatus(dir)
      var nFiles = 0
      var i = 0
      while (i < st.length) {
        val s = st(i)
        if (s.isFile && !hidden(s.getPath.getName)) nFiles += 1
        if (nFiles > cap) return true
        i += 1
      }
      st.exists(s => s.isDirectory && !hidden(s.getPath.getName) &&
        over(s.getPath, depth + 1))
    }
    if (touchedDirs.nonEmpty)
      touchedDirs.exists { d =>
        val p = new Path(root, d)
        // depth of a touched dir = its store-relative segment count
        f.exists(p) && over(p, d.count(_ == '/') + 1)
      }
    else over(root, 0)
  }
}
