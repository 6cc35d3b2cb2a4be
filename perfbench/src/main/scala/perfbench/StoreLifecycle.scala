package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.ops.{AnnIndex, FingerprintIndex, LexIndex, Maintenance, StoreManifest}

/** `store_lifecycle`: one client driving three persisted store families
  * under one root through rounds of appends, probe batches and deletes,
  * then maintenance. The benchmark keeps its own copy of every live row
  * and checks each probe against an exact answer it computes itself.
  *
  * A timed run is one sequence: [[Rounds]] rounds, each of an append to
  * every family, [[Probes]] probe batches of each family and a
  * delete of about 2% of each family's ids, then a manifest walk with
  * `Maintenance.applyPlan` and a drift check with `retrainIfDrifted` on a
  * batch drifted off the trained cells, which retrains. The rounds never
  * drift, so every probe of a run meets the same trained cells.
  *
  * Why: the store layer (append, tombstone delete, compact, retrain,
  * manifest) exists once per family; a change to one seam should show in
  * every family, and none of this touches the catalog. */
final class StoreLifecycle(ctx: Ctx) extends Workload {
  import StoreLifecycle._

  val clients = 1
  private val spark = ctx.spark
  private val nVec = math.max(200, (Vectors * ctx.scale).toInt)
  private val nDoc = math.max(100, (Docs * ctx.scale).toInt)
  private def rootOf(copy: Int) = ctx.work.resolve(s"stores-$copy")
  private val root = rootOf(Workload.Copies - 1)
  private val vecPath = root.resolve("vec").toString
  private val lexPath = root.resolve("lex").toString
  private val fpPath = root.resolve("fp").toString

  private val rnd = new Random(ctx.seed)
  /** Fixed cluster centres, so every seed gives cells of alike sizes and
    * probe costs compare across seeds; the seed draws the points. */
  private val centroids = { val c = new Random(20260101L); Array.fill(Labels, Dim)(c.nextGaussian()) }
  /** live vectors, unit length */
  private val vecs = mutable.LinkedHashMap.empty[Long, Array[Double]]
  private val docs = mutable.LinkedHashMap.empty[Long, Array[String]]
  private val sigs = mutable.LinkedHashMap.empty[Long, Long]
  private var nextVec = 0L
  private var nextDoc = 0L
  /** rows tombstoned since each store's last compact */
  private val pendingDeletes = mutable.Map("vec" -> 0L, "lex" -> 0L, "fp" -> 0L)
  private val recalls = mutable.ArrayBuffer.empty[Double]

  private def newVectors(n: Int, drift: Double, r: Random): Seq[(Long, Array[Double])] =
    (0 until n).map { _ =>
      val c = centroids(r.nextInt(Labels))
      val v = normalize(Array.tabulate(Dim)(d => c(d) + drift + 1.0 * r.nextGaussian()))
      nextVec += 1
      (nextVec - 1, v)
    }

  private def newDoc(r: Random): Array[String] =
    if (docs.nonEmpty && r.nextInt(5) == 0) nearCopy(docs.valuesIterator.drop(r.nextInt(docs.size)).next(), r)
    else Array.fill(8 + r.nextInt(23))(word(r))

  private def vecFrame(rows: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(rows.map { case (id, v) => Row(id, v.toSeq) }.asJava, VecSchema)
  private def docFrame(rows: Seq[(Long, Array[String])]): DataFrame =
    spark.createDataFrame(rows.map { case (id, t) => Row(id, t.mkString(" ")) }.asJava, DocSchema)
  private def sigFrame(rows: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(rows.map { case (id, s) => Row(id, s) }.asJava, SigSchema)
  private def idFrame(ids: Seq[Long]): DataFrame =
    spark.createDataFrame(ids.map(Row(_)).asJava, IdSchema)

  private val base: Seq[(Long, Array[Double])] = {
    val b = newVectors(nVec, 0.0, rnd)
    b.foreach { case (id, v) => vecs(id) = v }
    b
  }
  private val baseDocs: Seq[(Long, Array[String])] = {
    val d = (0 until nDoc).map { _ => val t = newDoc(rnd); docs(nextDoc) = t; nextDoc += 1; (nextDoc - 1, t) }
    d.foreach { case (id, t) => sigs(id) = simhash(t) }
    d
  }

  def setup(copy: Int): Unit = {
    val dir = Files.createDirectories(rootOf(copy))
    AnnIndex.writeIvfPqIndex(vecFrame(base), col("id"), col("v"), dir.resolve("vec").toString,
      nList = 16, numSub = 8, codebookSize = 16, refineIters = 2)
    LexIndex.writeBm25Index(docFrame(baseDocs), col("id"), col("text"), dir.resolve("lex").toString)
    FingerprintIndex.writeHammingIndex(
      sigFrame(baseDocs.map { case (id, _) => id -> sigs(id) }), col("id"), col("sh"),
      dir.resolve("fp").toString, maxHamming = MaxHamming)
  }

  override val roundLength: Int = Sequence.size
  override val minOps: Long = Sequence.size

  def op(client: Int, k: Long): Op = {
    val name = Sequence(Math.floorMod(k, Sequence.size.toLong).toInt)
    val r = new Random(ctx.seed * 7919L + k)
    if (name == "maint_drift") driftOp(r) else opNamed(name, r)
  }

  /** The drift check on a batch [[DriftShift]] off the trained cells: it
    * must retrain exactly when the drift ratio is over the limit. */
  private def driftOp(r: Random): Op = {
    val batch = vecFrame(newVectors(AppendVecs, DriftShift, r))
    // the expected answer, read before the timed call
    val ratio = AnnIndex.assignmentDrift(spark, vecPath, batch, col("id"), col("v"))
      .select("drift_ratio").head().getDouble(0)
    Op("maint", "maint_drift", () => {
      val retrained = ctx.tracer.span("store.retrain") {
        AnnIndex.retrainIfDrifted(spark, vecPath, batch, col("id"), col("v"), maxRatio = MaxDriftRatio)
      }
      () => {
        System.err.println(s"[perfbench] drift ratio $ratio, retrained $retrained")
        retrained == (ratio > MaxDriftRatio)
      }
    })
  }

  private def opNamed(name: String, r: Random): Op = name match {
    case "append_vec" =>
      val batch = newVectors(AppendVecs, 0.0, r)
      val frame = vecFrame(batch)
      Op("write", name, () => {
        ctx.tracer.span("store.append")(AnnIndex.appendIvfPqIndex(frame, col("id"), col("v"), vecPath))
        batch.foreach { case (id, v) => vecs(id) = v }
        () => true
      })
    case "append_lex" =>
      val batch = (0 until AppendDocs).map { _ => val t = newDoc(r); nextDoc += 1; (nextDoc - 1, t) }
      val (texts, prints) = (docFrame(batch), sigFrame(batch.map { case (id, t) => id -> simhash(t) }))
      Op("write", name, () => {
        ctx.tracer.span("store.append") {
          LexIndex.appendBm25Index(texts, col("id"), col("text"), lexPath)
          FingerprintIndex.appendHammingIndex(prints, col("id"), col("sh"), fpPath)
        }
        batch.foreach { case (id, t) => docs(id) = t; sigs(id) = simhash(t) }
        () => true
      })
    case "probe_vec" =>
      val ids = vecs.keysIterator.toIndexedSeq
      val qs = (0 until ProbeQueries).map { q =>
        val v = vecs(ids(r.nextInt(ids.size)))
        (q.toLong, v.map(_ + 0.02 * r.nextGaussian()))
      }
      val queries = vecFrame(qs).withColumnRenamed("id", "qid")
      Op("read", name, () => {
        val got = ctx.tracer.span("store.probe") {
          AnnIndex.ivfPqKnnJoinIndexed(spark, vecPath, queries, col("qid"), col("v"), k = K)
            .select("query_id", "vec_id").collect()
        }
        () => {
          val byQuery = got.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
          val live = vecs.keySet
          val recall = qs.map { case (q, v) =>
            exactKnn(v).count(byQuery.getOrElse(q, Set.empty[Long])) / K.toDouble
          }.sum / qs.size
          recalls += recall
          val shaped = qs.forall { case (q, _) => byQuery.get(q).exists(s => s.size == K && s.forall(live)) }
          if (!shaped || recall < MinRecall)
            System.err.println(s"[perfbench] probe_vec check failed: recall $recall, " +
              s"${byQuery.size} queries answered, sizes ${byQuery.values.map(_.size).toSeq.distinct}, " +
              s"dead ids ${byQuery.values.flatten.count(!live(_))}")
          shaped && recall >= MinRecall
        }
      })
    case "probe_lex" =>
      val vocab = docs.valuesIterator.drop(r.nextInt(docs.size)).next()
      val qs = (0 until LexQueries).map(q => q.toLong -> Seq.fill(3)(
        if (r.nextBoolean()) vocab(r.nextInt(vocab.length)) else word(r)).distinct)
      val terms = spark.createDataFrame(qs.flatMap { case (q, ts) => ts.map(t => Row(q, t)) }.asJava, TermSchema)
      Op("read", name, () => {
        val got = ctx.tracer.span("store.probe") {
          LexIndex.bm25KnnJoinIndexed(spark, lexPath, terms, col("qid"), col("term"), k = K)
            .select("query_id", "doc_id", "score_e4", "rank").collect()
        }
        () => {
          val byQuery = got.groupBy(_.getLong(0)).map { case (q, rs) =>
            q -> rs.sortBy(_.getLong(3)).map(x => (x.getLong(1), x.getLong(2))).toSeq
          }
          val bad = qs.filterNot { case (q, ts) => byQuery.getOrElse(q, Nil) == exactBm25(ts) }
          bad.headOption.foreach { case (q, ts) =>
            System.err.println(s"[perfbench] probe_lex check failed on ${bad.size} queries; " +
              s"$ts: got ${byQuery.getOrElse(q, Nil)} want ${exactBm25(ts)}")
          }
          bad.isEmpty
        }
      })
    case "probe_fp" =>
      val batch = (0 until FpQueries).map { b =>
        val t = if (b % 4 == 3) Array.fill(12)(word(r))
          else nearCopy(docs.valuesIterator.drop(r.nextInt(docs.size)).next(), r)
        (1000000000L + b, simhash(t))
      }
      val probes = sigFrame(batch)
      Op("read", name, () => {
        val got = ctx.tracer.span("store.probe") {
          FingerprintIndex.hammingAgainstIndex(spark, probes, col("id"), col("sh"), fpPath).collect()
        }.map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
        () => {
          val want = (for {
            (b, s) <- batch; (i, t) <- sigs
            h = java.lang.Long.bitCount(s ^ t) if h <= MaxHamming
          } yield (b, i, h)).toSet
          if (got != want)
            System.err.println(s"[perfbench] probe_fp check failed: extra ${got -- want} missing ${want -- got}")
          got == want
        }
      })
    case "delete_vec" =>
      val gone = r.shuffle(vecs.keysIterator.toIndexedSeq).take(vecs.size / 50)
      val frame = idFrame(gone)
      Op("write", name, () => {
        ctx.tracer.span("store.delete")(AnnIndex.deleteVecs(spark, vecPath, frame, col("id")))
        gone.foreach(vecs.remove)
        pendingDeletes("vec") += gone.size
        () => true
      })
    case "delete_lex" =>
      val gone = r.shuffle(docs.keysIterator.toIndexedSeq).take(docs.size / 50)
      val frame = idFrame(gone)
      Op("write", name, () => {
        ctx.tracer.span("store.delete") {
          LexIndex.deleteFromBm25Index(spark, lexPath, frame, col("id"))
          FingerprintIndex.deleteDocs(spark, fpPath, frame, col("id"))
        }
        gone.foreach { id => docs.remove(id); sigs.remove(id) }
        pendingDeletes("lex") += gone.size
        pendingDeletes("fp") += gone.size
        () => true
      })
    case "maint_compact" =>
      Op("maint", name, () => {
        val m = ctx.tracer.span("store.manifest")(StoreManifest.manifest(spark, root.toString).localCheckpoint())
        val plan = ctx.tracer.span("store.compact") {
          Maintenance.applyPlan(spark, root.toString, Some(m))
            .select("store", "action").collect().map(x => x.getString(0) -> x.getString(1)).toMap
        }
        val expected = pendingDeletes.filter(_._2 > 0).keySet
        pendingDeletes.keys.foreach(pendingDeletes(_) = 0L)
        // every store with pending tombstones must be compacted
        () => expected.forall(s => plan.get(s).contains("compact"))
      })
  }

  /** Exact cosine top-k over the live vectors. */
  private def exactKnn(q: Array[Double]): Set[Long] = {
    val qn = normalize(q)
    val top = mutable.PriorityQueue.empty[(Double, Long)](Ordering.by[(Double, Long), Double](_._1).reverse)
    vecs.foreach { case (id, v) =>
      val s = dot(qn, v)
      if (top.size < K) top.enqueue((s, id))
      else if (s > top.head._1) { top.dequeue(); top.enqueue((s, id)) }
    }
    top.iterator.map(_._2).toSet
  }

  /** Exact BM25 top-k over the live docs with the program's scoring:
    * per-(doc, term) contributions floored to 1e-4 units, then summed;
    * ties to the lower doc id. */
  private def exactBm25(terms: Seq[String]): Seq[(Long, Long)] = {
    val k1 = 1.2; val b = 0.75
    val n = docs.size.toDouble
    val avgdl = docs.valuesIterator.map(_.length.toLong).sum.toDouble / n
    val df = terms.map(t => t -> docs.valuesIterator.count(_.contains(t)).toDouble).toMap
    docs.iterator.flatMap { case (id, toks) =>
      val dl = toks.length.toDouble
      val parts = terms.flatMap { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) None else {
          val idf = StrictMath.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
          val c = idf * tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
          Some(math.floor(c * 10000.0).toLong)
        }
      }
      if (parts.isEmpty) None else Some((id, parts.sum))
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(K)
  }

  override def extraMetrics(): Map[String, (Double, String)] = {
    val (bytes, _) = walk(root)
    Map(
      "recall_at_10" -> (if (recalls.isEmpty) Double.NaN else recalls.sum / recalls.size, "ratio"),
      "space_amp" -> (bytes / liveBytes, "ratio"))
  }

  /** Bytes of live user data: 8-byte ids plus 8 bytes per vector
    * component, the UTF-8 text of each document and its 8-byte
    * signature. */
  private def liveBytes: Double =
    vecs.size * (8.0 + 8.0 * Dim) + docs.valuesIterator.map(_.mkString(" ").length + 24.0).sum

  override def layerTotals(): Map[String, Double] = {
    val (bytes, files) = walk(root)
    val live = vecs.size + docs.size * 2.0
    Map("store.bytes_live" -> bytes.toDouble, "store.files_live" -> files.toDouble,
      "store.live_row_frac" -> live / (live + pendingDeletes.values.sum))
  }

  /** (bytes, files) of the data files under the store root. */
  private def walk(p: Path): (Long, Long) = {
    val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(f => f.getFileName.toString.startsWith(".")).toSeq
    (fs.map(Files.size).sum, fs.size.toLong)
  }
}

object StoreLifecycle {
  val Dim = 64
  val Labels = 16
  val K = 10
  val ProbeQueries = 50
  val LexQueries = 20
  val FpQueries = 20
  val AppendVecs = 200
  val AppendDocs = 50
  val MaxHamming = 3
  val MaxDriftRatio = 1.15
  /** How far the drift check's batch sits off the trained cells. */
  val DriftShift = 1.0
  val Vectors = 2000
  val Docs = 1000
  val Rounds = 1
  /** Probe batches per round, by family: with one round, 20 reads, enough
    * for a median (Stats.percentile). A Hamming probe costs less than
    * half of an IVF-PQ or BM25 one, so it gets two batches: the median
    * then falls in the middle of the other 18, not at the edge of a
    * group, where it would jump from run to run. */
  val Probes: Seq[(String, Int)] = Seq("probe_vec" -> 9, "probe_lex" -> 9, "probe_fp" -> 2)
  /** Floor on mean IVF-PQ recall@10 for a probe batch to pass. */
  val MinRecall = 0.2
  val Vocabulary = 400

  /** One round: appends, probe batches, deletes. */
  val Round: IndexedSeq[String] = {
    // the families' probes interleaved: vec, lex, fp, vec, lex, fp, ...
    val probes = Probes.map { case (n, c) => Seq.fill(c)(n) }
    IndexedSeq("append_vec", "append_lex") ++
      (0 until Probes.map(_._2).max).flatMap(i => probes.flatMap(_.lift(i))) ++
      Seq("delete_vec", "delete_lex")
  }
  /** A timed run: the rounds, then maintenance. */
  val Sequence: IndexedSeq[String] =
    Seq.fill(Rounds)(Round).flatten.toIndexedSeq ++ Seq("maint_compact", "maint_drift")

  val VecSchema: StructType = StructType(Seq(StructField("id", LongType),
    StructField("v", ArrayType(DoubleType, containsNull = false))))
  val DocSchema: StructType = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
  val SigSchema: StructType = StructType(Seq(StructField("id", LongType), StructField("sh", LongType)))
  val IdSchema: StructType = StructType(Seq(StructField("id", LongType)))
  val TermSchema: StructType = StructType(Seq(StructField("qid", LongType), StructField("term", StringType)))

  /** Zipf-like word choice over a fixed vocabulary. */
  def word(r: Random): String = {
    val x = math.pow(r.nextDouble(), 2.5)
    f"w${(x * Vocabulary).toInt}%03d"
  }

  def nearCopy(t: Array[String], r: Random): Array[String] =
    t.updated(r.nextInt(t.length), word(r))

  /** 64-bit SimHash of the token list. */
  def simhash(toks: Array[String]): Long = {
    val acc = new Array[Int](64)
    toks.foreach { t =>
      val h = (scala.util.hashing.MurmurHash3.stringHash(t, 17).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(t, 91).toLong & 0xffffffffL)
      (0 until 64).foreach(i => acc(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1))
    }
    (0 until 64).foldLeft(0L)((s, i) => if (acc(i) > 0) s | (1L << i) else s)
  }

  def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
}
