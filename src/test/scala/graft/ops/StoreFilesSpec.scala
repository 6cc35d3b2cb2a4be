package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftSparkShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The resolved-read contract of [[StoreFiles.scan]] and
  * [[StoreFiles.sidecar]]: an unchanged directory is resolved with no
  * Spark job, and every kind of write the stores make — a partitioned
  * append, a rename-swap compact, a fresh build over the same path, a
  * generation flip, a delete — is seen by the next read. */
class StoreFilesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** `body`'s result and the number of Spark jobs it launched. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    GraftSparkShims.drainListenerBus(sc)
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = body
      GraftSparkShims.drainListenerBus(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** `n` deterministic 8-d vectors, ids from `from`. */
  private def corpus(n: Int, from: Long = 0L, shift: Double = 0.0) =
    spark.range(from, from + n).select(col("id").as("vec_id"),
      array((1 to 8).map(i =>
        sin((col("id") + 1) * lit(i.toDouble)) + lit(shift)): _*).as("v"))

  private def ivfPqProbe(path: String): Seq[(Long, Long, Long)] =
    AnnIndex.ivfPqKnnJoinIndexed(spark, path,
        corpus(5, from = 1000L), col("vec_id"), col("v"), k = 3,
        nProbe = 4, rerank = 10)
      .select(col("query_id"), col("vec_id"), col("rank"))
      .as[(Long, Long, Long)].collect().sorted.toSeq

  test("a second scan of an unchanged directory runs no Spark job") {
    val dir = tmp("sf-scan") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(dir)
    val (first, j1) = jobsIn(StoreFiles.scan(spark, dir))
    assert(j1 >= 1, "the first scan infers the schema in a job")
    val (second, j2) = jobsIn(StoreFiles.scan(spark, dir))
    assert(j2 == 0)
    assert(second.schema == first.schema)
    assert(second.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // frames are not shared: each scan is a fresh relation
    assert(first.queryExecution.analyzed.output.map(_.exprId) !=
      second.queryExecution.analyzed.output.map(_.exprId))
    // a sidecar memo is per decoder: one decoder, decoded once
    val rows: DataFrame => Long = _.count()
    val (_, j3) = jobsIn(StoreFiles.sidecar(spark, dir)(rows))
    val (n, j4) = jobsIn(StoreFiles.sidecar(spark, dir)(rows))
    assert(j3 >= 1 && j4 == 0 && n == 2L)
  }

  test("after an append into a partitioned directory, scan sees the new rows") {
    val dir = tmp("sf-part") + "/t"
    Seq((1L, 0), (2L, 1)).toDF("id", "p").write.partitionBy("p")
      .parquet(dir)
    assert(StoreFiles.scan(spark, dir).count() == 2)
    // into an EXISTING partition: the top-level names stay the same,
    // only the directory's mtime moves
    Seq((3L, 0)).toDF("id", "p").write.mode("append").partitionBy("p")
      .parquet(dir)
    val (df, j) = jobsIn(StoreFiles.scan(spark, dir))
    assert(j >= 1, "the append moved the stamp")
    assert(df.select("id", "p").as[(Long, Int)].collect().sorted.toSeq ==
      Seq((1L, 0), (2L, 1), (3L, 0)))
  }

  test("after a backfilling compact swaps the directory, scan sees the new columns") {
    val path = tmp("sf-backfill")
    AnnIndex.writeLshIndex(corpus(60), col("vec_id"), col("v"), path,
      numPlanes = 3)
    assert(!StoreFiles.scan(spark, s"$path/index").columns.contains("tag"))
    val tags = spark.range(60).select(col("id").as("vec_id"),
      when(col("id") % 2 === 0, "even").otherwise("odd").as("tag"))
    AnnIndex.compactAnnIndex(spark, path, backfillAttrs = Some(tags))
    assert(StoreFiles.scan(spark, s"$path/index").columns.contains("tag"))
    val got = AnnIndex.lshKnnJoinIndexed(spark, path, corpus(3),
        col("vec_id"), col("v"), k = 5, probeFlips = 3,
        attrFilter = Some(col("tag") === "even"))
      .select(col("vec_id")).as[Long].collect()
    assert(got.nonEmpty && got.forall(_ % 2 == 0))
  }

  test("a fresh IVF-PQ build over the same path serves its own model") {
    val path = tmp("sf-rebuild")
    def build(c: DataFrame, p: String): Unit =
      AnnIndex.writeIvfPqIndex(c, col("vec_id"), col("v"), p, nList = 4,
        numSub = 4, codebookSize = 8, refineIters = 1)
    build(corpus(200), path)
    val before = ivfPqProbe(path)
    assert(ivfPqProbe(path) == before)
    val shifted = corpus(200, shift = 0.5)
    build(shifted, path)
    val ref = tmp("sf-rebuild-ref")
    build(shifted, ref)
    assert(ivfPqProbe(path) == ivfPqProbe(ref))
  }

  test("after a retrain flips genptr, probes resolve the new generation") {
    val path = tmp("sf-genptr")
    AnnIndex.writeIvfIndex(corpus(120), col("vec_id"), col("v"), path,
      nList = 4)
    assert(AnnIndex.currentGeneration(spark, path) == 0L)
    AnnIndex.compactAnnIndex(spark, path, retrainIters = Some(1))
    assert(AnnIndex.currentGeneration(spark, path) == 1L)
    AnnIndex.compactAnnIndex(spark, path, retrainIters = Some(1))
    assert(AnnIndex.currentGeneration(spark, path) == 2L)
    assert(AnnIndex.currentRoot(spark, path) == s"$path/gens/g2")
    val got = AnnIndex.ivfKnnJoinIndexed(spark, path, corpus(3),
      col("vec_id"), col("v"), k = 2).count()
    assert(got == 6L)
  }

  test("a deleted directory fails exactly as spark.read.parquet does") {
    val dir = tmp("sf-gone") + "/t"
    Seq(1L, 2L).toDF("id").write.parquet(dir)
    StoreFiles.scan(spark, dir)
    StoreFiles.sidecar(spark, dir)(_.count())
    StoreFiles.delete(spark, dir)
    val want = intercept[AnalysisException](spark.read.parquet(dir))
    assert(intercept[AnalysisException](StoreFiles.scan(spark, dir))
      .getMessage == want.getMessage)
    assert(intercept[AnalysisException](
      StoreFiles.sidecar(spark, dir)(_.count())).getMessage ==
      want.getMessage)
  }
}
