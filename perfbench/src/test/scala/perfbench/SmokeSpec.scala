package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A tiny-size run of each workload: set-up, one second of closed loop,
  * every op passing its check, and the traced per-layer metrics
  * complete. */
class SmokeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def smoke(name: String, make: Ctx => Workload): Unit = {
    val work = Files.createDirectories(Paths.get("..", ".bench_build", "test-work", name).toAbsolutePath)
    val ctx = Ctx(spark, 5, work, new Tracer(true), 2, scale = 0.02)
    val w = make(ctx)
    try {
      (0 until Workload.Copies).foreach(w.setup)
      val counters = new SparkCounters(spark)
      counters.start()
      val loop = Harness.closedLoop(ctx, w, 1.0, Some(counters))
      counters.drain()
      val ops = loop.ops
      assert(ops.nonEmpty && loop.opsPerS > 0)
      assert(ops.forall(_.ok), loop.failures.mkString("\n"))
      val layers = Layers.compute(ctx, w, ops, counters, 1.0, 1.0)
      assert(layers.map(_._1) == Layers.names.map(_._1))
      assert(layers.find(_._1 == "trace.self_residual_ms").get._2._1 < 1.0)
      counters.stop()
    } finally Host.deleteTree(work)
  }

  test("catalog smoke run")(smoke("catalog", new CatalogWorkload(_)))
  test("store_lifecycle smoke run")(smoke("store_lifecycle", new StoreLifecycle(_)))
}
