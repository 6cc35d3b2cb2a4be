package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `perfbench/run.py`, which builds
  * the classpath and sizes the JVM):
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1>`
  *
  * Prints the per-layer table (traced runs) and one `detail` JSON line,
  * then, as the last line, the result object
  * `{"correct", "attempted", "failed", "metrics"}`. */
object Main {

  val workloads: Seq[String] = Seq("catalog", "store_lifecycle")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    require(workloads.contains(name), s"unknown workload $name; one of ${workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val t0ms = sys.props.get("perfbench.t0ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val cores = Runtime.getRuntime.availableProcessors()
    val buildDir = Paths.get(sys.props.getOrElse("perfbench.dir", ".bench_build")).toAbsolutePath
    val work = buildDir.resolve("work").resolve(s"$name-seed$seed-${ProcessHandle.current.pid}")
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(trace)
    val ctx = Ctx(spark, seed, work, tracer, cores, scale = 1.0)
    val w: Workload = name match {
      case "catalog" => new CatalogWorkload(ctx)
      case "store_lifecycle" => new StoreLifecycle(ctx)
    }
    try {
      // set-up time: process start to a ready session, plus the median
      // time of the fixture builds, plus the warm-up
      val sessionS = (System.currentTimeMillis() - t0ms) / 1e3
      val buildS = (0 until Workload.Copies).map(c => Harness.phase(s"fixture $c")(w.setup(c))._2)
      val warmS = Harness.phase("warm-up")(w.warmUp())._2
      val setupS = sessionS + Stats.median(buildS) + warmS
      val counters = if (trace) Some(new SparkCounters(spark)) else None
      counters.foreach(_.start())
      val loop = Harness.closedLoop(ctx, w, seconds, counters)
      val Loop(ops, failures, l0) = loop
      counters.foreach(_.drain())
      val findings = w.findings()
      val wallS = (ops.map(_.end).foldLeft(l0)(math.max) - l0) / 1e9
      val okOps = ops.filter(_.ok)
      val opsPerS = loop.opsPerS
      def lat(kind: String) = okOps.filter(_.kind == kind).map(_.ms)

      val layers = counters.map(c => Layers.compute(ctx, w, ops, c, wallS, opsPerS))
      val detail = new StringBuilder
      val extra = w.extraMetrics()
      val byKind = Seq("read", "write", "maint").map(k => k -> lat(k)).filter(_._2.nonEmpty)
      val latencies = byKind.flatMap { case (k, xs) =>
        Seq(50, 90).flatMap(p => Stats.percentile(xs, p).map(v => s"${k}_p${p}_ms" -> (v, "ms"))) ++
          Seq(s"${k}_ops" -> (xs.size.toDouble, "count"))
      }
      val e2eAll: Seq[(String, (Double, String))] = Seq(
        "setup_s" -> (setupS, "s"),
        "ops_per_s" -> (opsPerS, "ops/s"),
        "peak_rss_mb" -> (Host.peakRssMb, "MB")) ++ latencies ++ Seq(
        "failed_frac" -> (ops.count(!_.ok).toDouble / math.max(ops.size, 1), "ratio")) ++
        extra.toSeq

      detail ++= "{\"detail\":{"
      detail ++= s"\"workload\":${Json.str(name)},\"seed\":$seed,\"seconds\":$seconds,"
      detail ++= s"\"trace\":$trace,\"clients\":${w.clients},"
      detail ++= s"\"measured_s\":${Json.num(wallS)},"
      detail ++= s"\"session_s\":${Json.num(sessionS)},\"fixture_s\":" +
        buildS.map(Json.num).mkString("[", ",", "]") + s",\"warm_up_s\":${Json.num(warmS)},"
      detail ++= "\"stamp\":" + Json.obj(Host.stamp(cores, seed).map { case (k, v) => k -> Json.str(v) }) + ","
      detail ++= "\"spark_conf\":" + Json.obj(Seq("spark.master", "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled", "spark.sql.codegen.cache.maxEntries").map(k =>
        k -> Json.str(spark.conf.get(k)))) + ","
      detail ++= "\"metrics\":" + Json.metrics(e2eAll) + ","
      detail ++= "\"findings\":" + Json.obj(findings.map { case (k, v) => k -> Json.str(v) }) + ","
      detail ++= "\"ops_by_name\":" + Json.obj(ops.groupBy(_.name).toSeq.sortBy(_._1).map {
        case (n, rs) => n -> Json.obj(Seq("count" -> rs.size.toString,
          "failed" -> rs.count(!_.ok).toString,
          "median_ms" -> Json.num(Stats.median(rs.map(_.ms)))))
      }) + ","
      // failures as "op <id> <name>: <message>"; the first message per op name
      detail ++= "\"failures\":" + Json.obj(failures.groupBy(_.split(" ")(2).stripSuffix(":"))
        .toSeq.sortBy(_._1).map { case (n, fs) => n -> Json.obj(Seq(
          "count" -> fs.size.toString, "first" -> Json.str(fs.head))) })
      detail ++= "}}"

      val metrics: Seq[(String, (Double, String))] = layers match {
        case None => e2eAll.filter { case (k, _) => Main.endToEnd.contains(k) }
        case Some(ls) =>
          println(Layers.table(name, tracer.all, ops))
          Files.createDirectories(buildDir.resolve("trace"))
          Layers.writeSpans(buildDir.resolve("trace").resolve(s"$name-seed$seed.jsonl"), tracer.all)
          ls
      }
      counters.foreach(_.stop())
      println(detail.toString)
      val failed = ops.count(!_.ok)
      println("{\"correct\":" + (failed == 0 && ops.nonEmpty) + ",\"attempted\":" + ops.size +
        ",\"failed\":" + failed + ",\"metrics\":" + Json.metrics(metrics) + "}")
    } finally {
      spark.stop()
      Host.deleteTree(work)
    }
  }

  /** The end-to-end metrics every workload reports (BENCHMARK.json). */
  val endToEnd: Seq[String] = Seq("setup_s", "ops_per_s", "read_p50_ms")
}

object Host {

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def memTotalKb: String =
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1)).getOrElse("unknown")

  def stamp(cores: Int, seed: Long): Seq[(String, String)] = Seq(
    "nproc" -> cores.toString,
    "mem_total_kb" -> memTotalKb,
    "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
    "java" -> System.getProperty("java.version"),
    "scala" -> scala.util.Properties.versionNumberString,
    "spark" -> org.apache.spark.SPARK_VERSION,
    "git_sha" -> sys.props.getOrElse("perfbench.git", "unknown"),
    "src_sha256" -> sys.props.getOrElse("perfbench.src", "unknown"),
    "seed" -> seed.toString)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def metrics(ms: Seq[(String, (Double, String))]): String =
    obj(ms.map { case (k, (v, u)) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
