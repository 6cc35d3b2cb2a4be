package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only stage profiler for the bench tail: times sub-stages of the
  * heaviest queries so optimization targets are measured, not guessed.
  * Not part of the library surface. */
object Profile {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.Tables.load(spark, sfDir, "documents")
    docs.count() // warm scan

    // qd24 stages
    val lanes = time("portableLanes agg") {
      val l = Dedup.portableLanes(docs, col("doc_id"),
        col("source"), col("text"), 8)
      l.count(); l
    }
    time("tokens explode only") {
      docs.select(col("doc_id"),
        explode(array_distinct(regexp_extract_all(lower(col("text")),
          lit("\\S+"), lit(0)))).as("w")).count()
    }
    time("md5x8 map only") {
      val w = docs.select(col("doc_id"),
        explode(array_distinct(regexp_extract_all(lower(col("text")),
          lit("\\S+"), lit(0)))).as("w"))
      w.select((0 until 8).map(s =>
        substring(md5(concat(lit(s + ":"), col("w"))), 1, 16).as(s"l$s")): _*)
        .agg(count(lit(1))).collect()
    }
    time("full qd24 pipeline") {
      Dedup.minhashNearDupPortable(docs, col("doc_id"),
        col("source"), col("text"), 0.5).count()
    }
    // composed (union + window) vs native (merge-scan exec) as-of join
    val events = graft.Tables.loadEvents(spark, sfDir)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        floor(col("value") * lit(100.0)).cast("long").as("cents"))
    time("asof composed (union+window)") {
      graft.ops.AsOf.asofJoin(purchases, clicks, "user_id", "ts",
        Seq("cents")).count()
    }
    time("asof native (merge-scan exec)") {
      graft.plans.AsOfNative.asofJoin(purchases, clicks, "user_id", "ts",
        Seq("cents")).count()
    }

    time("qd30 full") {
      val path = java.nio.file.Files.createTempDirectory("graft_mh").toString
      DedupIndex.writeMinhashIndex(
        docs.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), path)
      DedupIndex.nearDupAgainstIndex(spark,
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"), path,
        minEstimate = 0.5).count()
    }
    spark.stop()
  }
}

/** A/B for the portable-lane hash path: the declarative
  * min(substring(md5(...))) form vs the native [[graft.functions.Md5Lanes]]
  * long-lane form, alternated in ONE JVM so JIT/GC noise hits both sides
  * equally. Values are pinned equal by OpsSpec ("md5_lanes native
  * expression equals the declarative hex-slice form"); this measures cost
  * only. */
object LanesAb {
  import Profile.time

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.Tables.load(spark, sfDir, "documents").localCheckpoint()
    docs.count()
    val numLanes = 8
    val numChunks = (numLanes + 3) / 4
    def declarative(): Long = {
      val hashed = docs.select(col("doc_id"), col("source").as("block"),
          explode(array_distinct(TextAnalysis.tokens(col("text")))).as("w"))
        .select(col("doc_id") +: col("block") +: (0 until numChunks).map(m =>
          md5(concat(lit(m + ":"), col("w"))).as(s"h$m")): _*)
      val laneAggs = (0 until numLanes).map(s =>
        min(substring(col(s"h${s / 4}"), (s % 4) * 8 + 1, 8)).as(s"l$s"))
      hashed.groupBy(col("doc_id"), col("block"))
        .agg(laneAggs.head, laneAggs.tail: _*).count()
    }
    def native(): Long =
      Dedup.portableLanes(docs, col("doc_id"), col("source"), col("text"),
        numLanes).count()
    for (round <- 1 to 3) {
      time(s"lanes declarative (round $round)")(declarative())
      time(s"lanes native md5_lanes (round $round)")(native())
    }
    spark.stop()
  }
}

/** Scale probe (ARCHITECTURE.md evidence): times the near-dup family at
  * sf0.01 and sf0.1 (10× data) to confirm runtime and output volume grow
  * ~linearly post-blocking-fixes, then measures the composed vs native
  * as-of join on an events table inflated 10× (distinct key replicas, so
  * per-key density — what the window sort and the merge scan both care
  * about — is preserved while both sides grow). */
object ScaleProbe {
  import Profile.time

  private def nearDupFamily(spark: SparkSession, sfDir: String): Unit = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .localCheckpoint() // isolate scan cost from the operator timing
    val n = docs.count()
    println(s"[probe] $sfDir documents=$n")
    def run(label: String)(df: => DataFrame): Unit = {
      val rows = time(s"$sfDir $label")(df.count())
      println(s"[probe] $sfDir $label rows=$rows")
    }
    run("qd04 ngramJaccard cap256")(Dedup.ngramJaccardPairs(docs,
      col("doc_id"), col("source"), col("text"), threshold = 0.8,
      maxDocFreq = 256))
    run("qd05 minhash lsh")(Dedup.minhashNearDup(docs, col("doc_id"),
      col("text"), threshold = 0.8, block = col("source")))
    run("qd06 simhash r3")(Dedup.simhashNearDup(docs, col("doc_id"),
      col("text"), maxHamming = 3))
    run("qd23 shared passages")(Dedup.sharedPassages(docs, col("doc_id"),
      col("text"), n = 6, maxDocFreq = 50, minShared = 2))
    run("qd30 index neardup") {
      val path = java.nio.file.Files.createTempDirectory("graft_sp").toString
      DedupIndex.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), path)
      DedupIndex.nearDupAgainstIndex(spark,
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"), col("text"),
        path, minEstimate = 0.5)
    }
  }

  /** Round-3b additions: the curation/shuffle family added after the
    * near-dup probe — confirms runtime tracks input (narrow ops) or
    * true-pair volume (blocked joins) between sf0.01 and sf0.1. */
  private def curationFamily(spark: SparkSession, sfDir: String): Unit = {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .localCheckpoint()
    def run(label: String)(df: => DataFrame): Unit = {
      val rows = time(s"$sfDir $label")(df.count())
      println(s"[probe] $sfDir $label rows=$rows")
    }
    run("qd46 epochShuffle")(Sampling.epochShuffle(docs, col("doc_id"),
      "ep7"))
    run("qd48 weightedSample k=100")(Sampling.weightedSample(docs,
      col("doc_id"), col("n_chars"), k = 100))
    run("qd49 sourceOverlap n=5")(Dedup.sourceOverlap(docs, col("source"),
      col("text"), n = 5))
    run("qd50 percentileGate 0.6")(Sampling.percentileGate(docs,
      col("source"), TextAnalysis.qualityScore(col("text")),
      col("doc_id"), fraction = 0.6))
    run("qd51 simhash portable r3")(Dedup.simhashNearDupPortable(docs,
      col("doc_id"), col("text"), maxHamming = 3))
    run("qd52 epochUpsample")(Sampling.epochUpsample(docs, col("doc_id"),
      col("source"), Seq("src0" -> 2.5, "src1" -> 2.0, "src2" -> 0.5),
      1.0))
    run("qd53 priorityDedup")(Dedup.priorityDedup(docs, col("doc_id"),
      col("source"), col("text"), Seq("src0", "src1")))
  }

  /** Round-4 additions: the two-stage retrieval family — confirms the
    * stage-1 scans stay flat-per-row (narrow map + TakeOrdered) and the
    * rerank cost is bound by the shortlist, not the corpus. */
  private def retrievalFamily(spark: SparkSession, sfDir: String): Unit = {
    val embs = graft.Tables.load(spark, sfDir, "embeddings")
      .localCheckpoint()
    val n = embs.count()
    println(s"[probe] $sfDir embeddings=$n")
    def run(label: String)(df: => DataFrame): Unit = {
      val rows = time(s"$sfDir $label")(df.count())
      println(s"[probe] $sfDir $label rows=$rows")
    }
    run("qe23 binary topk")(Similarity.binaryTopK(embs, col("vec_id"),
      col("embedding"), queryId = 0L, k = 10, shortlist = 50))
    run("qe24 matryoshka topk")(Similarity.matryoshkaTopK(embs,
      col("vec_id"), col("embedding"), queryId = 0L, k = 10,
      prefixDims = 16, shortlist = 50))
    run("qe25 binary index") {
      val path = java.nio.file.Files.createTempDirectory("graft_bqp").toString
      AnnIndex.writeBinaryIndex(embs, col("vec_id"), col("embedding"), path)
      AnnIndex.queryBinaryIndex(spark, path, queryId = 0L, k = 10,
        shortlist = 50)
    }
    run("qe20 pq adc")(Similarity.pqTopK(embs, col("vec_id"),
      col("embedding"), queryId = 0L, k = 10))
    run("qe22 pq rerank")(Similarity.pqRerankTopK(embs, col("vec_id"),
      col("embedding"), queryId = 0L, k = 10, shortlist = 50))
  }

  /** Round-5 probe: the materialized cluster-map family at sf0.1 and at
    * a 10× "sf1-equivalent" built by replicating documents with disjoint
    * ids AND disjoint source blocks — each replica keeps the exact dup-
    * family structure of the base corpus (the production model: dup
    * families have ~constant size; the corpus gains more of them), so
    * pair volume, cluster count and map size all scale ×replicas while
    * per-family work is unchanged. Measures the write side (pair join +
    * min-label rounds), the star variant over the STORED pairs, and the
    * two probe-side joins. */
  private def clusterFamily(spark: SparkSession, sfDir: String,
      replicas: Int): Unit = {
    val base = graft.Tables.load(spark, sfDir, "documents")
    val docs = (if (replicas <= 1) Seq(base) else (0 until replicas).map(i =>
        base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          concat(col("source"), lit(s"#$i")).as("source"), col("text"))))
      .reduce(_.unionByName(_))
      .localCheckpoint()
    println(s"[probe] $sfDir x$replicas documents=${docs.count()}")
    def run(label: String)(f: => Long): Unit = {
      val rows = time(s"$sfDir x$replicas $label")(f)
      println(s"[probe] $sfDir x$replicas $label rows=$rows")
    }
    val path = java.nio.file.Files.createTempDirectory("graft_clpr").toString
    run("cluster-map WRITE (pairs + min-label + 2 parquet writes)") {
      DedupIndex.writeClusterMap(
        Dedup.ngramJaccardPairs(docs, col("doc_id"), col("source"),
          col("text"), threshold = 0.8, maxDocFreq = 256),
        col("doc_a"), col("doc_b"), path)
      DedupIndex.readClusterMap(spark, path).count()
    }
    run("star contraction over STORED pairs")(
      Dedup.dupClustersStar(DedupIndex.readClusterPairs(spark, path),
        col("doc_a"), col("doc_b")).count())
    run("PROBE leak-free split (map join only)")(
      Sampling.leakFreeSplitAssign(docs, col("doc_id"),
        DedupIndex.readClusterMap(spark, path), col("doc_id"),
        col("cluster"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).count())
    run("PROBE canonical selection (map join + keyed max)")(
      Dedup.clusterCanonical(DedupIndex.readClusterMap(spark, path),
        docs.withColumn("q", TextAnalysis.qualityScore(col("text"))),
        col("doc_id"), col("q")).count())
  }

  /** Sketch/retrieval-family scale probe: the claim under test is that
    * the sketch OUTPUTS (and thus their shuffles) are input-size-
    * INVARIANT — HLL ships ≤ 256 registers per group per partition and
    * CMS ≤ 4×width counters no matter how many tokens arrive, and BM25
    * shuffles one stats row — so ×10 input should move runtime ~linearly
    * (the scan) while shuffled bytes stay flat. Replicas get disjoint
    * doc_ids but the SAME source keys (the production model: more data
    * per group, not more groups). */
  private def sketchFamily(spark: SparkSession, sfDir: String,
      replicas: Int): Unit = {
    val base = graft.Tables.load(spark, sfDir, "documents")
    val docs = (if (replicas <= 1) Seq(base) else (0 until replicas).map(i =>
        base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          col("source"), col("text"))))
      .reduce(_.unionByName(_))
      .localCheckpoint()
    println(s"[probe] $sfDir x$replicas documents=${docs.count()}")
    def run(label: String)(f: => Long): Unit = {
      val rows = time(s"$sfDir x$replicas $label")(f)
      println(s"[probe] $sfDir x$replicas $label rows=$rows")
    }
    val toks = docs.select(col("source"),
      explode(TextAnalysis.tokens(col("text"))).as("w"))
    run("HLL distinct per source (native agg)")(
      Sketches.hllDistinctFast(toks, col("source"), col("w")).count())
    run("CMS sketch build (4x1024)")(
      Sketches.cmsSketch(toks.select("w"), col("w"), 1024).count())
    run("BM25 top-50")(
      TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"),
        Seq("spark", "merge", "window", "dup"), k = 50).count())
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (sys.env.contains("SPARK_GRAFT_PROBE_CURATION")) {
      curationFamily(spark, "/root/testdata/sf0.01")
      curationFamily(spark, "/root/testdata/sf0.1")
      spark.stop()
      return
    }

    if (sys.env.contains("SPARK_GRAFT_PROBE_PAIRS")) {
      // Stage decomposition of the near-dup pair generation that five
      // cluster-family queries re-run cold: where do its seconds go?
      val docs = graft.Tables.load(spark, "/root/testdata/sf0.1",
        "documents").localCheckpoint()
      val words = docs.select(col("doc_id"), col("source").as("block"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("w"))
      time("wordSet scan+explode")(words.count())
      time("sizes agg")(words.groupBy(col("doc_id"))
        .agg(count(lit(1))).count())
      val hot = words.groupBy(col("block"), col("w"))
        .agg(count(lit(1)).as("df")).filter(col("df") > 256)
        .select(col("block"), col("w"))
      time("hot-token pass")(hot.count())
      val posting = words.join(broadcast(hot), Seq("block", "w"),
        "left_anti")
      time("posting anti-join")(posting.count())
      time("full ngramJaccardPairs cap256")(
        Dedup.ngramJaccardPairs(docs, col("doc_id"), col("source"),
          col("text"), threshold = 0.8, maxDocFreq = 256).count())
      time("full x2 (warm)")(
        Dedup.ngramJaccardPairs(docs, col("doc_id"), col("source"),
          col("text"), threshold = 0.8, maxDocFreq = 256).count())
      spark.stop()
      return
    }

    if (sys.env.contains("SPARK_GRAFT_PROBE_INDEX")) {
      // qd30 stage decomposition: minhash index write vs probe vs the
      // 4.5M-pair output aggregation.
      val docs = graft.Tables.load(spark, "/root/testdata/sf0.1",
        "documents").localCheckpoint()
      val half = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)
      val path = java.nio.file.Files.createTempDirectory("graft_ip").toString
      time("writeMinhashIndex")(
        DedupIndex.writeMinhashIndex(half, col("doc_id"), col("text"),
          path))
      time("nearDupAgainstIndex count")(
        DedupIndex.nearDupAgainstIndex(spark, batch, col("doc_id"),
          col("text"), path, minEstimate = 0.5).count())
      time("probe candidates only")(
        DedupIndex.nearDupAgainstIndex(spark, batch, col("doc_id"),
          col("text"), path, minEstimate = 0.0).limit(1).count())
      spark.stop()
      return
    }

    if (sys.env.contains("SPARK_GRAFT_PROBE_RETRIEVAL")) {
      retrievalFamily(spark, "/root/testdata/sf0.01")
      retrievalFamily(spark, "/root/testdata/sf0.1")
      spark.stop()
      return
    }

    if (sys.env.contains("SPARK_GRAFT_PROBE_CLUSTER")) {
      clusterFamily(spark, "/root/testdata/sf0.1", replicas = 1)
      clusterFamily(spark, "/root/testdata/sf0.1", replicas = 10)
      spark.stop()
      return
    }

    if (sys.env.contains("SPARK_GRAFT_PROBE_SKETCH")) {
      sketchFamily(spark, "/root/testdata/sf0.1", replicas = 1)
      sketchFamily(spark, "/root/testdata/sf0.1", replicas = 10)
      spark.stop()
      return
    }

    nearDupFamily(spark, "/root/testdata/sf0.01")
    nearDupFamily(spark, "/root/testdata/sf0.1")

    // As-of crossover: both sides 10× sf0.1 (~100k purchases vs ~300k
    // clicks per replica set), replicas keyed apart so key cardinality
    // scales with data and per-key row counts stay realistic.
    val events = graft.Tables.loadEvents(spark, "/root/testdata/sf0.1")
    val inflated = (0 until 10).map { k =>
      events.withColumn("user_id", col("user_id") + lit(k * 1000000L))
    }.reduce(_.unionByName(_)).localCheckpoint()
    println(s"[probe] inflated events=${inflated.count()}")
    val purchases = inflated.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = inflated.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        floor(col("value") * lit(100.0)).cast("long").as("cents"))
    for (round <- 1 to 2) { // round 1 warms codegen; trust round 2
      time(s"asof composed 10x (round $round)") {
        graft.ops.AsOf.asofJoin(purchases, clicks, "user_id", "ts",
          Seq("cents")).count()
      }
      time(s"asof native 10x (round $round)") {
        graft.plans.AsOfNative.asofJoin(purchases, clicks, "user_id", "ts",
          Seq("cents")).count()
      }
    }
    spark.stop()
  }
}
