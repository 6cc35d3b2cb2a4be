package graft.mmeds

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the analysis-support operators (SURVEY §2.2/§2.5/§2.6
  * analysis rows): qiime mapping projection, OTU pivots, threshold
  * filter, lefse assembly, subset filters, child-ID generation. */
class AnalysisOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("qiime mapping: #SampleID leads, barcode next, dedup by sample") {
    val meta = Seq(
      ("s1", "GATC", "ACGT", "run0", "fecal"),
      ("s1", "GATC", "ACGT", "run0", "fecal"), // duplicate sample row
      ("s2", "TTAA", "ACGT", "run0", "oral"))
      .toDF("RawDataID", "BarcodeSequence", "LinkerPrimerSequence",
        "RawDataProtocolID", "BodySite")
    val m = AnalysisOps.qiimeMapping(meta)
    assert(m.columns.take(3).toSeq ==
      Seq("#SampleID", "BarcodeSequence", "LinkerPrimerSequence"))
    assert(m.count() == 2)
  }

  test("qiime mapping writer: swap order, MmedsSampleID, #q2:types row (golden)") {
    // reference layout: RawDataID buried mid-sheet, SampleID present —
    // util.py:969-991 SWAPS RawDataID with col 0 (displaced header lands
    // in RawDataID's old slot) and renames SampleID -> MmedsSampleID
    val meta = Seq(
      ("s1", "fecal", "r1", "GATC", "ACGT"),
      ("s2", "oral", "r2", "TTAA", "ACGT"))
      .toDF("SampleID", "BodySite", "RawDataID", "BarcodeSequence",
        "LinkerPrimerSequence")
    val m = AnalysisOps.qiimeMapping(meta)
    assert(m.columns.toSeq == Seq("#SampleID", "BarcodeSequence",
      "LinkerPrimerSequence", "BodySite", "MmedsSampleID"))
    val path = java.nio.file.Files.createTempFile("qiime", ".tsv").toString
    AnalysisOps.writeQiimeMapping(m.orderBy(col("#SampleID")), path)
    val golden = Seq(
      "#SampleID\tBarcodeSequence\tLinkerPrimerSequence\tBodySite\tMmedsSampleID",
      "#q2:types\tcategorical\tcategorical\tcategorical\tcategorical",
      "r1\tGATC\tACGT\tfecal\ts1",
      "r2\tTTAA\tACGT\toral\ts2",
      "").mkString("\n")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path)) == golden)
  }

  test("OTU wide -> long -> wide round-trips") {
    val wide = Seq(("otu1", 5.0, 0.0), ("otu2", 1.0, 3.0))
      .toDF("OTU_id", "sampleA", "sampleB")
    val long = AnalysisOps.otuWideToLong(wide)
    assert(long.count() == 4)
    assert(long.filter(col("otu_id") === "otu2" &&
      col("sample_id") === "sampleB").head().getDouble(2) == 3.0)
    val back = AnalysisOps.otuLongToWide(long)
      .orderBy("otu_id").collect()
    assert(back.map(_.getString(0)).toSeq == Seq("otu1", "otu2"))
    assert(back(0).getDouble(1) == 5.0 && back(1).getDouble(2) == 3.0)
  }

  test("threshold filter drops shallow samples via semi-join") {
    val long = Seq(("otu1", "sA", 5.0), ("otu2", "sA", 6.0),
      ("otu1", "sB", 1.0)).toDF("otu_id", "sample_id", "count")
    val kept = AnalysisOps.thresholdFilter(long, depth = 10.0)
    assert(kept.select("sample_id").distinct().as[String]
      .collect().toSeq == Seq("sA"))
  }

  test("lefse table joins class/subclass/subject onto features") {
    val feats = Seq(("sA", "otu1", 5.0), ("sB", "otu1", 2.0))
      .toDF("sample_id", "otu_id", "count")
    val mapping = Seq(("sA", "case", "sub1", "subj1"),
      ("sB", "ctrl", "sub2", "subj2"))
      .toDF("RawDataID", "Condition", "Sub", "Subj")
    val t = AnalysisOps.lefseTable(feats, mapping, "Condition",
      Some("Sub"), "Subj")
    assert(t.count() == 2)
    assert(t.filter(col("sample_id") === "sA")
      .head().getAs[String]("Condition") == "case")
  }

  test("sample subset and per-run mapping subset") {
    val meta = Seq(("s1", "run0"), ("s2", "run0"), ("s3", "run1"))
      .toDF("RawDataID", "RawDataProtocolID")
    assert(AnalysisOps.sampleSubset(meta, Seq("s1", "s3")).count() == 2)
    assert(AnalysisOps.mappingForRun(meta, "run1").count() == 1)
  }

  test("grouped mapping file: #q2:types first, categories in appearance order") {
    val mapping = Seq("b", "a", "b", "c", "a").map(Tuple1(_))
      .toDF("BodySite")
    val got = AnalysisOps.groupedMappingFile(mapping, "BodySite")
    assert(got.columns.toSeq == Seq("#SampleID"))
    assert(got.collect().map(_.getString(0)).toSeq ==
      Seq("#q2:types", "b", "a", "c"))
  }

  test("child-ID generation continues from the existing count per parent") {
    val existing = Seq((10L, "S10-Aliquot0"), (10L, "S10-Aliquot1"))
      .toDF("idSpecimen", "AliquotID")
    val fresh = Seq((10L, "S10", 1L), (10L, "S10", 2L), (20L, "S20", 3L))
      .toDF("idSpecimen", "SpecimenID", "ord")
    val ids = IdGen.assignChildIds(fresh, Some(existing),
      parentKey = "idSpecimen", parentIdCol = "SpecimenID",
      orderBy = col("ord"), label = "Aliquot", idColName = "AliquotID")
      .orderBy("ord").as[(Long, String, Long, String)].collect()
    // specimen 10 already has 2 aliquots -> new ones start at 2
    assert(ids(0)._4 == "S10-Aliquot2" && ids(1)._4 == "S10-Aliquot3")
    // specimen 20 has none -> starts at 0
    assert(ids(2)._4 == "S20-Aliquot0")
  }

  test("per-study ID export: only the named study, unsampled aliquots keep a null SampleID") {
    val cat = new InMemoryCatalog
    cat.overwrite("Study", Seq((1L, "S1"), (2L, "S2"))
      .toDF("idStudy", "StudyName"))
    cat.overwrite("Experiment", Seq((11L, 1L), (12L, 2L))
      .toDF("idExperiment", "Study_idStudy"))
    cat.overwrite("Specimen",
      Seq((21L, "SP1", 11L), (22L, "SP2", 12L), (23L, "SP3", 11L))
        .toDF("idSpecimen", "SpecimenID", "Experiment_idExperiment"))
    cat.overwrite("Aliquot",
      Seq((31L, "A1", 21L), (32L, "A2", 21L), (33L, "A3", 22L),
        (34L, "A4", 23L))
        .toDF("idAliquot", "AliquotID", "Specimen_idSpecimen"))
    cat.overwrite("Sample",
      Seq((41L, "SA1", 31L), (42L, "SA2", 31L), (43L, "SA3", 33L))
        .toDF("idSample", "SampleID", "Aliquot_idAliquot"))
    val got = IdGen.idsForStudy(cat, "S1")
    assert(got.columns.toSeq ==
      Seq("StudyName", "SpecimenID", "AliquotID", "SampleID"))
    val rows = got.collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), Option(r.getString(3))))
      .sortBy(t => (t._2, t._3, t._4.getOrElse(""))).toSeq
    assert(rows == Seq(
      ("S1", "SP1", "A1", Some("SA1")),
      ("S1", "SP1", "A1", Some("SA2")),
      ("S1", "SP1", "A2", None),
      ("S1", "SP3", "A4", None)))
  }
}
