package graft.mmeds

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Parquet warehouse catalog: durability, append semantics, and the
  * scale property that matters — RLS resolving to partition pruning. */
class ParquetCatalogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("append/table round-trip, user_id partition layout, RLS pruning") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("warehouse").toString
    val cat = new ParquetCatalog(spark, root)
    cat.append("Lab", Seq((1L, "LabA", 2L), (2L, "LabB", 3L))
      .toDF("idLab", "LabName", "user_id"))
    cat.append("Lab", Seq((3L, "LabC", 2L))
      .toDF("idLab", "LabName", "user_id"))
    assert(cat.table("Lab").get.count() == 3)
    assert(cat.tableNames == Seq("Lab"))
    // hive partition dirs exist per user
    val dirs = new java.io.File(s"$root/Lab").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs == Seq("user_id=2", "user_id=3"))

    // the RLS filter becomes partition pruning, not a data scan filter
    val engine = new Engine(spark, cat)
    val visible = engine.forUser(3L).resolve("Lab")
    assert(visible.collect().map(_.getAs[String]("LabName")).toSeq ==
      Seq("LabB"))
    val physical = visible.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters") &&
      physical.contains("user_id"))

    // overwrite keeps partitioning and survives self-reference
    val without3 = cat.table("Lab").get.filter(col("user_id") =!= 3L)
    cat.overwrite("Lab", without3)
    assert(cat.table("Lab").get.count() == 2)
  }

  test("schema evolution: append with a new column null-fills old rows") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("warehouse").toString
    val cat = new ParquetCatalog(spark, root)
    cat.append("Study", Seq((1L, "s1")).toDF("idStudy", "StudyName"))
    // evolved append: a column the first write never had
    cat.append("Study",
      Seq((2L, "s2", "code2")).toDF("idStudy", "StudyName", "StudyCode"))
    val got = cat.table("Study").get.orderBy("idStudy").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // old row reads null for the evolved column; new row carries it
    assert(got(0).isNullAt(got(0).fieldIndex("StudyCode")))
    assert(got(1).getAs[String]("StudyCode") == "code2")
  }

  test("round-trip preserves column order and types despite hive partitioning") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("warehouse2").toString
    val cat = new ParquetCatalog(spark, root)
    val written = Seq((1L, 10L, "A"), (2L, 11L, "B"))
      .toDF("idLab", "user_id", "LabName")
    cat.append("Lab", written)
    val back = cat.table("Lab").get
    // hive inference alone would type user_id int and move it to the end;
    // the persisted schema restores names, order, and types as written
    // (nullability is always relaxed on a parquet read — expected)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      written.schema.map(f => (f.name, f.dataType)))
    // so typed Dataset reads and strict unions keep working
    assert(written.unionByName(back).count() == 4)
    assert(back.as[(Long, Long, String)].collect().sorted.toSeq ==
      Seq((1L, 10L, "A"), (2L, 11L, "B")))
  }

  test("table reuses its scan until the table is written, by any catalog on the root") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("warehouse3").toString
    val cat = new ParquetCatalog(spark, root)
    def labs(c: Catalog) =
      c.table("Lab").get.collect().map(_.getAs[String]("LabName")).sorted.toSeq
    cat.append("Lab", Seq((1L, "LabA", 2L)).toDF("idLab", "LabName", "user_id"))
    val first = cat.table("Lab").get
    assert(cat.table("Lab").get eq first)

    cat.append("Lab", Seq((2L, "LabB", 3L)).toDF("idLab", "LabName", "user_id"))
    assert(!(cat.table("Lab").get eq first))
    assert(labs(cat) == Seq("LabA", "LabB"))
    assert(cat.table("Lab").get eq cat.table("Lab").get)

    cat.overwrite("Lab", cat.table("Lab").get.filter(col("user_id") =!= 3L))
    assert(labs(cat) == Seq("LabA"))

    // a write through another catalog on the root is seen by its stamp
    new ParquetCatalog(spark, root).append("Lab",
      Seq((3L, "LabC", 4L)).toDF("idLab", "LabName", "user_id"))
    assert(labs(cat) == Seq("LabA", "LabC"))
    assert(cat.table("Study").isEmpty)
  }

  /** Natural columns the view stack reads, per table of a human-subject
    * catalog (the columns the sheets carry, as `Normalizer` stores them). */
  private val humanNaturals: Map[String, String] = Map(
    "Lab" -> "ContactEmail ContactName PrimaryInvestigator",
    "SampleProtocols" -> "SampleConditions SampleTool SampleToolVersion",
    "RawDataProtocols" -> ("FinishingStrategyCoverage FinishingStrategyStatus " +
      "NumberOfContigs SequencingMethod TargetGene"),
    "ResultsProtocols" -> "ResultsMethod ResultsTool ResultsToolVersion",
    "IllnessBroadCategory" -> "ICDFirstCharacter",
    "IllnessCategory" -> "ICDCategory",
    "IllnessDetails" -> "ICDDetails ICDExtension",
    "Interventions" -> "InterventionCode InterventionName InterventionType",
    "BodySite" -> "SpecimenBodySite UberonCodeBodySite",
    "Type" -> "SpecimenType UberonCodeType",
    "CollectionSite" -> ("Biome CollectionSiteName CollectionSiteTechnician " +
      "Depth Elevation Environment Feature Latitude Longitude Material"),
    "Study" -> "StudyName StudyType RelevantLinks",
    "Experiment" -> "ExperimentName",
    "Genotypes" -> "Genotype",
    "Ethnicity" -> "Ethnicity",
    "Subjects" -> "HostSubjectId Nationality Sex BirthYear",
    "Heights" -> "Height HeightDateCollected",
    "Weights" -> "Weight WeightDateCollected",
    "Illness" -> "IllnessInstanceID IllnessStartDate IllnessEndDate IllnessNotes",
    "Intervention" -> "InterventionStartDate InterventionEndDate InterventionNotes",
    "SubjectType" -> "SubjectType",
    "StorageLocation" -> "StorageInstitution StorageFreezer",
    "Specimen" -> ("SpecimenID SpecimenCollectionDate SpecimenCollectionMethod " +
      "SpecimenCollectionTime SpecimenNotes SpecimenWeight SpecimenWeightUnit"),
    "Aliquot" -> "AliquotID AliquotWeight AliquotWeightUnit",
    "SampleProtocol" -> "SampleProtocolID SampleProtocolNotes",
    "Sample" -> ("SampleID SampleWeight SampleWeightUnit SampleDatePerformed " +
      "SampleProcessor"),
    "RawDataProtocol" -> "RawDataProtocolID",
    "RawData" -> ("RawDataID BarcodeSequence LinkerPrimerSequence RawDataNotes " +
      "RawDataDatePerformed RawDataProcessor"),
    "ResultsProtocol" -> "ResultsProtocolID",
    "Results" -> "ResultID ResultsLocation ResultsDatePerformed ResultsProcessor")

  /** A human-subject catalog of `tables`: study k (1-based) is owned by
    * `owners(k - 1)` and holds one row per table, keyed k, with every
    * foreign key pointing at row k of its parent and every natural column
    * reading `<column>-k`. SubjectType carries no AnimalSubjects key, as
    * an ingest of human subjects leaves it. */
  private def humanCatalog(tables: Set[String], owners: Seq[Long]): ParquetCatalog = {
    val cat = new ParquetCatalog(spark,
      java.nio.file.Files.createTempDirectory("humans").toString)
    def write(name: String, naturals: Seq[String], keys: Seq[String]): Unit = {
      val schema = StructType(naturals.map(StructField(_, StringType)) ++
        (keys :+ "user_id").map(StructField(_, LongType)))
      val rows = owners.zipWithIndex.map { case (owner, i) =>
        val k = i + 1
        Row.fromSeq(naturals.map(c => s"$c-$k") ++ keys.map(_ => k.toLong) :+ owner)
      }
      cat.append(name, spark.createDataFrame(rows.asJava, schema))
    }
    for (t <- Schema.tableOrder if tables(t) && humanNaturals.contains(t))
      write(t, humanNaturals(t).split(" ").toSeq,
        Schema.parents.getOrElse(t, Nil).filter(tables).map(Schema.fkCol) :+
          Schema.idCol(t))
    for ((j, l, r) <- Schema.junctionTables if tables(l) && tables(r))
      write(j, Nil, Seq(Schema.fkCol(l), Schema.fkCol(r)))
    cat
  }

  test("SpecimenView over a ParquetCatalog: one user's rows plus the public ones") {
    val cat = humanCatalog(Set("Specimen", "Experiment", "Study"), Seq(1L, 2L, 3L))
    val got = new Engine(spark, cat).forUser(3L).views.specimenView
      .select("SpecimenID", "user_id", "StudyName").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(got == Seq(("SpecimenID-1", 1L, "StudyName-1"),
      ("SpecimenID-3", 3L, "StudyName-3")))
  }

  test("guarded SQL over a human-only catalog: SubjectTypeView lists the user's studies") {
    val tables = humanNaturals.keySet ++ Schema.junctionTables.map(_._1)
    val cat = humanCatalog(tables, Seq(1L, 2L, 3L))
    assert(!cat.table("SubjectType").get.columns
      .contains(Schema.fkCol("AnimalSubjects")))
    val got = new Engine(spark, cat).forUser(2L)
      .execute("SELECT StudyName FROM SubjectTypeView")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("StudyName-1", "StudyName-2"))
  }
}
