package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.util.Random

/** Seeded generator of MMEDS human metadata sheets in the reference's
  * 5-header-row TSV format (table, column, Required/Optional, declared
  * type, note; data from row 6, `NA` the only null token), together with
  * the ground truth the benchmark checks the program's answers against.
  *
  * Every natural key of a row-level-secured table carries the study name,
  * so no two users ever share a protected tuple: each user's visible rows
  * are exactly the rows of the studies it owns plus those of the public
  * user. Everything is a function of the seed; the program only ever sees
  * the TSV files written from it.
  */
object Sheets {

  case class Col(table: String, column: String, required: Boolean,
      dtype: String, note: String) {
    def flat: String = s"${table}__$column"
  }

  private def req(t: String, c: String, ty: String = "Text",
      note: String = "Limit 45 Characters") = Col(t, c, true, ty, note)
  private def opt(t: String, c: String, ty: String = "Text",
      note: String = "Limit 45 Characters") = Col(t, c, false, ty, note)

  val subjectCols: Seq[Col] = Seq(
    req("Subjects", "HostSubjectId", "Text: Must be unique"),
    opt("Subjects", "Nationality"), opt("Subjects", "Sex"),
    opt("Subjects", "BirthYear", "Number", "Year"),
    req("SubjectType", "SubjectType"),
    opt("Ethnicity", "Ethnicity"), opt("Genotypes", "Genotype"),
    opt("Heights", "Height", "Number", "Meters"),
    opt("Heights", "HeightDateCollected", "Date", "Year-Month-Day"),
    opt("Weights", "Weight", "Number", "Kilogram"),
    opt("Weights", "WeightDateCollected", "Date", "Year-Month-Day"),
    opt("ICDCode", "ICDCode", "Text", "Limit 8 Characters"),
    opt("Illness", "IllnessInstanceID"),
    opt("Illness", "IllnessStartDate", "Date", "Year-Month-Day"),
    opt("Illness", "IllnessEndDate", "Date", "Year-Month-Day"),
    opt("Illness", "IllnessNotes"),
    opt("Intervention", "InterventionStartDate", "Date", "Year-Month-Day"),
    opt("Intervention", "InterventionEndDate", "Date", "Year-Month-Day"),
    opt("Intervention", "InterventionNotes"),
    opt("Interventions", "InterventionCode"),
    opt("Interventions", "InterventionName"),
    opt("Interventions", "InterventionType"),
    opt("AdditionalMetaData", "SomeOtherInfo"))

  val specimenCols: Seq[Col] = Seq(
    req("Aliquot", "AliquotID", "Text: Must be unique"),
    opt("Aliquot", "AliquotWeight", "Number", "Gram"),
    opt("Aliquot", "AliquotWeightUnit"),
    opt("BodySite", "SpecimenBodySite"), opt("BodySite", "UberonCodeBodySite"),
    opt("CollectionSite", "Biome"), opt("CollectionSite", "CollectionSiteName"),
    opt("CollectionSite", "CollectionSiteTechnician"),
    opt("CollectionSite", "Depth", "Number", "Meters"),
    opt("CollectionSite", "Elevation", "Number", "Meters"),
    opt("CollectionSite", "Environment"), opt("CollectionSite", "Feature"),
    opt("CollectionSite", "Latitude", "Number", "Degrees"),
    opt("CollectionSite", "Longitude", "Number", "Degrees"),
    opt("CollectionSite", "Material"),
    req("Experiment", "ExperimentName"),
    req("Lab", "ContactEmail", "Email"), opt("Lab", "ContactName"),
    req("Lab", "PrimaryInvestigator"),
    req("RawData", "RawDataID", "Text: Must be unique"),
    req("RawData", "BarcodeSequence"), req("RawData", "LinkerPrimerSequence"),
    opt("RawData", "RawDataNotes"),
    opt("RawData", "RawDataDatePerformed", "Date", "Year-Month-Day"),
    opt("RawData", "RawDataProcessor"),
    req("RawDataProtocol", "RawDataProtocolID"),
    opt("RawDataProtocols", "FinishingStrategyCoverage"),
    opt("RawDataProtocols", "FinishingStrategyStatus"),
    opt("RawDataProtocols", "NumberOfContigs", "Number", "Count"),
    opt("RawDataProtocols", "SequencingMethod"),
    opt("RawDataProtocols", "TargetGene"),
    opt("Results", "ResultID"), opt("Results", "ResultsLocation"),
    opt("Results", "ResultsDatePerformed", "Date", "Year-Month-Day"),
    opt("Results", "ResultsProcessor"),
    opt("ResultsProtocol", "ResultsProtocolID"),
    opt("ResultsProtocols", "ResultsMethod"),
    opt("ResultsProtocols", "ResultsTool"),
    opt("ResultsProtocols", "ResultsToolVersion"),
    req("Sample", "SampleID"), opt("Sample", "SampleWeight", "Number", "Gram"),
    opt("Sample", "SampleWeightUnit"),
    opt("Sample", "SampleDatePerformed", "Date", "Year-Month-Day"),
    opt("Sample", "SampleProcessor"),
    req("SampleProtocol", "SampleProtocolID"),
    opt("SampleProtocol", "SampleProtocolNotes"),
    opt("SampleProtocols", "SampleConditions"),
    opt("SampleProtocols", "SampleTool"),
    opt("SampleProtocols", "SampleToolVersion"),
    req("Specimen", "SpecimenID", "Text: Must be unique"),
    opt("Specimen", "SpecimenCollectionDate", "Date", "Year-Month-Day"),
    opt("Specimen", "SpecimenCollectionMethod"),
    opt("Specimen", "SpecimenCollectionTime", "Time", "HH:MM"),
    opt("Specimen", "SpecimenNotes"),
    opt("Specimen", "SpecimenWeight", "Number", "Gram"),
    opt("Specimen", "SpecimenWeightUnit"),
    opt("StorageLocation", "StorageInstitution"),
    opt("StorageLocation", "StorageFreezer"),
    req("Study", "StudyName"), opt("Study", "StudyType"),
    opt("Study", "RelevantLinks", "Web Address"),
    opt("Type", "SpecimenType"), opt("Type", "UberonCodeType"),
    opt("AdditionalMetaData", "SubjectIdCol", "Text", "Limit 256 Characters"))

  val bodySites: IndexedSeq[String] =
    IndexedSeq("gut", "skin", "oral", "nasal", "vaginal", "blood")
  val targetGenes: IndexedSeq[String] = IndexedSeq("16S", "18S", "ITS")
  val studyTypes: IndexedSeq[String] =
    IndexedSeq("Cohort", "CaseControl", "Intervention", "Survey")

  /** Who owns a specimen's raw data: the rows a user may see. */
  case class SpecimenTruth(rawDataId: String, study: String, owner: Long)

  case class Study(name: String, owner: Long,
      subjects: IndexedSeq[Map[String, String]],
      specimens: IndexedSeq[Map[String, String]],
      truth: IndexedSeq[SpecimenTruth])

  /** Defect kinds [[withDefect]] plants, named by the finding kind the
    * Validator must report for each. */
  val defectKinds: IndexedSeq[String] = IndexedSeq(
    "Missing Required Value", "Barcode", "Future Date", "Duplicate Value",
    "Cell Wrong Type")

  private def date(r: Random, fromYear: Int, years: Int): String = {
    val y = fromYear + r.nextInt(years)
    f"$y%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
  }
  private def dna(r: Random, n: Int): String =
    Iterator.fill(n)("GATC".charAt(r.nextInt(4))).mkString
  private def num1(d: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, d)

  /** One study of `nSpec` specimens over `nSpec / 2` subjects, each
    * specimen with exactly one aliquot, sample, raw data and result. */
  def study(r: Random, name: String, owner: Long, nSpec: Int): Study = {
    val nSubj = math.max(1, nSpec / 2)
    val subjects = (0 until nSubj).map { j =>
      val startYear = 2001 + r.nextInt(10)
      val start = f"$startYear%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
      val end = s"${startYear + 1}" + start.drop(4)
      Map(
        "Subjects__HostSubjectId" -> s"${name}_h$j",
        "Subjects__Nationality" -> IndexedSeq("USA", "Peru", "Kenya", "India")(r.nextInt(4)),
        "Subjects__Sex" -> (if (r.nextBoolean()) "F" else "M"),
        "Subjects__BirthYear" -> (1940 + r.nextInt(60)).toString,
        "SubjectType__SubjectType" -> "Human",
        "Ethnicity__Ethnicity" -> IndexedSeq("Hispanic", "NotHispanic", "Unknown")(r.nextInt(3)),
        "Genotypes__Genotype" -> IndexedSeq("AA", "AB", "BB")(r.nextInt(3)),
        "Heights__Height" -> num1(1.4 + r.nextDouble() * 0.5),
        "Heights__HeightDateCollected" -> date(r, 2012, 5),
        "Weights__Weight" -> num1(45 + r.nextDouble() * 50),
        "Weights__WeightDateCollected" -> date(r, 2012, 5),
        "ICDCode__ICDCode" -> f"${"ABCDE".charAt(r.nextInt(5))}${10 + r.nextInt(80)}%d.${100 + r.nextInt(900)}%d${r.nextInt(10)}%d",
        "Illness__IllnessInstanceID" -> s"${name}_i$j",
        "Illness__IllnessStartDate" -> start,
        "Illness__IllnessEndDate" -> end,
        "Illness__IllnessNotes" -> "none",
        "Intervention__InterventionStartDate" -> start,
        "Intervention__InterventionEndDate" -> end,
        "Intervention__InterventionNotes" -> "none",
        "Interventions__InterventionCode" -> s"IC${r.nextInt(5)}",
        "Interventions__InterventionName" -> s"Treatment${r.nextInt(5)}",
        "Interventions__InterventionType" -> IndexedSeq("Drug", "Diet")(r.nextInt(2)),
        "AdditionalMetaData__SomeOtherInfo" -> s"info${r.nextInt(4)}")
    }
    val studyType = studyTypes(r.nextInt(studyTypes.size))
    val gene = targetGenes(r.nextInt(targetGenes.size))
    val pi = s"PI $name"
    val specimens = (0 until nSpec).map { i =>
      val subj = subjects(i % nSubj)
      val site = bodySites(r.nextInt(bodySites.size))
      Map(
        "Aliquot__AliquotID" -> s"${name}_a$i",
        "Aliquot__AliquotWeight" -> num1(0.1 + r.nextDouble()),
        "Aliquot__AliquotWeightUnit" -> "g",
        "BodySite__SpecimenBodySite" -> site,
        "BodySite__UberonCodeBodySite" -> s"UBERON:${1000 + bodySites.indexOf(site)}",
        "CollectionSite__Biome" -> "urban",
        "CollectionSite__CollectionSiteName" -> s"Site${r.nextInt(8)}",
        "CollectionSite__CollectionSiteTechnician" -> s"Tech${r.nextInt(4)}",
        "CollectionSite__Depth" -> "0.0",
        "CollectionSite__Elevation" -> num1(10 + r.nextInt(4) * 100),
        "CollectionSite__Environment" -> "clinic",
        "CollectionSite__Feature" -> "hospital",
        "CollectionSite__Latitude" -> "40.7", "CollectionSite__Longitude" -> "-74.0",
        "CollectionSite__Material" -> "feces",
        "Experiment__ExperimentName" -> s"${name}_exp",
        "Lab__ContactEmail" -> s"lab$owner@example.org",
        "Lab__ContactName" -> s"Contact $name",
        "Lab__PrimaryInvestigator" -> pi,
        "RawData__RawDataID" -> s"${name}_r$i",
        "RawData__BarcodeSequence" -> dna(r, 12),
        "RawData__LinkerPrimerSequence" -> "GTGCCAGCMGCCGCGGTAA".replace('M', 'A'),
        "RawData__RawDataNotes" -> "ok",
        "RawData__RawDataDatePerformed" -> date(r, 2015, 5),
        "RawData__RawDataProcessor" -> s"Proc${r.nextInt(3)}",
        "RawDataProtocol__RawDataProtocolID" -> s"${name}_rp",
        "RawDataProtocols__FinishingStrategyCoverage" -> "10x",
        "RawDataProtocols__FinishingStrategyStatus" -> "Complete",
        "RawDataProtocols__NumberOfContigs" -> "1",
        "RawDataProtocols__SequencingMethod" -> "Illumina",
        "RawDataProtocols__TargetGene" -> gene,
        "Results__ResultID" -> s"${name}_x$i",
        "Results__ResultsLocation" -> s"/results/${name}",
        "Results__ResultsDatePerformed" -> date(r, 2016, 4),
        "Results__ResultsProcessor" -> "Pipeline",
        "ResultsProtocol__ResultsProtocolID" -> s"${name}_xp",
        "ResultsProtocols__ResultsMethod" -> "qiime2",
        "ResultsProtocols__ResultsTool" -> "dada2",
        "ResultsProtocols__ResultsToolVersion" -> "1.0",
        "Sample__SampleID" -> s"${name}_s$i",
        "Sample__SampleWeight" -> num1(0.1 + r.nextDouble()),
        "Sample__SampleWeightUnit" -> "g",
        "Sample__SampleDatePerformed" -> date(r, 2014, 5),
        "Sample__SampleProcessor" -> s"Proc${r.nextInt(3)}",
        "SampleProtocol__SampleProtocolID" -> s"${name}_sp",
        "SampleProtocol__SampleProtocolNotes" -> "none",
        "SampleProtocols__SampleConditions" -> "frozen",
        "SampleProtocols__SampleTool" -> "kit",
        "SampleProtocols__SampleToolVersion" -> "2",
        "Specimen__SpecimenID" -> s"${name}_p$i",
        "Specimen__SpecimenCollectionDate" -> date(r, 2013, 5),
        "Specimen__SpecimenCollectionMethod" -> "swab",
        "Specimen__SpecimenCollectionTime" -> f"${r.nextInt(24)}%02d:${r.nextInt(60)}%02d",
        "Specimen__SpecimenNotes" -> "none",
        "Specimen__SpecimenWeight" -> num1(0.5 + r.nextDouble() * 4.5),
        "Specimen__SpecimenWeightUnit" -> "g",
        "StorageLocation__StorageInstitution" -> "Biobank",
        "StorageLocation__StorageFreezer" -> s"F${r.nextInt(3)}",
        "Study__StudyName" -> name,
        "Study__StudyType" -> studyType,
        "Study__RelevantLinks" -> s"https://example.org/$name",
        "Type__SpecimenType" -> "stool",
        "Type__UberonCodeType" -> "UBERON:0001988",
        "AdditionalMetaData__SubjectIdCol" -> subj("Subjects__HostSubjectId"))
    }
    val truth = specimens.map(s => SpecimenTruth(s("RawData__RawDataID"), name, owner))
    Study(name, owner, subjects, specimens, truth)
  }

  /** Plant one defect of `kind` into a copy of the study's sheets; the
    * Validator must report a finding of exactly that kind. */
  def withDefect(s: Study, kind: String, r: Random): Study = {
    val i = r.nextInt(s.specimens.size)
    def setSpec(col: String, v: String) =
      s.copy(specimens = s.specimens.updated(i, s.specimens(i) + (col -> v)))
    kind match {
      case "Missing Required Value" => setSpec("RawData__LinkerPrimerSequence", "NA")
      case "Barcode" =>
        val bc = s.specimens(i)("RawData__BarcodeSequence")
        setSpec("RawData__BarcodeSequence", "N" + bc.drop(1))
      case "Future Date" => setSpec("Specimen__SpecimenCollectionDate", "2999-06-01")
      case "Duplicate Value" =>
        val j = (i + 1) % s.specimens.size
        setSpec("RawData__RawDataID", s.specimens(j)("RawData__RawDataID"))
      case "Cell Wrong Type" => setSpec("Specimen__SpecimenWeight", "heavy")
    }
  }

  /** Write rows in the 5-header-row TSV format. */
  def writeTsv(path: Path, cols: Seq[Col],
      rows: Seq[Map[String, String]]): Unit = {
    val sb = new StringBuilder
    def line(xs: Seq[String]): Unit = { sb.append(xs.mkString("\t")); sb.append('\n') }
    line(cols.map(_.table)); line(cols.map(_.column))
    line(cols.map(c => if (c.required) "Required" else "Optional"))
    line(cols.map(_.dtype)); line(cols.map(_.note))
    rows.foreach(r => line(cols.map(c => r.getOrElse(c.flat, "NA"))))
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Write a study's subject and specimen sheets plus its truth file
    * (RawDataID, study, owner per specimen) under `dir`. */
  def writeStudy(dir: Path, s: Study): (Path, Path) = {
    val subj = dir.resolve(s"${s.name}_subject.tsv")
    val spec = dir.resolve(s"${s.name}_specimen.tsv")
    writeTsv(subj, subjectCols, s.subjects)
    writeTsv(spec, specimenCols, s.specimens)
    Files.write(dir.resolve(s"${s.name}_truth.tsv"),
      s.truth.map(t => s"${t.rawDataId}\t${t.study}\t${t.owner}")
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    (subj, spec)
  }
}
