package graft.mmeds

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The denormalizing view stack (sql/views.sql:8-84) re-expressed as
  * DataFrame joins: SpecimenView/SampleView/SubjectTypeView/SubjectView,
  * the three *Table flagships, and MetaAnalysisView — the query surface
  * for meta-analysis.
  *
  * All dimension sides are broadcast; the fact chain (Specimen → Aliquot
  * → Sample → RawData → Results) shuffles only on its FK keys. In the
  * reference MySQL re-expands these views per query; on Spark the plan
  * inlines and Catalyst prunes columns/pushes filters through them.
  */
class Views(spark: SparkSession, tableOf: String => DataFrame) {

  private def t(name: String): DataFrame = tableOf(name)
  private def b(name: String): DataFrame = broadcast(tableOf(name))
  private def fk(parent: String): String = Schema.fkCol(parent)
  private def id(table: String): String = Schema.idCol(table)

  /** Specimen ⋈ Experiment ⋈ Study (views.sql:8-21). */
  def specimenView: DataFrame =
    t("Specimen")
      .join(b("Experiment"), col(fk("Experiment")) === col(id("Experiment")))
      .join(b("Study"), col(fk("Study")) === col(id("Study")))
      .select(t("Specimen")(id("Specimen")), col("SpecimenID"),
        t("Specimen")("user_id"), col("SpecimenCollectionDate"),
        col("SpecimenNotes"), col("SpecimenCollectionTime"),
        col("SpecimenWeight"), col("SpecimenWeightUnit"), col("StudyName"))

  /** Sample ⋈ SampleProtocol ⋈ SampleProtocols (views.sql:24-39). */
  def sampleView: DataFrame =
    t("Sample")
      .join(b("SampleProtocol"),
        col(fk("SampleProtocol")) === col(id("SampleProtocol")))
      .join(b("SampleProtocols"),
        col(fk("SampleProtocols")) === col(id("SampleProtocols")))
      .select(col(id("Sample")), col(fk("Aliquot")), col("SampleID"),
        col("SampleDatePerformed"), col("SampleProcessor"),
        col("SampleProtocolNotes"), col("SampleProtocolID"),
        col("SampleConditions"), col("SampleTool"), col("SampleToolVersion"))

  /** SubjectType ⋈ junction ⋈ Experiment ⋈ Study (views.sql:42-50). A
    * catalog of one species never stored the other's key on SubjectType;
    * it reads as a null bigint. */
  def subjectTypeView: DataFrame = {
    val st = t("SubjectType")
    def key(species: String): Column =
      if (st.columns.contains(fk(species))) col(fk(species))
      else lit(null).cast(LongType).as(fk(species))
    st.join(t("SubjectType_has_Experiment"),
        col(id("SubjectType")) === col(fk("SubjectType")))
      .join(b("Experiment"), col(fk("Experiment")) === col(id("Experiment")))
      .join(b("Study"), col(fk("Study")) === col(id("Study")))
      .select(col("StudyName"), key("Subjects"), key("AnimalSubjects"))
  }

  /** Subjects ⋈ SubjectTypeView (views.sql:54-62). */
  def subjectView: DataFrame =
    t("Subjects").join(subjectTypeView,
        col(id("Subjects")) === col(fk("Subjects")))
      .select(col(id("Subjects")), col("HostSubjectId"), col("Nationality"),
        col("Sex"), col("BirthYear"), col("StudyName"))

  /** The human-subject flagship join (views.sql:66-69): Subjects ⋈ both
    * junctions ⋈ Heights/Weights ⋈ Illness chain ⋈ Intervention chain ⋈
    * SubjectType, DISTINCT, with the reassembled ICD code. */
  def subjectTable: DataFrame = {
    val subj = t("Subjects")
    val she = t("Subjects_has_Ethnicity")
      .join(b("Ethnicity"), col(fk("Ethnicity")) === col(id("Ethnicity")))
    val shg = t("Subjects_has_Genotypes")
      .join(b("Genotypes"), col(fk("Genotypes")) === col(id("Genotypes")))
    val illness = t("Illness")
      .join(b("IllnessDetails"),
        col(fk("IllnessDetails")) === col(id("IllnessDetails")))
      .join(b("IllnessCategory"),
        col(fk("IllnessCategory")) === col(id("IllnessCategory")))
      .join(b("IllnessBroadCategory"),
        col(fk("IllnessBroadCategory")) === col(id("IllnessBroadCategory")))
    val intervention = t("Intervention")
      .join(b("Interventions"),
        col(fk("Interventions")) === col(id("Interventions")))

    subj
      .join(she, subj(id("Subjects")) === she(fk("Subjects")))
      .join(shg, subj(id("Subjects")) === shg(fk("Subjects")))
      .join(t("Heights"), subj(id("Subjects")) === t("Heights")(fk("Subjects")))
      .join(illness, subj(id("Subjects")) === illness(fk("Subjects")))
      .join(intervention,
        subj(id("Subjects")) === intervention(fk("Subjects")))
      .join(t("Weights"), subj(id("Subjects")) === t("Weights")(fk("Subjects")))
      .join(t("SubjectType"),
        subj(id("Subjects")) === t("SubjectType")(fk("Subjects")))
      .select(subj(id("Subjects")),
        col(id("SubjectType")).as("idSubjectTypeHuman"),
        col("Ethnicity"), col("Genotype"), col("Height"),
        col("HeightDateCollected"),
        Icd.reassembled(col("ICDFirstCharacter"), col("ICDCategory"),
          col("ICDDetails"), col("ICDExtension")).as("ICDCode"),
        col("IllnessInstanceID"), col("IllnessStartDate"),
        col("IllnessEndDate"), col("IllnessNotes"),
        col("InterventionStartDate"), col("InterventionEndDate"),
        col("InterventionNotes"), col("InterventionCode"),
        col("InterventionName"), col("InterventionType"), col("BirthYear"),
        col("HostSubjectId"), col("Nationality"),
        subj("Sex").as("SexHuman"), col("Weight"),
        col("WeightDateCollected"))
      .distinct()
  }

  /** Animal-husbandry flagship join (views.sql:72-74). */
  def animalSubjectTable: DataFrame = {
    val as = t("AnimalSubjects")
    val strain = t("Strain")
      .join(b("Species"), col(fk("Species")) === col(id("Species")))
    val housing = t("HousingDates")
      .join(b("Housing"), col(fk("Housing")) === col(id("Housing")))
    val chow = t("ChowDates")
      .join(b("Chow"), col(fk("Chow")) === col(id("Chow")))
    as
      .join(t("SubjectType"),
        as(id("AnimalSubjects")) === t("SubjectType")(fk("AnimalSubjects")))
      .join(b("Facility"), col(fk("Facility")) === col(id("Facility")))
      .join(b("Vendor"), col(fk("Vendor")) === col(id("Vendor")))
      .join(strain, col(fk("Strain")) === col(id("Strain")))
      .join(b("Husbandry"), col(fk("Husbandry")) === col(id("Husbandry")))
      .join(housing,
        as(id("AnimalSubjects")) === housing(fk("AnimalSubjects")))
      .join(chow, as(fk("ChowDates")) === chow(id("ChowDates")))
      .select(as(id("AnimalSubjects")),
        col(id("SubjectType")).as("idSubjectTypeAnimal"),
        col("BirthDate"), col("AnimalWeight"), as("Sex").as("SexAnimal"),
        col("AnimalSubjectID"), col("SubjectType"), col("FacilityName"),
        col("FacilityLocation"), col("VendorName"), col("VendorLocation"),
        col("VendorStrainInfo"), col("StrainName"), col("StrainProducer"),
        col("StrainID"), col("SpeciesName"), col("BreedingProgram"),
        col("LightDarkCycle"), col("Temperature"),
        col("EnvironmentalEnrichment"), col("TypeOfFacility"),
        col("TypeOfBedding"), col("TypeOfHousing"),
        col("NumberOfCageCompanions"), col("TankShape"),
        col("TankMaterial"), col("TankID"), col("HousingStartDate"),
        col("HousingEndDate"), col("ChowStartDate"), col("ChowEndDate"),
        col("Company"), col("ProductName"), col("ProductCode"))
      .distinct()
  }

  /** The ~19-table specimen flagship join (views.sql:77-79). */
  def specimenTable: DataFrame = {
    val sp = t("Specimen")
    val studyChain = t("Experiment")
      .join(b("Study"), col(fk("Study")) === col(id("Study")))
      .join(b("Lab"), col(fk("Lab")) === col(id("Lab")))
    val sampleChain = t("Sample")
      .join(b("SampleProtocol"),
        col(fk("SampleProtocol")) === col(id("SampleProtocol")))
      .join(b("SampleProtocols"),
        col(fk("SampleProtocols")) === col(id("SampleProtocols")))
    val rawChain = t("RawData")
      .join(b("RawDataProtocol"),
        col(fk("RawDataProtocol")) === col(id("RawDataProtocol")))
      .join(b("RawDataProtocols"),
        col(fk("RawDataProtocols")) === col(id("RawDataProtocols")))
    val resultsChain = t("Results")
      .join(b("ResultsProtocol"),
        col(fk("ResultsProtocol")) === col(id("ResultsProtocol")))
      .join(b("ResultsProtocols"),
        col(fk("ResultsProtocols")) === col(id("ResultsProtocols")))

    sp
      .join(t("Aliquot"), sp(id("Specimen")) === t("Aliquot")(fk("Specimen")))
      .join(b("BodySite"), sp(fk("BodySite")) === col(id("BodySite")))
      .join(b("CollectionSite"),
        sp(fk("CollectionSite")) === col(id("CollectionSite")))
      .join(studyChain, sp(fk("Experiment")) === col(id("Experiment")))
      .join(sampleChain,
        t("Aliquot")(id("Aliquot")) === sampleChain(fk("Aliquot")))
      .join(rawChain, sampleChain(id("Sample")) === rawChain(fk("Sample")))
      .join(resultsChain,
        rawChain(id("RawData")) === resultsChain(fk("RawData")))
      .join(b("Type"), sp(fk("Type")) === col(id("Type")))
      .join(t("SubjectType"),
        sp(fk("SubjectType")) === t("SubjectType")(id("SubjectType")))
      .join(b("StorageLocation"),
        sp(fk("StorageLocation")) === col(id("StorageLocation")))
      .select(sp(id("Specimen")), t("SubjectType")(id("SubjectType")),
        col("AliquotID"), col("AliquotWeight"), col("AliquotWeightUnit"),
        col("SpecimenBodySite"), col("UberonCodeBodySite"), col("Biome"),
        col("CollectionSiteName"), col("CollectionSiteTechnician"),
        col("Depth"), col("Elevation"), col("Environment"), col("Feature"),
        col("Latitude"), col("Longitude"), col("Material"),
        col("ExperimentName"), col("ContactEmail"), col("ContactName"),
        col("PrimaryInvestigator"), col("BarcodeSequence"),
        col("LinkerPrimerSequence"), col("RawDataID"), col("RawDataNotes"),
        col("RawDataDatePerformed"), col("RawDataProcessor"),
        col("RawDataProtocolID"), col("FinishingStrategyCoverage"),
        col("FinishingStrategyStatus"), col("NumberOfContigs"),
        col("SequencingMethod"), col("TargetGene"), col("ResultID"),
        col("ResultsLocation"), col("ResultsDatePerformed"),
        col("ResultsProcessor"), col("ResultsProtocolID"),
        col("ResultsMethod"), col("ResultsTool"), col("ResultsToolVersion"),
        col("SampleID"), col("SampleWeight"), col("SampleWeightUnit"),
        col("SampleDatePerformed"), col("SampleProcessor"),
        col("SampleProtocolID"), col("SampleProtocolNotes"),
        col("SampleConditions"), col("SampleTool"),
        col("SampleToolVersion"), col("SpecimenCollectionDate"),
        col("SpecimenCollectionMethod"), col("SpecimenCollectionTime"),
        col("SpecimenID"), col("SpecimenNotes"), col("SpecimenWeight"),
        col("SpecimenWeightUnit"), col("StorageInstitution"),
        col("StorageFreezer"), col("RelevantLinks"), col("StudyName"),
        col("StudyType"), col("SpecimenType"), col("UberonCodeType"))
      .distinct()
  }

  /** SpecimenTable ⟕ SubjectTable ⟕ AnimalSubjectTable (views.sql:82-84)
    * — the meta-analysis query surface. Missing subject species (e.g. an
    * animal-only catalog) contribute null columns, preserving the LEFT
    * JOIN shape. */
  def metaAnalysisView(includeHuman: Boolean = true,
      includeAnimal: Boolean = true): DataFrame = {
    var v = specimenTable
    if (includeHuman)
      v = v.join(subjectTable,
        v(Schema.idCol("SubjectType")) === col("idSubjectTypeHuman"),
        "left_outer")
    if (includeAnimal)
      v = v.join(animalSubjectTable,
        v(Schema.idCol("SubjectType")) === col("idSubjectTypeAnimal"),
        "left_outer")
    v.distinct()
  }

  /** Register the whole stack as temp views for `spark.sql` access. */
  def registerAll(includeHuman: Boolean = true,
      includeAnimal: Boolean = true): Unit = {
    specimenView.createOrReplaceTempView("SpecimenView")
    sampleView.createOrReplaceTempView("SampleView")
    subjectTypeView.createOrReplaceTempView("SubjectTypeView")
    if (includeHuman) {
      subjectView.createOrReplaceTempView("SubjectView")
      subjectTable.createOrReplaceTempView("SubjectTable")
    }
    if (includeAnimal)
      animalSubjectTable.createOrReplaceTempView("AnimalSubjectTable")
    specimenTable.createOrReplaceTempView("SpecimenTable")
    metaAnalysisView(includeHuman, includeAnimal)
      .createOrReplaceTempView("MetaAnalysisView")
  }
}
