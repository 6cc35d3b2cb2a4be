package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.mmeds._

/** Times the program's `Catalog` reads from outside: a wrapper around the
  * real catalog (the public trait) that records a span per `table` call. */
final class TimedCatalog(inner: Catalog, tracer: Tracer) extends Catalog {
  def table(name: String): Option[DataFrame] =
    tracer.span("mmeds.catalog_table")(inner.table(name))
  def append(name: String, df: DataFrame): Unit = inner.append(name, df)
  def overwrite(name: String, df: DataFrame): Unit = inner.overwrite(name, df)
  def tableNames: Seq[String] = inner.tableNames
}

/** One request's view of a catalog: each table is read once and every
  * caller gets that same frame, as the view stack needs. `Views` joins a
  * table and then selects from it by column reference
  * (`t("Specimen")(idSpecimen)`), which resolves only when both calls
  * return one plan. `ParquetCatalog.table` builds a new scan per call,
  * so on it the stack fails analysis with
  * `MISSING_ATTRIBUTES.RESOLVED_ATTRIBUTE_APPEAR_IN_OPERATION`; the
  * workload probes for that once a run and reports it. A fresh instance
  * per op keeps the cost of each `ParquetCatalog.table` in every op. */
final class RequestCatalog(inner: Catalog) extends Catalog {
  private val seen = scala.collection.mutable.Map.empty[String, Option[DataFrame]]
  def table(name: String): Option[DataFrame] =
    seen.synchronized(seen.getOrElseUpdate(name, inner.table(name)))
  def append(name: String, df: DataFrame): Unit = inner.append(name, df)
  def overwrite(name: String, df: DataFrame): Unit = inner.overwrite(name, df)
  def tableNames: Seq[String] = inner.tableNames
}

/** `catalog`: the two kinds of MMEDS user on one Spark session, as the
  * web server serves them. Two reader clients run row-level-secured reads
  * of a `ParquetCatalog` of 6k specimens in 100 studies of 11 users:
  * table resolves and dumps and the repeated-subject check, each through
  * a fresh `Engine.forUser`. When they stop, one client runs a
  * meta-analysis query, which builds the view stack, then takes two
  * uploads of generated metadata sheets through their first stage, read
  * and validate: a study
  * with one seeded defect, which must be rejected with a finding of that
  * kind, and a clean one, which must pass. The phases do not overlap: a
  * view-stack call costs seconds and would slow the short reads beside
  * it by a varying amount. Every answer is checked against the
  * generator's truth.
  *
  * The upload's next stage, `Normalizer.ingest`, is left out: it costs
  * 30-40 s per upload on a 4-core host, more than a run can hold.
  * Guarded SQL (`execute`) and `register` are left out too: on a catalog
  * of human subjects only they fail analysis (see [[findings]]). */
final class CatalogWorkload(ctx: Ctx) extends Workload {
  import CatalogWorkload._

  private val spark = ctx.spark
  val clients: Int = math.min(2, ctx.cores)
  /** 120 short reads a run, so their median rests on many samples */
  override val minOps: Long = 60
  private val nStudies = math.max(4, (100 * ctx.scale).round.toInt)
  private val perStudy = math.max(4, (60 * ctx.scale).round.toInt)
  private val perUpload = math.max(6, (60 * ctx.scale).round.toInt)

  private val studies: IndexedSeq[Sheets.Study] = {
    val r = new Random(ctx.seed)
    // ownership is fixed, so every seed has the same shape: one study in
    // ten is public, the rest spread over users 2..11
    (0 until nStudies).map { i =>
      val owner = if (i % 10 == 0) Schema.publicUserId else 2L + (i * 7) % (Users - 1)
      Sheets.study(r, f"S${ctx.seed}%d_$i%03d", owner, perStudy)
    }
  }
  private lazy val layout: Map[String, StructType] = Fixture.tables(studies.take(1)).map(t => t.name -> t.schema).toMap
  private def root(copy: Int) = ctx.work.resolve(s"catalog-$copy").toString
  private lazy val timed = new TimedCatalog(new ParquetCatalog(spark, root(Workload.Copies - 1)), ctx.tracer)
  private lazy val readEngine = new Engine(spark, timed)
  private val uploads = ctx.work.resolve("uploads")
  private val rows = new java.util.concurrent.atomic.LongAdder

  def setup(copy: Int): Unit = {
    val catalog = new ParquetCatalog(spark, root(copy))
    Fixture.tables(studies).foreach(t => catalog.append(t.name, spark.createDataFrame(t.rows.asJava, t.schema)))
  }

  def op(client: Int, k: Long): Op = {
    val idx = (k * clients + client).toInt
    val kind = Pattern(idx % Pattern.size)
    // each kind walks its own users and tables in turn
    val nth = idx / Pattern.size * Pattern.count(_ == kind) + Pattern.take(idx % Pattern.size).count(_ == kind)
    readOp(kind, Readers(nth % Readers.size), nth, new Random((ctx.seed * 1000003L + k) * 31 + client))
  }

  override def closing: Seq[Op] = {
    val r = new Random(ctx.seed * 7L)
    Seq(readOp("meta", 4L, 0, r), uploadOp(0), uploadOp(1))
  }

  /** One read of each kind that does not build the view stack, and one
    * small clean upload (the Validator's first call is the slowest by
    * far, whatever the sheet's size). */
  override def warmUp(): Unit = {
    Pattern.distinct.foreach(kind => readOp(kind, 99L, 0, new Random(ctx.seed - 1)).call()())
    uploadOp(3, 6).call()()
  }

  // ---- reads -------------------------------------------------------------

  private def visible(user: Long): IndexedSeq[Sheets.Study] =
    studies.filter(s => s.owner == user || s.owner == Schema.publicUserId)

  /** The key column's values `user` must see in `table`. */
  private def truth(user: Long, table: String): Set[String] = table match {
    case "BodySite" => studies.flatMap(_.specimens.map(_("BodySite__SpecimenBodySite"))).toSet
    case "Subjects" => visible(user).flatMap(_.subjects.map(_("Subjects__HostSubjectId"))).toSet
    case "Specimen" => visible(user).flatMap(_.specimens.map(_("Specimen__SpecimenID"))).toSet
    case "RawData" => visible(user).flatMap(_.specimens.map(_("RawData__RawDataID"))).toSet
    case "Study" => visible(user).map(_.name).toSet
    case "Experiment" => visible(user).map(_.name + "_exp").toSet
    case "Lab" => visible(user).map(s => s"PI ${s.name}").toSet
  }

  private def subjectOf(s: Sheets.Study, sp: Map[String, String]): Map[String, String] =
    s.subjects.find(_("Subjects__HostSubjectId") == sp("AdditionalMetaData__SubjectIdCol")).get

  /** A session whose view stack reads each table once. */
  private def viewSession(user: Long) = new Engine(spark, new RequestCatalog(timed)).forUser(user)

  /** A read by `user` of `kind`; `nth` picks the table. */
  private def readOp(kind: String, user: Long, nth: Int, r: Random): Op = {
    val session = () => readEngine.forUser(user)
    kind match {
      case "resolve" =>
        val t = Tables(nth % Tables.size)
        Op("read", kind, () => {
          val got = ctx.tracer.span("mmeds.resolve")(session().resolve(t).select(KeyCol(t)).collect())
            .map(_.get(0).toString)
          rows.add(got.length)
          // one row per key: a duplicate or a missing/extra row both fail
          () => got.length == got.toSet.size && got.toSet == truth(user, t)
        })
      case "contents" =>
        val t = ContentTables(nth % ContentTables.size)
        Op("read", kind, () => {
          val dump = ctx.tracer.span("mmeds.contents")(session().tableContents(t))
          val lines = if (dump.isEmpty) Array.empty[String] else dump.split("\n")
          rows.add(lines.length)
          () => {
            val at = layout(t).fieldIndex(KeyCol(t))
            val keys = lines.map(_.split("\t", -1)(at).stripPrefix("\"").stripSuffix("\""))
            keys.length == keys.toSet.size && keys.toSet == truth(user, t)
          }
        })
      case "repeated" =>
        val own = visible(user).flatMap(_.subjects)
        val other = studies.filterNot(s => s.owner == user || s.owner == Schema.publicUserId).flatMap(_.subjects)
        val picks = r.shuffle(own).take(8) ++ r.shuffle(other).take(8)
        val novel = (0 until 4).map(k => Map(
          "Subjects__HostSubjectId" -> s"novel_${r.nextInt()}_$k", "Subjects__Nationality" -> "USA",
          "Subjects__Sex" -> "F", "Subjects__BirthYear" -> "1970"))
        val expected = picks.take(math.min(8, own.size)).map(_("Subjects__HostSubjectId")).toSet
        val cands = spark.createDataFrame((picks ++ novel).map(s => Row(
          s("Subjects__HostSubjectId"), s("Subjects__Nationality"), s("Subjects__Sex"),
          s("Subjects__BirthYear").toDouble)).asJava, SubjectCandidates)
        Op("read", kind, () => {
          val got = ctx.tracer.span("mmeds.repeated") {
            session().repeatedSubjects(cands).select("HostSubjectId").collect()
          }.map(_.getString(0)).toSet
          rows.add(got.size)
          () => got == expected
        })
      case "meta" =>
        val site = Sheets.bodySites(r.nextInt(Sheets.bodySites.size))
        val nat = Nationalities(r.nextInt(Nationalities.size))
        // one column from the specimen side of the view, one from the subject side
        val where = s"SpecimenBodySite = '$site' AND Nationality = '$nat'"
        Op("read", kind, () => {
          val got = ctx.tracer.span("mmeds.meta_query")(viewSession(user).queryMetaAnalysis(where).collect())
          rows.add(got.length)
          () => got.map(x => x.getString(0) -> x.getSeq[String](1)).toMap == visible(user).map(s =>
            s.name -> s.specimens.filter(sp => sp("BodySite__SpecimenBodySite") == site &&
              subjectOf(s, sp)("Subjects__Nationality") == nat).map(_("RawData__RawDataID")).sorted)
            .filter(_._2.nonEmpty).toMap
        })
    }
  }

  // ---- uploads ----------------------------------------------------------

  /** Read both sheets and validate them: the kinds of the findings that
    * are errors. */
  private def validate(subject: Path, specimen: Path): Seq[String] =
    Seq((subject, "human"), (specimen, "specimen")).flatMap { case (p, ty) =>
      val raw = ctx.tracer.span("mmeds.tsv_read")(MetadataTsv.readRaw(spark, p.toString))
      ctx.tracer.span("mmeds.validate") {
        Validator.validateSheet(spark, raw, ty).filter(col("isError"))
          .select("kind").collect().map(_.getString(0)).toSeq
      }
    }

  /** Upload k: a study with one seeded defect (k even), which must be
    * rejected with a finding of that kind, or a clean one (k odd), which
    * must pass with no error. */
  private def uploadOp(k: Long, specimens: Int = perUpload): Op = {
    val r = new Random(ctx.seed * 104729L + k)
    val s = Sheets.study(r, f"U${ctx.seed}%d_$k%03d", 2L + k % 3, specimens)
    if (k % 2 == 0) {
      val kind = Sheets.defectKinds(r.nextInt(Sheets.defectKinds.size))
      val (a, b) = Sheets.writeStudy(uploads, Sheets.withDefect(s, kind, r))
      Op("write", "reject", () => {
        val found = validate(a, b)
        () => found.contains(kind)
      })
    } else {
      val (a, b) = Sheets.writeStudy(uploads, s)
      Op("write", "accept", () => {
        val found = validate(a, b)
        () => {
          if (found.nonEmpty)
            System.err.println(s"[perfbench] clean sheet ${s.name} has findings ${found.distinct.mkString(", ")}")
          found.isEmpty
        }
      })
    }
  }

  /** Two view-stack calls the ops leave out, analysed once a run,
    * untimed: "ok", or the error each fails with. `parquet_view_stack`:
    * `SpecimenView`, the smallest view that selects from a table it
    * joined, straight over the `ParquetCatalog`, one table read per call
    * (see [[RequestCatalog]]); the meta-analysis query builds it too.
    * `subject_type_view`: the view `register`, and so `execute`, builds
    * first; it selects the `AnimalSubjects` key, which an ingest of human
    * subjects never writes to `SubjectType`. */
  override def findings(): Seq[(String, String)] = {
    def probe(name: String)(body: => Any): (String, String) = {
      val t0 = System.nanoTime()
      val res = try { body; "ok" } catch {
        case e: Exception => s"${e.getClass.getSimpleName}: " + String.valueOf(e.getMessage).take(200)
      }
      System.err.println(f"[perfbench] $name (${(System.nanoTime() - t0) / 1e9}%.2f s): $res")
      name -> res
    }
    Seq(
      probe("parquet_view_stack")(readEngine.forUser(4L).views.specimenView),
      probe("subject_type_view")(viewSession(4L).views.subjectTypeView))
  }

  override def layerTotals(): Map[String, Double] =
    Map("mmeds.rows_returned" -> rows.sum.toDouble)
}

object CatalogWorkload {
  /** Users 1..11 own the studies (1 is the public user); 99 owns none, so
    * it sees only public rows. */
  val Users = 11
  val Readers: IndexedSeq[Long] = (1L to Users.toLong) :+ 99L
  /** The loop's read mix, walked in turn by the interleaved clients. */
  val Pattern: IndexedSeq[String] = IndexedSeq("resolve", "contents", "resolve", "repeated")
  val Tables: IndexedSeq[String] =
    IndexedSeq("Study", "Lab", "Experiment", "Subjects", "Specimen", "RawData", "BodySite")
  val ContentTables: IndexedSeq[String] = IndexedSeq("Study", "Lab", "Experiment", "Subjects")
  val KeyCol: Map[String, String] = Map(
    "Study" -> "StudyName", "Lab" -> "PrimaryInvestigator",
    "Experiment" -> "ExperimentName", "Subjects" -> "HostSubjectId",
    "Specimen" -> "SpecimenID", "RawData" -> "RawDataID",
    "BodySite" -> "SpecimenBodySite")
  val Nationalities: IndexedSeq[String] = IndexedSeq("USA", "Peru", "Kenya", "India")

  val SubjectCandidates: StructType = StructType(Seq(
    StructField("HostSubjectId", StringType), StructField("Nationality", StringType),
    StructField("Sex", StringType), StructField("BirthYear", DoubleType)))
}
