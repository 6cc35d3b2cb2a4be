package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.mmeds.Schema

/** The catalog fixture: generated studies laid out the way
  * `Normalizer.ingest` stores them with one ingest per owner, owners in
  * turn. The benchmark computes the layout itself, because one ingest
  * costs tens of seconds. Per table, in `Schema.tableOrder`: the distinct
  * tuples of (natural columns, parent ids) get surrogate ids; a tuple
  * that any earlier owner stored keeps its id and is not stored again;
  * a stored row holds the bare column names, then the
  * `<Parent>_id<Parent>` keys, then `id<Table>` and `user_id`. The
  * junction tables hold the distinct id pairs. FixtureSpec checks this
  * layout against the Normalizer's own on one study. */
object Fixture {

  final case class Table(name: String, schema: StructType, rows: Seq[Row])

  private val sheetCols: Seq[Sheets.Col] = Sheets.subjectCols ++ Sheets.specimenCols

  /** The ICD fragments the Normalizer parses out of `ICDCode.ICDCode`. */
  private val icdCols: Map[String, Seq[(String, DataType)]] = Map(
    "IllnessBroadCategory" -> Seq("ICDFirstCharacter" -> StringType),
    "IllnessCategory" -> Seq("ICDCategory" -> LongType),
    "IllnessDetails" -> Seq("ICDDetails" -> StringType, "ICDExtension" -> StringType))

  /** (column, type) of each of the table's natural columns. */
  private def naturals(table: String): Seq[(String, DataType)] =
    sheetCols.filter(_.table == table).map(c => c.column -> Schema.sparkType(c.dtype)) ++
      icdCols.getOrElse(table, Nil)

  private def typed(v: String, t: DataType): Any = t match {
    case DoubleType => v.toDouble
    case DateType => java.sql.Date.valueOf(v)
    case _ => v
  }

  /** The joined sheet: one row per specimen with its subject's cells,
    * typed as declared, keyed `Table__Column`, plus the ICD fragments. */
  private def joinedRows(s: Sheets.Study): Seq[mutable.Map[String, Any]] = {
    val subjects = s.subjects.map(m => m("Subjects__HostSubjectId") -> m).toMap
    s.specimens.map { sp =>
      val cells = subjects(sp("AdditionalMetaData__SubjectIdCol")) ++ sp
      val row = mutable.Map.empty[String, Any]
      sheetCols.foreach { c =>
        cells.get(c.flat).filter(_ != "NA").foreach(v => row(c.flat) = typed(v, Schema.sparkType(c.dtype)))
      }
      val Array(head, tail) = row("ICDCode__ICDCode").toString.split("\\.", 2)
      row("IllnessBroadCategory__ICDFirstCharacter") = head.take(1)
      row("IllnessCategory__ICDCategory") = head.drop(1).toLongOption.getOrElse(null)
      row("IllnessDetails__ICDDetails") = tail.dropRight(1)
      row("IllnessDetails__ICDExtension") = tail.takeRight(1)
      row
    }
  }

  def tables(studies: Seq[Sheets.Study]): Seq[Table] = {
    val schemas = mutable.LinkedHashMap.empty[String, StructType]
    val stored = mutable.Map.empty[String, mutable.ArrayBuffer[Row]]
    val ids = mutable.Map.empty[String, mutable.HashMap[Seq[Any], Long]]
    for ((owner, owned) <- studies.groupBy(_.owner).toSeq.sortBy(_._1)) {
      val rows = owned.flatMap(joinedRows)
      for (t <- Schema.tableOrder if t != "AdditionalMetaData") {
        val nats = naturals(t)
        val fks = Schema.parents.getOrElse(t, Nil).filter(schemas.contains)
        if (nats.nonEmpty || fks.nonEmpty) {
          schemas(t) = StructType(nats.map { case (n, ty) => StructField(n, ty) } ++
            fks.map(p => StructField(Schema.fkCol(p), LongType)) ++
            Seq(StructField(Schema.idCol(t), LongType, nullable = false),
              StructField("user_id", LongType, nullable = false)))
          val known = ids.getOrElseUpdate(t, mutable.HashMap.empty)
          val out = stored.getOrElseUpdate(t, mutable.ArrayBuffer.empty)
          rows.foreach { r =>
            val natKey = nats.map(n => r.getOrElse(s"${t}__${n._1}", null))
            val key = natKey ++ fks.map(p => r.getOrElse(Schema.idCol(p), null))
            if ((if (nats.nonEmpty) natKey else key).exists(_ != null))
              r(Schema.idCol(t)) = known.getOrElseUpdate(key, {
                val id = known.size + 1L
                out += Row.fromSeq(key ++ Seq(id, owner))
                id
              })
          }
        }
      }
      for ((jt, l, rt) <- Schema.junctionTables if schemas.contains(l) && schemas.contains(rt)) {
        schemas(jt) = StructType(Seq(StructField(Schema.fkCol(l), LongType),
          StructField(Schema.fkCol(rt), LongType), StructField("user_id", LongType, nullable = false)))
        val known = ids.getOrElseUpdate(jt, mutable.HashMap.empty)
        val out = stored.getOrElseUpdate(jt, mutable.ArrayBuffer.empty)
        rows.flatMap(r => (r.get(Schema.idCol(l)), r.get(Schema.idCol(rt))) match {
          case (Some(a), Some(b)) => Some(Seq[Any](a, b))
          case _ => None
        }).distinct.foreach { pair =>
          if (!known.contains(pair)) {
            known(pair) = known.size + 1L
            out += Row.fromSeq(pair :+ owner)
          }
        }
      }
    }
    schemas.toSeq.map { case (t, s) => Table(t, s, stored(t).toSeq) }
  }
}
