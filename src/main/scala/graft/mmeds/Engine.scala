package graft.mmeds

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._

/** Per-user session facade: row-level security, the guarded SQL entry
  * point, and the meta-analysis query (SURVEY §2.3, §3.1, §3.3).
  *
  * The reference implements RLS with per-connection MySQL session state
  * and `SQL SECURITY DEFINER` views (sql/protected_views.sql,
  * sql/functions.sql:33-50) plus a textual `T -> protected_T` rewrite
  * (database.py:402-409). Here `forUser` resolves each protected table to
  * a filtered DataFrame — a catalog-level rewrite, no string hacking; the
  * filter pushes down to the parquet scan.
  */
class Engine(val spark: SparkSession, val catalog: Catalog) {

  /** Raw (admin) table access. */
  def table(name: String): DataFrame =
    catalog.table(name).getOrElse(
      throw new NoSuchElementException(s"no such table: $name"))

  def forUser(userId: Long, isAdmin: Boolean = false): Session =
    new Session(userId, isAdmin)

  class Session(val userId: Long, val isAdmin: Boolean) {

    /** owner_check semantics (sql/functions.sql:33-50): a user sees their
      * own rows plus the public user's. Admins see everything. */
    def resolve(name: String): DataFrame = {
      val df = table(name)
      if (isAdmin || !Schema.protectedTables.contains(name) ||
        !df.columns.contains("user_id")) df
      else df.filter(col("user_id").isin(userId, Schema.publicUserId))
    }

    /** Views built over this session's RLS-resolved tables. */
    def views: Views = new Views(spark, resolve)

    /** Which subject species the catalog actually holds. */
    def hasHuman: Boolean = hasHuman(catalog.tableNames)
    def hasAnimal: Boolean = hasAnimal(catalog.tableNames)
    private def hasHuman(names: Seq[String]) = names.contains("Subjects")
    private def hasAnimal(names: Seq[String]) =
      names.contains("AnimalSubjects")

    /** Register `protected_T`-equivalent temp views + the view stack so
      * `spark.sql` runs with this user's visibility. The view stack only
      * registers when its base tables exist (a partial catalog — e.g.
      * mid-ingest — still supports direct table queries). The catalog is
      * listed once per call. */
    def register(): Unit = {
      val names = catalog.tableNames
      names.foreach { n =>
        resolve(n).createOrReplaceTempView(n)
      }
      if (Seq("Specimen", "Experiment", "Study").forall(names.contains))
        views.registerAll(hasHuman(names), hasAnimal(names))
    }

    /** Guarded ad-hoc SQL (database.py:392-433): runs under this user's
      * catalog; surrogate/FK id columns are dropped from the result the
      * way `get_table_headers` filters them (database.py:361-390). */
    def execute(sql: String): DataFrame = {
      register()
      val df = spark.sql(sql)
      val idCols = df.columns.filter(c =>
        c.startsWith("id") || c.contains("_id"))
      df.drop(idCols: _*)
    }

    /** Restricted-WHERE validation (database.py:250-270): only
      * AND/OR/NOT and = != < > <= >= over plain columns and literals.
      * Returns the referenced column names; throws on anything else
      * (BETWEEN/LIKE/IN/subqueries/functions). */
    def extractWhereColumns(where: String): Seq[String] = {
      import org.apache.spark.sql.catalyst.expressions._
      val parsed = spark.sessionState.sqlParser.parseExpression(where)
      val cols = scala.collection.mutable.LinkedHashSet[String]()
      def walk(e: Expression): Unit = e match {
        case a: UnresolvedAttribute => cols += a.name
        case _: Literal => ()
        case And(l, r) => walk(l); walk(r)
        case Or(l, r) => walk(l); walk(r)
        case Not(c) => walk(c)
        case EqualTo(l, r) => walk(l); walk(r)
        case LessThan(l, r) => walk(l); walk(r)
        case GreaterThan(l, r) => walk(l); walk(r)
        case LessThanOrEqual(l, r) => walk(l); walk(r)
        case GreaterThanOrEqual(l, r) => walk(l); walk(r)
        case other => throw new IllegalArgumentException(
          s"unsupported operator in WHERE: ${other.prettyName}")
      }
      walk(parsed)
      cols.toSeq
    }

    /** Meta-analysis query (database.py:272-304, formatter.py:63-67):
      * `SELECT DISTINCT RawDataID, StudyName, <cols> FROM
      * MetaAnalysisView WHERE <where>` regrouped as
      * StudyName -> sorted [RawDataID]. */
    def queryMetaAnalysis(where: String): DataFrame = {
      val cols = extractWhereColumns(where)
      val names = catalog.tableNames
      val meta = views.metaAnalysisView(hasHuman(names), hasAnimal(names))
      val selected = meta.filter(expr(where))
        .select((Seq("RawDataID", "StudyName") ++ cols).distinct
          .map(col): _*)
        .distinct()
      selected.groupBy(col("StudyName"))
        .agg(sort_array(collect_list(col("RawDataID"))).as("RawDataIDs"))
    }

    /** Repeated-subject existence check (database.py:908-951): sheet rows
      * whose full natural Subjects tuple already exists for this user.
      * NULL-safe semi-join — the set-based form of the reference's
      * per-row `ISNULL(col)` match queries. */
    def repeatedSubjects(candidates: DataFrame): DataFrame = {
      catalog.table("Subjects") match {
        case None => candidates.limit(0)
        case Some(existing) =>
          val natural = existing.columns
            .filterNot(c => c == "user_id" || c.startsWith("id") ||
              c.contains("_id"))
            .filter(candidates.columns.contains)
          val mine = existing.filter(
            col("user_id").isin(userId, Schema.publicUserId))
          val cond = natural.map(c => candidates(c) <=> mine(c))
            .reduce(_ && _)
          candidates.join(mine, cond, "left_semi")
      }
    }

    /** Quoted-TSV dump of a table's rows under this user's visibility
      * (database.py:182-189 get_table_contents: every value quoted,
      * tab-separated, newline rows). Streams partitions through the
      * driver one at a time (`toLocalIterator`, same pattern as
      * MetadataTsv.write) instead of collect()ing the whole table —
      * driver memory stays bounded by one partition. */
    def tableContents(name: String): String = {
      val df = resolve(name)
      val sb = new StringBuilder
      val it = df.toLocalIterator()
      var first = true
      while (it.hasNext) {
        val r = it.next()
        if (!first) sb.append('\n')
        first = false
        sb.append(r.toSeq.map(v => "\"" + String.valueOf(v) + "\"")
          .mkString("\t"))
      }
      sb.toString
    }

    /** Query-result TSV sink (server.py:1353-1359): run guarded SQL and
      * write header + rows as a single tab-separated download file,
      * streaming rows partition-by-partition — never a full collect(). */
    def executeToTsv(sql: String, path: String): Unit = {
      val df = execute(sql)
      val out = java.nio.file.Files.newBufferedWriter(
        java.nio.file.Paths.get(path))
      try {
        out.write(df.columns.mkString("\t"))
        val it = df.toLocalIterator()
        while (it.hasNext) {
          out.write('\n')
          out.write(it.next().toSeq.map(String.valueOf).mkString("\t"))
        }
      } finally out.close()
    }
  }
}
