package graft.mmeds

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Storage seam for the normalized snowflake. The reference's MySQL
  * MEMORY-engine tables (sql/tables.sql:35) become Parquet tables here;
  * an in-memory variant backs tests.
  */
trait Catalog {
  def table(name: String): Option[DataFrame]
  def append(name: String, df: DataFrame): Unit
  def overwrite(name: String, df: DataFrame): Unit
  def tableNames: Seq[String]
}

/** Test/ephemeral catalog: plain map of DataFrames. */
class InMemoryCatalog extends Catalog {
  private val tables = scala.collection.mutable.LinkedHashMap[String, DataFrame]()
  def table(name: String): Option[DataFrame] = tables.get(name)
  def append(name: String, df: DataFrame): Unit =
    tables(name) = tables.get(name).map(_.unionByName(df)).getOrElse(df)
  def overwrite(name: String, df: DataFrame): Unit = tables(name) = df
  def tableNames: Seq[String] = tables.keys.toSeq
}

/** Parquet warehouse catalog: one directory per table under `root`,
  * hive-partitioned by `user_id` wherever the table carries it (all
  * protected tables + junctions). The RLS predicate
  * `user_id ∈ {uid, public}` then resolves as PARTITION PRUNING — on a
  * 1000-executor cluster a user's session reads only its own partitions,
  * never scanning other tenants' data. At larger scale the same seam
  * registers metastore tables; the layout is identical.
  *
  * Resolved scans are kept per table. Building one lists the partition
  * directories and runs a job to merge every file footer, so `table`
  * reuses the frame it built last while the table's `_graft_schema.json`
  * keeps its (modification time, length) stamp: every `append` and
  * `overwrite`, through any catalog on `root`, rewrites that file last,
  * so one stat per call tells whether the frame is current (a write by
  * another catalog that keeps the file's length inside one mtime tick of
  * the filesystem goes unseen until the next write). A write through
  * this instance also drops its table's entry. Two calls with no
  * write between them return the same frame, so a view may join a table
  * and select from it by column reference. The frames are shared by
  * every user and session on this catalog; row-level security stays a
  * filter that `Engine.Session.resolve` adds per call. A table without a
  * schema file (not written through this class) is re-read per call. */
class ParquetCatalog(spark: SparkSession, root: String) extends Catalog {
  import org.apache.hadoop.fs.Path
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.types.{DataType, StructType}

  private def path(name: String) = s"$root/$name"
  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def exists(name: String): Boolean =
    fs(path(name)).exists(new Path(path(name)))

  /** Hive partition folders re-enter the read schema with an INFERRED type
    * (bigint user_id comes back int) and at the END of the column list —
    * so the written schema is persisted next to the data (underscore
    * files are invisible to the parquet scan, like _SUCCESS) and reads
    * are cast/reordered back to it. Round-tripping a table through the
    * warehouse is then schema-identical to the frame that was written:
    * typed Dataset reads and strict unions keep working. */
  private def schemaFile(name: String) = new Path(path(name), "_graft_schema.json")

  private def saveSchema(name: String, df: DataFrame): Unit = {
    val out = fs(path(name)).create(schemaFile(name), true)
    try out.write(df.schema.json.getBytes("UTF-8")) finally out.close()
  }

  private def savedSchema(name: String): Option[StructType] =
    try {
      val in = fs(path(name)).open(schemaFile(name))
      try {
        val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
        Some(DataType.fromJson(txt).asInstanceOf[StructType])
      } finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** (modification time, length) of the table's schema file. */
  private def stamp(name: String): Option[(Long, Long)] =
    try {
      val st = fs(path(name)).getFileStatus(schemaFile(name))
      Some((st.getModificationTime, st.getLen))
    } catch { case _: java.io.FileNotFoundException => None }

  private final case class Scan(stamp: (Long, Long), frame: DataFrame)
  private val scans =
    new java.util.concurrent.ConcurrentHashMap[String, Scan]()

  /** Read back with `mergeSchema` so files written before a schema
    * evolution (an append that added columns) still load — the scan's
    * schema is the union of all file footers. The saved schema (the
    * LAST writer's frame) then drives the projection: its columns are
    * cast back to their written types, and any of them missing from
    * older files surface as null via the merged scan. A column that
    * only ever existed in older files is dropped — last-writer-wins is
    * the catalog's schema contract. */
  private def scan(name: String): DataFrame = {
    val raw = spark.read.option("mergeSchema", "true").parquet(path(name))
    savedSchema(name) match {
      case Some(s) =>
        val present = raw.columns.toSet
        raw.select(s.fields.toIndexedSeq.map { f =>
          if (present.contains(f.name))
            col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
      case _ => raw
    }
  }

  /** Concurrent misses on one stamp keep the first frame stored, so
    * every caller of that stamp gets the same one. */
  def table(name: String): Option[DataFrame] = stamp(name) match {
    case Some(s) =>
      val hit = scans.get(name)
      if (hit != null && hit.stamp == s) Some(hit.frame)
      else Some(scans.merge(name, Scan(s, scan(name)),
        (old, built) => if (old.stamp == built.stamp) old else built).frame)
    case None => if (exists(name)) Some(scan(name)) else None
  }

  def append(name: String, df: DataFrame): Unit = {
    val w = df.write.mode(SaveMode.Append)
    (if (df.columns.contains("user_id")) w.partitionBy("user_id") else w)
      .parquet(path(name))
    saveSchema(name, df)
    scans.remove(name)
  }

  def overwrite(name: String, df: DataFrame): Unit = {
    // self-referential overwrite needs a materialization barrier
    val tmp = path(name) + "__tmp"
    val w = df.write.mode(SaveMode.Overwrite)
    (if (df.columns.contains("user_id")) w.partitionBy("user_id") else w)
      .parquet(tmp)
    val filesystem = fs(root)
    filesystem.delete(new Path(path(name)), true)
    filesystem.rename(new Path(tmp), new Path(path(name)))
    saveSchema(name, df)
    scans.remove(name)
  }

  def tableNames: Seq[String] = {
    val p = new Path(root)
    val filesystem = fs(root)
    if (!filesystem.exists(p)) Seq.empty
    else filesystem.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.endsWith("__tmp")).toSeq
  }
}
