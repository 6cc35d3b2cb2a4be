package perfbench

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.mmeds.{InMemoryCatalog, MetadataTsv, Normalizer}

class FixtureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("the fixture stores a study as Normalizer.ingest does") {
    val study = Sheets.study(new Random(3), "F1", 2L, 6)
    val (a, b) = Sheets.writeStudy(Files.createTempDirectory("fixture"), study)
    val full = MetadataTsv.joinMetadata(MetadataTsv.read(spark, a.toString),
      MetadataTsv.read(spark, b.toString), "human")
    val catalog = new InMemoryCatalog
    Normalizer.ingest(full, 2L, catalog)
    val theirs = catalog.tableNames.filterNot(_ == "AdditionalMetaData").map { t =>
      val df = catalog.table(t).get
      t -> (df.schema.map(f => f.name -> f.dataType), df.count())
    }.toMap
    val mine = Fixture.tables(Seq(study)).map(t =>
      t.name -> (t.schema.map(f => f.name -> f.dataType), t.rows.size.toLong)).toMap
    assert(mine.keySet == theirs.keySet)
    mine.keys.foreach(t => assert(mine(t) == theirs(t), t))
  }
}
