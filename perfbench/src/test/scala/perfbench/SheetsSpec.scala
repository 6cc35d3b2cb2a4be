package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

class SheetsSpec extends AnyFunSuite {

  private def generate(seed: Long, dir: Path): Map[String, Seq[String]] = {
    val r = new Random(seed)
    val s = Sheets.study(r, "S1", 2L, 30)
    Sheets.writeStudy(dir, Sheets.withDefect(s, "Barcode", r))
    Files.list(dir).iterator().asScala.toSeq.map(p =>
      p.getFileName.toString -> Files.readAllLines(p).asScala.toSeq).toMap
  }

  test("a seed always generates the same inputs") {
    val tmp = Files.createTempDirectory("sheets")
    val a = generate(11, tmp.resolve("a"))
    val b = generate(11, tmp.resolve("b"))
    val c = generate(12, tmp.resolve("c"))
    assert(a.keySet == Set("S1_subject.tsv", "S1_specimen.tsv", "S1_truth.tsv"))
    assert(a == b)
    assert(a("S1_specimen.tsv") != c("S1_specimen.tsv"))
  }

  test("sheets carry the 5 header rows and one row per entity") {
    val tmp = Files.createTempDirectory("sheets")
    val f = generate(3, tmp)
    val spec = f("S1_specimen.tsv")
    assert(spec.size == 5 + 30)
    assert(spec(2).split("\t").toSet == Set("Required", "Optional"))
    assert(f("S1_subject.tsv").size == 5 + 15)
    assert(f("S1_truth.tsv").size == 30)
  }

  test("the store workload's simhash and vocabulary are pure functions") {
    val t = Array("w001", "w002", "w003")
    assert(StoreLifecycle.simhash(t) == StoreLifecycle.simhash(t.clone()))
    assert(StoreLifecycle.word(new Random(5)) == StoreLifecycle.word(new Random(5)))
  }
}
