package graft.mmeds

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Remaining scalar-function surface of SURVEY §2.9 not covered by
  * [[Icd]]: camel-casing, identifier validation, access codes, and the
  * trigger-replacing effective specimen weights. */
object Functions {

  /** camel_case (util.py:239-242): split on `_ - . '` and space,
    * capitalize each part, join. Pure expression — initcap over a
    * normalized separator then strip spaces. */
  def camelCase(c: Column): Column =
    regexp_replace(initcap(regexp_replace(c, "[_\\-.' ]+", " ")), " ", "")

  /** Identifier validation for API inputs (util.py:1015-1048 quote_sql:
    * allow-list charset, <= 66 chars). Catalyst parameterization makes
    * quoting unnecessary; the validation contract remains. */
  def validIdentifier(name: String): Boolean =
    name.length <= 66 && name.nonEmpty &&
      name.forall(ch => ch.isLetterOrDigit || ch == '_') &&
      name.head.isLetter

  /** Access-code / salt generation (config.py:863-865 `get_salt`):
    * `length` lowercase letters. Driver-side utility — every study doc
    * gets one at creation (`study_code`). Takes an injectable RNG so
    * tests are reproducible; defaults to SecureRandom because the code
    * gates study access. (The reference's literal alphabet string has a
    * typo — duplicate z, missing t; semantics, not the typo, carried
    * over.) */
  def accessCode(length: Int = 10,
      rng: java.util.Random = new java.security.SecureRandom()): String = {
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    Seq.fill(length)(alphabet(rng.nextInt(alphabet.length))).mkString
  }

  /** Study/run name validity (database/database.py:1023-1028): only
    * alphanumerics and underscore. */
  def validRunName(name: String): Boolean =
    name.nonEmpty && name.replace("_", "").nonEmpty &&
      name.forall(ch => ch.isLetterOrDigit || ch == '_')

  /** Trigger replacement (sql/triggers.sql:5-36): MySQL decrements
    * SpecimenWeight on each Aliquot insert and AliquotWeight on each
    * Sample insert. No mutation here — the *effective* weight is a
    * derived aggregation view: initial minus the sum of child weights
    * (SURVEY §2.9 decision). */
  def effectiveSpecimenWeights(catalog: Catalog): DataFrame = {
    val specimen = catalog.table("Specimen").get
    val aliquot = catalog.table("Aliquot").get
    val child = aliquot.groupBy(col(Schema.fkCol("Specimen")))
      .agg(sum(col("AliquotWeight")).as("_allocated"))
    specimen.join(child,
        specimen(Schema.idCol("Specimen")) === child(Schema.fkCol("Specimen")),
        "left_outer")
      .select(specimen(Schema.idCol("Specimen")), col("SpecimenID"),
        col("SpecimenWeight").as("initial_weight"),
        coalesce(col("_allocated"), lit(0.0)).as("allocated_weight"),
        (col("SpecimenWeight") - coalesce(col("_allocated"), lit(0.0)))
          .as("effective_weight"))
  }
}
