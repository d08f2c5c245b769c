package graft

import org.apache.spark.sql.functions._
import graft.jobs.ClinicalAnalysis
import graft.jobs.ClinicalAnalysis._

class ClinicalJobSpec extends SparkTestBase {

  private val fixture = "src/test/resources/fixtures/clinical.csv"
  private lazy val df = ClinicalAnalysis.transform(ClinicalAnalysis.extract(spark, fixture))

  test("all columns are strings after transform") {
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
  }

  test("aggregate age per result") {
    val m = aggregateAgeResult(df).collect()
      .map(r => r.getString(0) -> (r.getAs[Int]("max(age)"), r.getAs[Double]("avg(age)")))
      .toMap
    assert(m("negative")._1 == 18)
    assert(m("positive")._1 == 14)
    assert(math.abs(m("negative")._2 - 71.0 / 6) < 1e-9)
  }

  test("age relations indicator expressions (D1 as when/otherwise)") {
    val r = ageRelations(df).filter(col("age") === 9).head()
    assert(r.getAs[String]("positive") == "1" && r.getAs[String]("negative") == "0")
  }

  test("missing-value profile counts nan strings") {
    val r = missingValues(df).head()
    assert(r.getAs[Long]("Hemoglobin") == 1L)   // p4
    assert(r.getAs[Long]("Hematocrit") == 1L)   // p1
    assert(r.getAs[Long]("Mycoplasma pneumoniae") == 12L) // all nan
  }

  test("value distribution remaps categoricals (C6 na.replace)") {
    val vals = valueDistribution(df).select("Influenza A").distinct()
      .collect().map(_.getString(0)).toSet
    assert(vals == Set("0", "1"))
  }

  test("hemoglobin rounding after nan fill") {
    val vals = hemoglobinValues(df).collect().map(_.getDouble(0)).toSet
    assert(vals.contains(-0.13)) // round(-0.125, 2) HALF_UP
    assert(vals.contains(0.24))  // round(0.236589, 2)
  }

  test("test result distribution preserves the D3 string-vs-int quirk") {
    val rows = testResultDistribution(df).collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "Positive test result")
    assert(rows(0).getAs[Long]("count") == 12L)
  }

  test("four-classifier predictions return accuracies in [0,1]") {
    val accs = predictions(df).collect().map(_.getDouble(0))
    assert(accs.length == 4)
    assert(accs.forall(a => a >= 0.0 && a <= 1.0))
  }

  test("careRelations round-trips through parquet (K2/S4)") {
    val out = java.nio.file.Files.createTempDirectory("clinical_tmp").toString
    val c = careRelations(df, s"$out/temporary.parquet")
    assert(c.count() == 6) // positive rows
    assert(!c.columns.contains(admissionCols.head))
  }

  test("run writes single-file JSON outputs") {
    // 12 patients, 6 of them positive; profiles are one row each
    checkJobRun("clinical", Map(
      "hemoglobin_values" -> 12L,
      "red_blood_cells_values" -> 12L,
      "aggregate_age_result" -> 2L,
      "age_relations" -> 12L,
      "care_relations" -> 6L,
      "predictions_missing_values" -> 1L,
      "predictions_value_distribution" -> 12L,
      "predictions_test_result_distribution" -> 1L,
      "predictions" -> 4L))(ClinicalAnalysis.run(spark, fixture, _))
  }
}
