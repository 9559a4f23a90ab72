package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** File-format surface beyond parquet/JSON/CSV: ORC roundtrip (built-in
  * columnar alternative; same writer/reader contract). */
class FormatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("CSV dialect knobs: delimiter/quote roundtrip, jagged-row null-fill") {
    import spark.implicits._
    // delimiter/quote roundtrip through the dag_run entity schema
    val rows = Seq(
      ("d1", "run;1", null.asInstanceOf[java.sql.Timestamp],
        java.sql.Timestamp.valueOf("2022-03-01 00:00:00"), true,
        null.asInstanceOf[java.sql.Timestamp],
        java.sql.Timestamp.valueOf("2022-03-01 00:00:00"), "success"))
      .toDF("dag_id", "dag_run_id", "end_date", "execution_date",
        "external_trigger", "logical_date", "start_date", "state")
    TestSpark.withTempDir("graft-csvdialect") { d =>
      val base = d.toString
      val dialect = Staging.CsvDialect(delimiter = ";", quote = "'")
      val path = Staging.writeStagedCsv(rows, base, "dag_run", "20220301T000000", dialect)
      val back = Staging.readStagedCsv(spark, "dag_run", path, dialect)
      assert(back.count() == 1)
      val r = back.first()
      assert(r.getString(r.fieldIndex("dag_run_id")) == "run;1") // quoted delimiter survives
      assert(r.isNullAt(r.fieldIndex("end_date")))               // NULL AS '' contract
      // jagged rows: fewer fields than schema → PERMISSIVE null-fills,
      // strict mode refuses
      TestSpark.withTempDir("graft-jagged") { j =>
        val jagged = j.toPath
        java.nio.file.Files.writeString(jagged.resolve("part.csv"),
          "dag_id,dag_run_id\nd9,run_9\n")
        val filled = Staging.readStagedCsv(spark, "dag_run", jagged.toString,
          Staging.CsvDialect(allowJaggedRows = true))
        val f = filled.first()
        assert(f.getString(0) == "d9" && f.isNullAt(f.fieldIndex("state")))
        // collect(), not count(): CSV column pruning skips malformed-row
        // detection when no columns are required
        intercept[org.apache.spark.SparkException] {
          Staging.readStagedCsv(spark, "dag_run", jagged.toString).collect()
        }
      }
    }
  }

  test("ORC roundtrip preserves rows and schema") {
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    TestSpark.withTempDir("graft-orc") { d =>
      val dir = d.toString + "/orders"
      orders.write.mode("overwrite").orc(dir)
      val back = spark.read.orc(dir)
      assert(back.schema == orders.schema)
      assert(back.count() == orders.count())
      assert(back.except(orders).count() == 0 && orders.except(back).count() == 0)
    }
  }
}
