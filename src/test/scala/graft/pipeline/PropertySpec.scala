package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property-based invariants (SURVEY.md §5.4): dedup idempotence, watermark
  * monotonicity, null staging roundtrip — over generated dag_run batches. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val genRun: Gen[Row] = for {
    dagId <- Gen.oneOf("d1", "d2", "d3")
    runN <- Gen.choose(0, 8)
    day <- Gen.choose(1, 28)
    started <- Gen.oneOf(true, true, false)
    state <- Gen.oneOf("success", "failed", "running", "queued")
  } yield Row(
    dagId, s"run_$runN",
    null,
    Timestamp.valueOf(f"2022-03-$day%02d 00:00:00"),
    java.lang.Boolean.FALSE,
    Timestamp.valueOf(f"2022-03-$day%02d 00:00:00"),
    if (started) Timestamp.valueOf(f"2022-03-$day%02d 01:00:00") else null,
    state)

  private def df(rows: List[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.asInstanceOf[List[Row]], 2),
      Schemas.dagRun)

  private def check(name: String)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), p)
    assert(res.passed, s"$name: $res")
  }

  test("dedupAppend is idempotent: load(b); load(b) == load(b)") {
    check("idempotence")(Prop.forAll(Gen.listOfN(20, genRun)) { rows =>
      Catalog.drop(spark); Catalog.ensure(spark)
      val b = df(rows)
      Loader.dedupAppend(spark, b, "rpt.dag_run", Schemas.pkOf("dag_run"))
      val once = spark.table("rpt.dag_run").count()
      Loader.dedupAppend(spark, b, "rpt.dag_run", Schemas.pkOf("dag_run"))
      val twice = spark.table("rpt.dag_run").count()
      once == twice && once == b.dropDuplicates("dag_run_id", "dag_id").count()
    })
  }

  test("incremental load converges: load(a) then load(a++b) == PKs of a++b") {
    check("monotonicity")(Prop.forAll(
      Gen.listOfN(10, genRun), Gen.listOfN(10, genRun)) { (a, b) =>
      Catalog.drop(spark); Catalog.ensure(spark)
      Loader.dedupAppend(spark, df(a), "rpt.dag_run", Schemas.pkOf("dag_run"))
      Loader.dedupAppend(spark, df(a ++ b), "rpt.dag_run", Schemas.pkOf("dag_run"))
      spark.table("rpt.dag_run").count() ==
        df(a ++ b).dropDuplicates("dag_run_id", "dag_id").count()
    })
  }

  test("watermark filter is a proper partition: kept + dropped = all (nulls drop)") {
    check("watermark")(Prop.forAll(Gen.listOfN(20, genRun)) { rows =>
      val b = df(rows)
      val wm = Option(b.agg(min(col("start_date"))).first().getTimestamp(0))
      val kept = Watermark.applyWatermark(b, "start_date", wm).count()
      val atOrBelow = wm.fold(0L)(ts =>
        b.filter(col("start_date") <= lit(ts) || col("start_date").isNull).count())
      kept + atOrBelow == b.count()
    })
  }

  test("staging null roundtrip: json write/read preserves nulls and values") {
    check("roundtrip")(Prop.forAll(Gen.listOfN(15, genRun)) { rows =>
      val b = df(rows)
      TestSpark.withTempDir("graft-prop") { d =>
        val dir = d.toString
        Staging.writeStaged(b, dir, "dag_run", "20220301T000000")
        val back = Staging.readStaged(spark, "dag_run",
          Seq(Staging.stagingPath(dir, "dag_run", "20220301T000000")), arrayForm = false)
        back.count() == b.count() &&
          back.filter(col("start_date").isNull).count() ==
            b.filter(col("start_date").isNull).count() &&
          back.except(b).count() == 0 && b.except(back).count() == 0
      }
    })
  }
}
