package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Reference-parity pipeline semantics (SURVEY.md §5.1-5.2): staging read,
  * strict projection, watermark, anti-join dedup, DDL idempotence, and the
  * end-to-end invariant the reference's bugs break — re-running a load must
  * not duplicate PK'd rows. */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  def fixtureDir: String = Fixtures.dir

  override def beforeAll(): Unit = { Catalog.drop(spark); Catalog.ensure(spark) }

  test("DDL is idempotent (rpt.sql:1,6,21,37)") {
    Catalog.ensure(spark)
    Catalog.ensure(spark)
    assert(spark.catalog.tableExists("rpt.dag"))
    assert(spark.catalog.tableExists("rpt.dag_run"))
    assert(spark.catalog.tableExists("rpt.task_instance"))
  }

  test("dropManaged deletes managed data but preserves EXTERNAL locations") {
    import java.nio.file.Files
    // managed: location goes with the table
    spark.sql("CREATE TABLE rpt.drop_probe (id INT) USING parquet")
    spark.sql("INSERT INTO rpt.drop_probe VALUES (1)")
    val managedLoc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("rpt.drop_probe")).location)
    Catalog.dropManaged(spark, "rpt.drop_probe")
    val fs = managedLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(managedLoc), "managed location must be deleted")
    // external: DROP TABLE preserves the data, and so must dropManaged
    TestSpark.withTempDir("graft-ext") { d =>
      val ext = d.toString
      spark.range(3).write.mode("overwrite").parquet(ext)
      spark.sql(s"CREATE TABLE rpt.ext_probe (id BIGINT) USING parquet LOCATION '$ext'")
      Catalog.dropManaged(spark, "rpt.ext_probe")
      assert(!spark.catalog.tableExists("rpt.ext_probe"))
      assert(spark.read.parquet(ext).count() == 3,
        "external data must survive dropManaged")
    }
  }

  test("tolerant staging read honors max_bad_records (gcs_to_postgres.py:103)") {
    import java.nio.file.{Files, Paths}
    TestSpark.withTempDir("graft-badrec") { d =>
      val tmp = d.toPath
      val good = Paths.get(Fixtures.dir, "dagRuns1.json")
      Files.copy(good, tmp.resolve("page1.json"))
      Files.writeString(tmp.resolve("page2.json"), "{not json at all")
      val paths = Seq(s"$tmp/page1.json", s"$tmp/page2.json")
      // one malformed file = one bad record in array form; within budget it
      // is dropped, past the budget the load fails
      val ok = Staging.readStagedTolerant(spark, "dag_run", paths, maxBadRecords = 1)
      assert(ok.count() ==
        Staging.readStaged(spark, "dag_run", Seq(good.toString)).count())
      assert(ok.columns.toSeq == Schemas.byEntity("dag_run").fieldNames.toSeq)
      val e = intercept[IllegalStateException] {
        Staging.readStagedTolerant(spark, "dag_run", paths, maxBadRecords = 0).count()
      }
      assert(e.getMessage.contains("max_bad_records"))
      // keepSourceFile must carry real file URIs (a cached scan would blank
      // input_file_name) so the loader's first-file-wins preference works
      val withSrc = Staging.readStagedTolerant(spark, "dag_run", paths,
        maxBadRecords = 1, keepSourceFile = true)
      val srcs = withSrc.select(Staging.srcFileCol).distinct()
        .collect().map(_.getString(0))
      assert(srcs.nonEmpty && srcs.forall(_.contains("page1.json")))
    }
  }

  test("staged JSON-array read applies schema, keeps nulls, parses ISO-8601 offsets") {
    val df = Staging.readStaged(spark, "dag_run",
      Seq(TestSpark.fixture("dagRuns1.json"), TestSpark.fixture("dagRuns2.json")))
    assert(df.count() == 6)
    assert(df.schema("start_date").dataType.typeName == "timestamp")
    // null start_date (queued run) survives the staging roundtrip
    assert(df.filter("dag_run_id = 'run_1' and dag_id = 'reporting'")
      .first().isNullAt(df.schema.fieldIndex("start_date")))
    // offset-bearing ISO-8601 parsed to the right UTC instant
    val ts = df.filter("dag_run_id = 'run_1' and dag_id = 'etl_daily'")
      .first().getTimestamp(df.schema.fieldIndex("start_date"))
    assert(ts == Timestamp.valueOf("2022-03-01 00:00:05"))
  }

  test("strict projection: missing column is an analysis error (gcs_to_postgres.py:169-172)") {
    val bad = spark.read.json(spark.createDataset(
      Seq("""{"dag_id":"x"}"""))(spark.implicits.newStringEncoder))
    intercept[AnalysisException] {
      bad.select("dag_id", "no_such_field")
    }
  }

  test("pipeline run loads all three entities; re-run is idempotent for PK'd tables") {
    ReportingPipeline.run(spark, fixtureDir)
    // dags.json has 4 rows with 1 in-file duplicate PK → 3 distinct dag_ids
    assert(spark.table("rpt.dag").count() == 3)
    // dagRuns: 6 staged rows, 1 cross-file duplicate PK (etl_daily/run_2) → 5
    assert(spark.table("rpt.dag_run").count() == 5)
    assert(spark.table("rpt.task_instance").count() == 3)

    ReportingPipeline.run(spark, fixtureDir)
    assert(spark.table("rpt.dag").count() == 3, "dag re-load must not duplicate")
    assert(spark.table("rpt.dag_run").count() == 5, "dag_run re-load must not duplicate")
    // task_instance has no PK but a watermark: rows at/below max(start_date)
    // are filtered, null-start rows are dropped by the strict > predicate —
    // only the null-start row would be re-appended... it is excluded too
    // because a non-null watermark filters nulls out.
    assert(spark.table("rpt.task_instance").count() == 3,
      "task_instance re-load above watermark must be empty")
  }

  test("watermark: strict >, equal-to-watermark excluded, None = no filter") {
    val wm = Watermark.maxWatermark(spark, "rpt.dag_run", "start_date")
    assert(wm.contains(Timestamp.valueOf("2022-03-02 02:00:10")))
    val staged = Staging.readStaged(spark, "dag_run",
      Seq(TestSpark.fixture("dagRuns2.json")))
    val filtered = Watermark.applyWatermark(staged, "start_date", wm)
    assert(filtered.count() == 0, "all fixture rows are at/below the watermark")
    assert(Watermark.applyWatermark(staged, "start_date", None).count() == 3)
    // empty table → None
    spark.sql("CREATE TABLE IF NOT EXISTS rpt.empty_probe (ts TIMESTAMP) USING parquet")
    assert(Watermark.maxWatermark(spark, "rpt.empty_probe", "ts").isEmpty)
  }

  test("dedupAppend inserts only PK-absent rows and dedups within the batch") {
    val staged = Staging.readStaged(spark, "dag_run",
      Seq(TestSpark.fixture("dagRuns1.json")))
    val before = spark.table("rpt.dag_run").count()
    Loader.dedupAppend(spark, staged, "rpt.dag_run", Schemas.pkOf("dag_run"))
    assert(spark.table("rpt.dag_run").count() == before,
      "all PKs already present → nothing appended")
    // regression: using-join reorders columns; insertInto is positional —
    // dag_run_id must still hold run ids, not dag ids
    assert(spark.table("rpt.dag_run").filter("dag_run_id NOT LIKE 'run%'").count() == 0)
  }

  test("CSV interop roundtrip preserves NULLs as empty fields (O14 contract)") {
    val staged = Staging.readStaged(spark, "dag_run",
      Seq(TestSpark.fixture("dagRuns1.json"), TestSpark.fixture("dagRuns2.json")))
    TestSpark.withTempDir("graft-csv") { d =>
      val dir = d.toString
      val path = Staging.writeStagedCsv(staged, dir, "dag_run", "20220301T000000")
      val back = Staging.readStagedCsv(spark, "dag_run", path)
      assert(back.count() == staged.count())
      assert(back.filter(col("end_date").isNull).count() ==
        staged.filter(col("end_date").isNull).count())
      assert(back.except(staged).count() == 0 && staged.except(back).count() == 0)
    }
  }

  test("executor_config is coerced to binary at the sink (rpt.sql:57)") {
    val ti = spark.table("rpt.task_instance")
    assert(ti.schema("executor_config").dataType.typeName == "binary")
    val bytes = ti.filter("task_id = 'train'").first()
      .getAs[Array[Byte]]("executor_config")
    assert(new String(bytes, "UTF-8").contains("gpu"))
  }
}
