package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** The session layout: `Engine.session` is the one place a Spark session is
  * built, and the engine's only entry points are three mains. */
class EngineSpec extends AnyFunSuite {

  private def sources(dir: File): Seq[File] = {
    val (dirs, files) = dir.listFiles().toSeq.partition(_.isDirectory)
    files.filter(_.getName.endsWith(".scala")) ++ dirs.flatMap(sources)
  }

  private lazy val mainSources: Seq[(File, String)] =
    sources(new File("src/main/scala")).map { f =>
      val src = Source.fromFile(f, "UTF-8")
      try f -> src.mkString finally src.close()
    }

  test("src/main defines exactly three mains: Bench, Verify, Plans") {
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = mainSources.flatMap { case (_, text) =>
      """\bdef\s+main\s*\(""".r.findAllMatchIn(text).map { m =>
        objectDecl.findAllMatchIn(text.substring(0, m.start)).toSeq.last.group(1)
      }
    }
    assert(mains.sorted == Seq("Bench", "Plans", "Verify"), mains)
    assert(!mainSources.exists(_._2.contains("extends App")))
  }

  test("SparkSession.builder appears in src/main only in Engine.scala") {
    val builders = mainSources.collect {
      case (f, text) if text.contains("SparkSession.builder") => f.getName
    }
    assert(builders == Seq("Engine.scala"), builders)
  }

  test("the shared test session carries the factory's sizing for 4 cores") {
    // read from the context's launch conf: suites may set or unset session
    // confs on the shared session (rowBudget, shuffle partitions in drains)
    val conf = TestSpark.spark.sparkContext.getConf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "32")
    val budget = (Runtime.getRuntime.maxMemory / 4 / 1024)
      .max(1L << 14).min(1L << 20)
    assert(conf.get("spark.graft.topk.rowBudget") == budget.toString)
    assert(TestSpark.spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("withConf puts a set key back and unsets an unset one when body throws") {
    val spark = TestSpark.spark
    // an unset key that has a default: it must come back unset, not pinned
    // to the default it read while unset
    val (setKey, unsetKey) =
      ("spark.graft.spec.withConf", "spark.sql.sources.partitionOverwriteMode")
    assert(!spark.conf.getAll.contains(unsetKey))
    spark.conf.set(setKey, "old")
    try {
      val e = intercept[IllegalStateException] {
        Engine.withConf(spark, setKey -> "new", unsetKey -> "dynamic") {
          assert(spark.conf.get(setKey) == "new")
          assert(spark.conf.get(unsetKey) == "dynamic")
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage == "body failed")
      assert(spark.conf.get(setKey) == "old")
      assert(!spark.conf.getAll.contains(unsetKey))
      assert(spark.conf.get(unsetKey) == "STATIC")
    } finally spark.conf.unset(setKey)
  }
}
