package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, with an isolated temp warehouse
  * so managed-table tests (rpt catalog) never touch real data. */
object TestSpark {
  lazy val spark: SparkSession = Engine.session(4,
    "spark.sql.warehouse.dir" -> Files.createTempDirectory("graft-warehouse").toString)

  def fixture(name: String): String =
    s"${graft.pipeline.Fixtures.dir}/$name"
}
