package graft

import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The parquet read memo (Tables.parquet): a path's schema and repartition
  * decision are resolved once per JVM, and a rewrite at the same path must
  * resolve both afresh. */
class TablesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def repartitioned(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.logical.collectFirst { case r: Repartition => r }.nonEmpty

  test("a rewrite at the same path serves the new schema and repartition decision") {
    TestSpark.withTempDir("graft-tables") { dir =>
      val path = s"$dir/orders.parquet"
      def bytes = org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(path))
      spark.range(0, 100).select(col("id").as("o_orderkey"))
        .coalesce(1).write.parquet(path)
      assert(bytes < 64L * 1024)
      val small = Tables.load(spark, dir.toString, "orders")
      assert(small.columns.toSeq == Seq("o_orderkey"))
      assert(!repartitioned(small), "a table under 64 KB skips the repartition")
      // the same path rewritten: one more column, now well over 64 KB, still
      // one file (one scan partition, under the session's 4 cores)
      spark.range(0, 20000).select(col("id").as("o_orderkey"),
          sha2(col("id").cast("string"), 256).as("o_comment"))
        .coalesce(1).write.mode("overwrite").parquet(path)
      assert(bytes >= 64L * 1024)
      val big = Tables.load(spark, dir.toString, "orders")
      assert(big.columns.toSeq == Seq("o_orderkey", "o_comment"))
      assert(repartitioned(big), "the rewritten table must take the repartition")
      assert(big.count() == 20000L)
    }
  }

  test("every read is a fresh relation: a warm self-join keeps distinct attributes") {
    TestSpark.withTempDir("graft-tables") { dir =>
      spark.range(0, 25).select(col("id").as("n_nationkey"))
        .write.parquet(s"$dir/nation.parquet")
      val a = Tables.load(spark, dir.toString, "nation")
      val b = Tables.load(spark, dir.toString, "nation") // a memo hit
      val ids = (df: org.apache.spark.sql.DataFrame) =>
        df.queryExecution.analyzed.output.map(_.exprId).toSet
      assert(ids(a).intersect(ids(b)).isEmpty)
      assert(a.join(b, a("n_nationkey") === b("n_nationkey")).count() == 25L)
    }
  }
}
