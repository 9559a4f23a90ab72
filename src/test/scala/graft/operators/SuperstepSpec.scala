package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The iteration driver's contract: the probe sees every checkpoint, the
  * starting frame included, the cap stops an unconverged loop, and a
  * staged edge cache never outlives the loop that staged it. */
class SuperstepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // every round raises x by one, up to 7
  private def climb(from: Int, maxRounds: Int): Superstep.Rounds =
    Superstep.run(Seq(from, from - 2).toDF("x"), maxRounds,
        Some(Superstep.Probe(max("x"), _ == 7))) { df =>
      df.select(least(col("x") + 1, lit(7)).as("x"))
    }

  test("the probe stops the loop at the first round whose statistic says so") {
    val res = climb(4, maxRounds = 10)
    assert(res.converged && res.rounds == 3)
    assert(res.last.as[Int].collect().sorted.sameElements(Array(5, 7)))
  }

  test("a starting frame that already satisfies the probe runs no round") {
    val res = climb(7, maxRounds = 10)
    assert(res.converged && res.rounds == 0)
  }

  test("the cap stops an unconverged loop and says so") {
    val res = climb(0, maxRounds = 2)
    assert(!res.converged && res.rounds == 2)
    assert(res.last.as[Int].collect().max == 2)
  }

  test("a lazy plan checkpoints only at the fixed cadence") {
    val res = Superstep.run(Seq(0L).toDF("x"), 9, lazyPlan = true)(
      _.select((col("x") + 1).as("x")))
    val checkpointed = res.frames.map(_.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    assert(checkpointed.zipWithIndex.filter(_._1).map(_._2) ==
      Seq(Superstep.LazyEvery))
    assert(res.last.as[Long].collect().sameElements(Array(9L)))
  }

  test("a round that throws inside a staged layout releases the edge cache") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      EdgeLayout.staged(edges, "src") { adj =>
        Superstep.run(Seq(1L).toDF("node"), 3, lazyPlan = true) { f =>
          // reading the staged frame materializes its cache
          assert(adj.join(f.withColumnRenamed("node", "src")).count() == 1)
          throw new IllegalStateException("round failed")
        }
      }
    }
    assert(e.getMessage == "round failed")
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persistent RDDs left behind: $leaked")
  }
}
