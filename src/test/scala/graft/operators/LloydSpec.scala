package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.VectorOps

/** Lloyd k-means with the model on the driver: the empty-cell convention
  * (a member-less cell keeps its previous centroid) that the former
  * left-join `coalesce` implemented. The per-round job budget is gated in
  * ScaleSpec. */
class LloydSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("an empty cell keeps its previous centroid into the next round") {
    // seeds 0 and 1 are the same vector, so every tie goes to cell 0 and
    // cell 1 has no members in round 1; seed 2 takes the other axis
    val e = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)),
      (3L, Seq(1f, 0.1f)), (4L, Seq(0.1f, 1f))).toDF("vec_id", "embedding")
    val r1 = VectorOps.lloyd(e, k = 3, maxRounds = 1)
    assert(r1.rounds == 1)
    assert(r1.last.filter(col("cell") === 1).isEmpty)
    assert(r1.cents(1).sameElements(Array(1.0, 0.0)))
    assert(r1.cents(0)(1) > 0.0, "cell 0 absorbed vec 3 and moved")
    // round 2 assigns against the KEPT (1, 0): vecs 0 and 1 now sit
    // exactly on it, strictly nearer than cell 0's moved centroid
    val r2 = VectorOps.lloyd(e, k = 3, maxRounds = 2)
    val cell1 = r2.last.filter(col("cell") === 1).orderBy("pos")
      .select("um", "n_members").as[(Double, Long)].collect()
    assert(cell1.sameElements(Array((1.0, 2L), (0.0, 2L))), cell1.mkString)
    assert(r2.cents(1).sameElements(Array(1.0, 0.0)))
  }
}
