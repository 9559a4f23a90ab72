package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Persisted-index cache keys must be CONTENT-addressed, not just
  * cardinality-addressed: the round-11 advice flagged that a regenerated
  * corpus with an identical row count would be served a stale index when
  * the key was (srcTag, nCells, count) alone. These specs mutate ONE
  * vector at fixed cardinality and prove the index rebuilds, plus the
  * atomic-publish contract (tmp-sibling + rename, loser and failed
  * builds deleted). */
class IndexCacheSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus(mutated: Boolean) = {
    val rows = (0L until 40L).map { i =>
      val base = Array.tabulate(4)(d => ((i * 7 + d * 3) % 11).toFloat - 5f)
      if (mutated && i == 17L) base(2) += 1.0f
      (i, base)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("corpusFingerprint: same count, one mutated vector, different key") {
    val (n1, fp1) = IvfIndex.corpusFingerprint(corpus(false), "vec_id", "embedding")
    val (n2, fp2) = IvfIndex.corpusFingerprint(corpus(true), "vec_id", "embedding")
    assert(n1 == 40L && n2 == 40L)
    // the mutation is in component 2: the fingerprint hashes the whole
    // vector, so a change past the first component changes the key too
    assert(fp1 != fp2, "component-2 mutation at fixed cardinality must " +
      "change the key")
    val shifted = corpus(false).withColumn("embedding",
      when(col("vec_id") === 17L,
        concat(array(element_at(col("embedding"), 1) + lit(1.0f)),
          slice(col("embedding"), 2, 3)))
        .otherwise(col("embedding")))
    val (n3, fp3) = IvfIndex.corpusFingerprint(shifted, "vec_id", "embedding")
    assert(n3 == 40L && fp3 != fp1,
      "first-component mutation at fixed cardinality must change the key")
  }

  test("loadOrBuildSampled rebuilds when the corpus changes at fixed count") {
    val tag = s"idxcache-spec-${System.nanoTime()}"
    val c1 = corpus(false).withColumn("embedding",
      when(col("vec_id") === 3L,
        concat(array(lit(9.0f)), slice(col("embedding"), 2, 3)))
        .otherwise(col("embedding")))
    val served = scala.collection.mutable.Buffer.empty[DataFrame]
    def index(c: DataFrame): DataFrame = {
      val a = IvfIndex.loadOrBuildSampled(spark, c, tag, "vec_id", "embedding", 4)
      served += a
      a
    }
    try {
      val a1 = index(c1)
      // second corpus: SAME tag, SAME row count, vec 3's first component
      // differs → fingerprint differs → a fresh index must be built, and it
      // must match a direct (uncached) assignment of the new corpus
      val c2 = corpus(false)
      val a2 = index(c2)
      val direct = IvfIndex.assignSampled(c2, "vec_id", "embedding", 4)
      assert(a2.except(direct).count() == 0 && direct.except(a2).count() == 0,
        "index served for the mutated corpus must reflect the mutation")
      // and the first index is still intact at its own key (no clobber)
      val a1again = index(c1)
      assert(a1again.except(a1).count() == 0 && a1.except(a1again).count() == 0)
    } finally served.foreach(a => org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(new java.net.URI(a.inputFiles.head)).getParentFile))
  }

  test("a warm loadOrBuildSampled call launches no job") {
    // the fingerprint is memoized on the corpus plan (an equal local
    // relation here) and the artifact's schema on its files: the warm call
    // runs neither the fingerprint aggregate nor the schema-inference read
    val tag = s"idxcache-warm-${System.nanoTime()}"
    val cold = IvfIndex.loadOrBuildSampled(spark, corpus(false), tag, "vec_id", "embedding", 4)
    try {
      val (a, jobs) = TestSpark.jobsOf(
        IvfIndex.loadOrBuildSampled(spark, corpus(false), tag, "vec_id", "embedding", 4))
      assert(jobs == 0, s"$jobs jobs for a warm call")
      assert(a.count() == 40L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(new java.net.URI(cold.inputFiles.head)).getParentFile)
  }

  test("a one-component rewrite of the source file at the same path changes the key") {
    // the corpus is a parquet file read through Tables.parquet; the
    // rewrite keeps the file's path and row count and changes component 2
    // of one vector, so only the file stamp (length, mtime) can tell the
    // plan-keyed fingerprint memo that the content moved
    TestSpark.withTempDir("graft-idxsrc") { root =>
      val file = new java.io.File(root, "emb/part-0.parquet")
      def publish(mutated: Boolean): Unit = {
        val staged = new java.io.File(root, s"staged-$mutated")
        corpus(mutated).coalesce(1).write.parquet(staged.toString)
        val part = staged.listFiles().find(_.getName.endsWith(".parquet")).get
        file.getParentFile.mkdirs()
        java.nio.file.Files.copy(part.toPath, file.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      def key(): String = IvfIndex.artifact("idxsrc-spec",
          s"idxsrc-spec-${root.getName}",
          graft.Tables.parquet(spark, file.getParent), "vec_id", "embedding") {
        tmp => spark.range(1).write.parquet(tmp) }
      publish(mutated = false)
      val k1 = key()
      assert(key() == k1)
      publish(mutated = true)
      val k2 = key()
      assert(k2 != k1, "a rewritten source file must move the artifact key")
      val (n, fp) = IvfIndex.corpusFingerprint(corpus(true), "vec_id", "embedding")
      assert(k2.endsWith(s"-$n-$fp"), k2)
      Seq(k1, k2).foreach(k =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(k)))
    }
  }

  test("publishOnce: marker short-circuits, rename loser is cleaned up") {
    TestSpark.withTempDir("graft-pubonce") { dir =>
      val target = new java.io.File(dir, "artifact")
      var builds = 0
      IvfIndex.publishOnce(target) { tmp =>
        builds += 1
        val d = new java.io.File(tmp); d.mkdirs()
        java.nio.file.Files.writeString(
          new java.io.File(d, "_SUCCESS").toPath, "")
      }
      assert(builds == 1 && new java.io.File(target, "_SUCCESS").exists())
      // second call: marker present, build must not run
      IvfIndex.publishOnce(target) { _ => builds += 1 }
      assert(builds == 1)
      // simulate losing the publish race: target already exists when the
      // rename fires → the builder's tmp dir must be deleted, target kept
      val target2 = new java.io.File(dir, "artifact2")
      target2.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(target2, "winner").toPath, "w")
      IvfIndex.publishOnce(target2) { tmp =>
        val d = new java.io.File(tmp); d.mkdirs()
        java.nio.file.Files.writeString(new java.io.File(d, "loser").toPath, "l")
      }
      assert(new java.io.File(target2, "winner").exists())
      assert(dir.listFiles().count(_.getName.startsWith("artifact2.tmp-")) == 0,
        "losing builder's tmp dir must be removed")
    }
  }

  test("publishOnce: a build that throws leaves no tmp sibling and no marker") {
    TestSpark.withTempDir("graft-pubfail") { dir =>
      val target = new java.io.File(dir, "artifact")
      val e = intercept[IllegalStateException] {
        IvfIndex.publishOnce(target) { tmp =>
          val d = new java.io.File(tmp); d.mkdirs()
          java.nio.file.Files.writeString(new java.io.File(d, "part").toPath, "p")
          throw new IllegalStateException("build failed")
        }
      }
      assert(e.getMessage == "build failed", "the build's exception must reach the caller")
      assert(dir.listFiles().count(_.getName.startsWith("artifact.tmp-")) == 0,
        "a failed build's tmp dir must be removed")
      assert(!new java.io.File(target, "_SUCCESS").exists())
      // the next call finds no marker and builds
      var builds = 0
      IvfIndex.publishOnce(target) { tmp =>
        builds += 1
        val d = new java.io.File(tmp); d.mkdirs()
        java.nio.file.Files.writeString(new java.io.File(d, "_SUCCESS").toPath, "")
      }
      assert(builds == 1 && new java.io.File(target, "_SUCCESS").exists())
      assert(dir.listFiles().map(_.getName).sorted.sameElements(Array("artifact")))
    }
  }
}
