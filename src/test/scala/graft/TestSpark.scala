package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, with an isolated temp warehouse
  * so managed-table tests (rpt catalog) never touch real data; the
  * warehouse is deleted when the test JVM exits. */
object TestSpark {
  lazy val spark: SparkSession = {
    val warehouse = Files.createTempDirectory("graft-warehouse").toFile
    sys.addShutdownHook(FileUtils.deleteQuietly(warehouse))
    Engine.session(4, "spark.sql.warehouse.dir" -> warehouse.toString)
  }

  /** A fresh directory under java.io.tmpdir named `prefix`*, deleted with
    * everything in it once `f` returns or throws. */
  def withTempDir[T](prefix: String)(f: java.io.File => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    try f(dir) finally FileUtils.deleteDirectory(dir)
  }

  def fixture(name: String): String =
    s"${graft.pipeline.Fixtures.dir}/$name"

  /** Jobs `f` launches on this thread, counted by a listener filtered on
    * a private job group, so sibling suites' jobs never count. A sentinel
    * job in a second group flushes the asynchronous listener bus: events
    * arrive in order, so once it is seen every job of `f` was counted. */
  def jobsOf[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = s"jobs-of-${System.nanoTime()}"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(
          String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "counted")
      val r = try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-sentinel", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(s"$tag-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(s"$tag-sentinel"), "listener bus did not drain")
      (r, groups.toArray.count(_ == tag))
    } finally sc.removeSparkListener(listener)
  }
}
