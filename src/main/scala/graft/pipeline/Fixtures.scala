package graft.pipeline

import java.nio.file.{Files, Paths}

/** Bundled reference-shaped staging fixtures (whole-file JSON arrays,
  * FIXTURES.md §A). Classpath resources are not Spark-readable when the app
  * runs from a jar (`jar:` URLs), so they are materialized into a directory
  * under java.io.tmpdir keyed by an MD5 of the bundled bytes: published
  * once ([[graft.operators.IvfIndex.publishOnce]]) and shared by every
  * later JVM, since the DuckDB oracles read this path after the JVM that
  * wrote it has exited. */
object Fixtures {

  val files: Seq[String] =
    Seq("dags.json", "dagRuns1.json", "dagRuns2.json", "taskInstances1.json",
      "cdc.json")

  lazy val dir: String = {
    val bytes = files.map { name =>
      val in = getClass.getResourceAsStream(s"/fixtures/$name")
      require(in != null, s"missing bundled fixture /fixtures/$name")
      try name -> in.readAllBytes() finally in.close()
    }
    val md5 = java.security.MessageDigest.getInstance("MD5")
    bytes.foreach { case (name, b) => md5.update(name.getBytes("UTF-8")); md5.update(b) }
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft-fixtures-" + md5.digest().map("%02x".format(_)).mkString.take(12))
    graft.operators.IvfIndex.publishOnce(path) { tmp =>
      val d = Files.createDirectories(Paths.get(tmp))
      bytes.foreach { case (name, b) => Files.write(d.resolve(name), b) }
      Files.createFile(d.resolve("_SUCCESS"))
    }
    path.toString
  }
}
