package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.StructType

/** Accessors for the driver-provided testdata tables (TESTDATA.md).
  *
  * Plain parquet scans — Catalyst handles column pruning and filter
  * pushdown, so every query should `select`/`filter` declaratively and
  * let the scan read only what it needs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(names.contains(name),
      s"unknown table '$name'; expected one of ${names.mkString(", ")}")
    val (read, repartition) = resolve(spark, s"$dir/$name.parquet")
    val df =
      if (repartition) read.repartition(spark.sparkContext.defaultParallelism)
      else read
    // events.ts is parquet TIMESTAMP(NANOS): Spark reads it as a nanosecond
    // Long (spark.sql.legacy.parquet.nanosAsLong, set in Engine.configure)
    // and we FLOOR it to microsecond TimestampType — `div` truncates toward
    // zero, which would disagree with DuckDB's flooring epoch_us by 1µs for
    // pre-epoch (negative) nanosecond timestamps (FIXTURES.md, SURVEY.md §7
    // timestamp-fidelity risk).
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(nsFloorToMicros))
    else df
  }

  /** The one parquet read path (tables, the events stream's schema, the
    * persisted artifacts): `spark.read.parquet(path)` with the schema
    * inference resolved once per JVM. Inference reads the footer inside a
    * Spark job on EVERY read, even of a file read a moment earlier — one
    * job per table per query, half the jobs a TPC-H query def launched.
    * The first read of a path runs exactly as before and memoizes the
    * inferred schema; every later read passes it back
    * (`spark.read.schema(s).parquet(path)`), which launches no job. Each
    * call still builds a fresh relation, so attribute ids stay distinct
    * per read and self-joins are unaffected. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    resolve(spark, path)._1

  /** Unsplittable-input guard (optimization guide §2.5): the driver
    * fixtures ship each table as ONE parquet file with one row group, so
    * every scan is a single partition and any per-row work fused into the
    * scan stage (HOF folds, decimal dots, codec walks) runs on 1 of N
    * cores — measured 368 → 249 s across the full sf0.1 inventory (v_pca's
    * Gram pass alone 11.5 s single-task). When the file layout supplies
    * fewer partitions than the session's parallelism, [[load]]
    * repartitions round-robin right after the read; rows are
    * payload-light at this size (the exchange is micro-seconds against
    * multi-second scan-stage compute). SCALE-ADAPTIVE, not a local[32]
    * constant: a multi-file corpus (gen_scale sf1+, any real deployment)
    * already scans at ≥ defaultParallelism partitions and the condition
    * no-ops; tables under 64 KB (dimension tables — region/nation/
    * supplier) skip it, since their scans feed broadcasts where an
    * exchange is pure overhead. Hash-safety: every declared aggregate is
    * order-independent by the determinism contract (decimal sums, exact
    * arithmetic, total-order sorts before every limit), and the
    * round-robin placement itself is deterministic
    * (sortBeforeRepartition, on by default).
    *
    * The memo: the schema and this decision are computed together on a
    * path's first read (the partition count costs 10-30 ms of driver
    * planning) and served to every later read with the same [[Key]]. A
    * stale entry would serve a WRONG SCHEMA (a dropped or retyped column,
    * not just mis-tuned parallelism), so the key holds everything the
    * answer depends on: the path, every file under it (name, length,
    * mtime — an overwrite writes new part files or changes a length or
    * mtime), and the session confs that change the inferred schema or the
    * partition count. Nothing is planned inside the map: the value is
    * computed first, then offered with `putIfAbsent`. */
  private def resolve(spark: SparkSession, path: String): (DataFrame, Boolean) =
    stamp(spark, Seq(path)) match {
      case None => (spark.read.parquet(path), false) // let the read raise
      case Some(files) =>
        val key = Key(path, files, memoConfs.map(spark.conf.getOption),
          spark.sparkContext.defaultParallelism)
        Option(memo.get(key)) match {
          case Some(r) => (spark.read.schema(r.schema).parquet(path), r.repartition)
          case None =>
            val df = spark.read.parquet(path)
            val r = Resolved(df.schema, files.map(_._2).sum >= 64L * 1024 &&
              df.rdd.getNumPartitions < key.parallelism)
            memo.putIfAbsent(key, r)
            (df, r.repartition)
        }
    }

  private final case class Key(path: String, files: Seq[(String, Long, Long)],
                               confs: Seq[Option[String]], parallelism: Int)
  private final case class Resolved(schema: StructType, repartition: Boolean)
  private val memo = new java.util.concurrent.ConcurrentHashMap[Key, Resolved]()

  /** Session confs the inferred schema (the first five, and mergeSchema for
    * multi-file paths) or the scan's partition count (the last two)
    * depends on. */
  private val memoConfs = Seq(
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")

  /** (file, length, mtime) of every file under `paths`, sorted, listed
    * through each path's Hadoop FileSystem; None when a path is missing.
    * The content stamp of the read memos (here and the artifact
    * fingerprint memo in IvfIndex). `listStatus`, not `listFiles`: the
    * latter builds a LocatedFileStatus, which reads each local file's
    * permissions by forking a process. */
  private[graft] def stamp(spark: SparkSession,
                           paths: Seq[String]): Option[Seq[(String, Long, Long)]] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      def walk(fs: FileSystem, p: Path): Seq[(String, Long, Long)] =
        fs.listStatus(p).toSeq.flatMap { f =>
          if (f.isDirectory) walk(fs, f.getPath)
          else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
        }
      Some(paths.flatMap { p =>
        val root = new Path(p)
        walk(root.getFileSystem(conf), root)
      }.sorted)
    } catch { case _: java.io.FileNotFoundException => None }

  /** Exact integer floor division of a ns Long to µs (no double rounding,
    * correct for negative values). */
  private[graft] def nsFloorToMicros: org.apache.spark.sql.Column =
    expr("(ts - (((ts % 1000) + 1000) % 1000)) div 1000")

  /** Register every table as a temp view named after itself. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
