package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table maintenance for incrementally-loaded tables. Every append-style
  * loader (the reference's per-extract COPY, our [[Loader.dedupAppend]])
  * leaves one file batch per run; after thousands of runs a 100 TB table is
  * millions of small files and scan planning + open/seek overhead dominate.
  * Compaction rewrites ONLY the partitions that have fragmented — the same
  * partition-scoped dynamic-overwrite machinery as [[Loader.upsertPartitioned]],
  * so untouched partitions keep their files byte-identical.
  */
object Maintenance {

  /** Per-partition fragmentation report: (partCols..., n_files, n_rows).
    * Metadata-scale output (one row per partition), computed distributed
    * from `input_file_name` — no filesystem listing on the driver. */
  def fileStats(spark: SparkSession, table: String,
                partCols: Seq[String]): DataFrame = {
    val t = spark.table(table)
    val keys = if (partCols.isEmpty) Seq(lit("(table)").as("scope"))
               else partCols.map(col)
    val names = if (partCols.isEmpty) Seq("scope") else partCols
    t.select(keys :+ input_file_name().as("_f"): _*)
      .groupBy(names.map(col): _*)
      .agg(countDistinct(col("_f")).as("n_files"), count(lit(1)).as("n_rows"))
  }

  /** Rewrite every partition holding more than `maxFiles` files down to one
    * file per partition. Row-identical by construction (a pure physical
    * rewrite); partitions at or under the threshold are not touched —
    * their files (and any statistics derived from them) survive.
    *
    * Returns the number of partitions compacted. The victim list is
    * metadata-scale; the rewrite itself shuffles once on the partition
    * columns, which lands each partition's rows in exactly one task → one
    * output file per partition directory. */
  def compactPartitions(spark: SparkSession, table: String,
                        partCols: Seq[String], maxFiles: Int = 8): Long = {
    require(partCols.nonEmpty,
      "compactPartitions needs partition columns; use compact for flat tables")
    val victims = fileStats(spark, table, partCols)
      .filter(col("n_files") > maxFiles)
      .select(partCols.map(col): _*).cache()
    val n = victims.count()
    if (n > 0) {
      val cond = partCols.map(c => col(s"t.$c") <=> col(s"p.$c")).reduce(_ && _)
      val rows = spark.table(table).alias("t")
        .join(broadcast(victims.alias("p")), cond, "left_semi")
        .repartition(partCols.map(col): _*)
      Loader.writeViaStage(spark, rows, table) { staged =>
        graft.Engine.withConf(spark,
            "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
          staged.repartition(partCols.map(col): _*)
            .write.mode("overwrite").insertInto(table)
        }
      }
    }
    victims.unpersist()
    n
  }

  /** Flat-table compaction: rewrite the whole table into `numFiles` files.
    * For partitioned tables prefer [[compactPartitions]] — this rewrites
    * everything. */
  def compact(spark: SparkSession, table: String, numFiles: Int = 1): Unit =
    Loader.writeViaStage(spark, spark.table(table).repartition(numFiles),
      table) { staged =>
      staged.repartition(numFiles).write.mode("overwrite").insertInto(table)
    }
}
