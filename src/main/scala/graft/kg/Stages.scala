package graft.kg

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint-resumable stage runner with per-partition lineage
  * (north rule: "resumable from checkpoint with per-partition lineage +
  * metrics").
  *
  * Each stage materializes to `<base>/<name>` (Parquet + `_SUCCESS`);
  * re-running the pipeline skips every stage whose output already
  * exists, so a killed job resumes from the last completed stage.
  *
  * LAYOUT: the lineage table `<base>/_lineage` is partitioned by stage.
  * Each stage owns `_lineage/stage=<name>/`, holding one row per write
  * task that wrote rows (partition_id, input_rows, skipped_rows,
  * output_rows, wall_ms, runner_nonce). `partition_id` is the write
  * task's partition, and `output_rows` is read from the footers of its
  * part files, so recording lineage never scans the stage's output; the
  * stage's frame is read back with the schema it was written with, so
  * no schema-inference job runs either. The partition is overwritten
  * (dynamic partition overwrite) whenever the stage is computed, so a
  * stage that was recomputed after its dir was deleted holds only its
  * latest row set and can never be double-counted.
  *
  * CONCURRENCY CONTRACT: one runner per outDir at a time. Every runner
  * stamps its rows with a per-instance `runner_nonce`; two runners that
  * wrote the same stage concurrently can leave rows of both in one
  * partition, and [[outputRowsOf]] then reports unknown (-1) rather
  * than the sum. Sequential resumes, from any host, are what the
  * layout is built for; run concurrent drivers against separate
  * outDirs.
  */
final class Stages(spark: SparkSession, base: String) {

  private val runnerNonce: String = java.util.UUID.randomUUID().toString

  private def successExists(dir: String): Boolean = {
    // Hadoop FS so hdfs://, s3a:// etc. resume correctly
    val p = new Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def lineagePath: String = s"$base/_lineage"

  /** All lineage rows; partition discovery restores the `stage` column. */
  def lineage(): DataFrame = spark.read.parquet(lineagePath)

  /** output_rows totals of stages computed by THIS runner — recorded
    * for free while the lineage rows are built, so downstream stages
    * never re-count a materialized parquet just to fill a lineage
    * field.
    */
  private val computedOutputRows =
    scala.collection.mutable.Map.empty[String, Long]

  /** Total output rows of stage `name` — the lineage-derived stand-in
    * for a fresh `count()` over the stage's parquet (stage N's input IS
    * stage N-1's output, already durably recorded per partition).
    * Resolution: recorded this run (free) -> summed from the stage's
    * lineage partition (the resume path; one tiny-file read) -> -1
    * (unknown: no lineage partition, e.g. a stage dir that survived a
    * crash whose lineage write did not, or rows from two runners).
    */
  def outputRowsOf(name: String): Long =
    computedOutputRows.getOrElseUpdate(name, {
      try {
        val r = spark.read.parquet(s"$lineagePath/stage=$name")
          .agg(sum(col("output_rows")), countDistinct(col("runner_nonce")))
          .head()
        if (r.isNullAt(0) || r.getLong(1) > 1L) -1L else r.getLong(0)
      } catch {
        case _: org.apache.spark.sql.AnalysisException => -1L // no lineage
      }
    })

  /** Run (or resume) one stage. `inputRows`/`skippedRows` are recorded
    * in lineage (evaluated AFTER the stage materializes, so accumulator
    * values are populated); pass -1 when unknown.
    */
  def stage(name: String, inputRows: => Long = -1L,
      skippedRows: => Long = -1L)(compute: => DataFrame): DataFrame = {
    val dir = s"$base/$name"
    if (successExists(dir)) {
      spark.read.parquet(dir)
    } else {
      val t0 = System.nanoTime()
      val df = compute
      df.write.mode("overwrite").parquet(dir)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val inRows = inputRows
      val skipRows = skippedRows
      // The lineage rows come from the footers of the part files just
      // written, read on the driver: no scan of the stage's parquet.
      // An empty stage still writes one sentinel row (partition_id -1,
      // 0 rows) so the resume path can distinguish "ran, produced
      // nothing" from "never ran".
      val partRows = footerRowCounts(dir)
      val rows = if (partRows.isEmpty) Seq((-1, 0L)) else partRows
      computedOutputRows(name) = partRows.map(_._2).sum
      spark.createDataFrame(rows)
        .toDF("partition_id", "output_rows")
        .select(
          lit(name).as("stage"),
          col("partition_id"),
          lit(inRows).as("input_rows"),
          lit(skipRows).as("skipped_rows"),
          col("output_rows"),
          lit(wallMs).as("wall_ms"),
          lit(runnerNonce).as("runner_nonce"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("stage")
        .parquet(lineagePath)
      // the schema just written, so the read plans no inference job
      spark.read.schema(df.schema).parquet(dir)
    }
  }

  /** (partition_id, rows) per write task of the parquet at `dir`, from
    * the part files' footers; a task's partition id is the number in
    * its `part-<id>-…` file names, and tasks that wrote no rows are
    * left out.
    */
  private def footerRowCounts(dir: String): Seq[(Int, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    path.getFileSystem(conf).listStatus(path).toSeq
      .filter(_.getPath.getName.startsWith("part-"))
      .map { st =>
        val file = st.getPath.getName
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try (file.substring(5, file.indexOf('-', 5)).toInt, reader.getRecordCount)
        finally reader.close()
      }
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq
      .filter(_._2 > 0L).sorted
  }
}
