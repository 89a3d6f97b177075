package graft.kg

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The lineage table: one `_lineage/stage=<name>` partition per stage,
  * replaced whenever the stage is recomputed, and resume-time output
  * totals derived from it instead of a recount of the stage's parquet.
  */
class StagesLineageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("outputRowsOf: in-run totals + lineage-derived resume, no recount") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stages_outrows").toString
    val st = new Stages(spark, base)
    st.stage("a") { Seq(1, 2, 3).toDF("id") }
    // recorded for free while the stage's lineage rows were built
    assert(st.outputRowsOf("a") == 3L)
    // downstream stage records the lineage-derived input_rows
    st.stage("b", st.outputRowsOf("a")) { Seq(9).toDF("id") }
    val linB = st.lineage().filter(col("stage") === "b").collect()
    assert(linB.forall(_.getAs[Long]("input_rows") == 3L))
    // an empty stage writes the sentinel row (ran, produced nothing)
    st.stage("empty") { Seq.empty[Int].toDF("id") }
    assert(st.outputRowsOf("empty") == 0L)

    // RESUME: a fresh Stages (new run over the same outDir) derives
    // totals from the lineage table — no recount of stage parquet
    val st2 = new Stages(spark, base)
    assert(st2.outputRowsOf("a") == 3L)
    assert(st2.outputRowsOf("b") == 1L)
    assert(st2.outputRowsOf("empty") == 0L)
    assert(st2.outputRowsOf("never_ran") == -1L)
    // and a resumed downstream stage records the derived input_rows
    st2.stage("c", st2.outputRowsOf("b")) { Seq((1, 2)).toDF("x", "y") }
    val linC = st2.lineage().filter(col("stage") === "c").collect()
    assert(linC.forall(_.getAs[Long]("input_rows") == 1L))
  }

  test("lineage rows: one per write task, summing to the parquet's count") {
    val base = java.nio.file.Files.createTempDirectory("stages_parts").toString
    val st = new Stages(spark, base)
    val out = st.stage("r") { spark.range(0, 1000, 1, 7).toDF() }
    val parquet = spark.read.parquet(s"$base/r")
    // read back with the written schema, so no inference job ran
    assert(out.schema == parquet.schema)
    val lin = st.lineage().filter(col("stage") === "r")
      .select("partition_id", "output_rows").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toSeq
    assert(lin.map(_._1).distinct.size == lin.size, s"partition ids: $lin")
    assert(lin.size == 7 && lin.forall(_._2 > 0L), s"rows: $lin")
    assert(lin.map(_._2).sum == parquet.count())
    assert(st.outputRowsOf("r") == 1000L)
    TestSpark.deleteRec(new java.io.File(base))
  }

  test("a stage over a local frame runs two jobs: its write and its lineage write") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stages_jobs").toString
    val st = new Stages(spark, base)
    val sc = spark.sparkContext
    val group = s"stages-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "stage bookkeeping job count")
      try st.stage("local") { Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v") }
      finally sc.clearJobGroup()
      org.apache.spark.ListenerBusAccess.drain(sc)
      assert(jobs.get == 2)
    } finally sc.removeSparkListener(listener)
    assert(st.outputRowsOf("local") == 3L)
    TestSpark.deleteRec(new java.io.File(base))
  }

  test("mixed runner nonces in one stage partition report unknown, not the sum") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stages_race").toString
    val st = new Stages(spark, base)
    // simulate the documented contract violation: two runners wrote the
    // same stage concurrently and both row sets landed in its partition
    for (nonce <- Seq("runner-a", "runner-b"))
      spark.range(1).select(
        lit(0).as("partition_id"),
        lit(10L).as("input_rows"), lit(0L).as("skipped_rows"),
        lit(10L).as("output_rows"), lit(5L).as("wall_ms"),
        lit(nonce).as("runner_nonce"))
        .write.mode("append").parquet(s"${st.lineagePath}/stage=raced")
    assert(st.outputRowsOf("raced") == -1L)
    // one runner's multi-partition rows stay summable (one nonce)
    spark.range(2).select(
      col("id").cast("int").as("partition_id"),
      lit(4L).as("input_rows"), lit(0L).as("skipped_rows"),
      lit(4L).as("output_rows"), lit(5L).as("wall_ms"),
      lit("runner-a").as("runner_nonce"))
      .write.mode("append").parquet(s"${st.lineagePath}/stage=clean")
    assert(st.outputRowsOf("clean") == 8L)
    // a later SEQUENTIAL rerun of the raced stage replaces its
    // partition, so it reports its own count, in-run and on resume
    val st2 = new Stages(spark, base)
    st2.stage("raced") { Seq(1, 2, 3).toDF("id") }
    assert(st2.outputRowsOf("raced") == 3L)
    assert(new Stages(spark, base).outputRowsOf("raced") == 3L)
    assert(st2.lineage().filter(col("stage") === "raced")
      .select("runner_nonce").distinct().count() == 1L)
  }

  test("force-recomputed stage never double-counts across lineage appends") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("stages_recompute").toString
    new Stages(spark, base).stage("t") { Seq(1, 2, 3).toDF("id") }
    // the natural force-recompute gesture: delete the stage dir, keep
    // the lineage, re-run — the rerun replaces stage t's lineage rows
    graft.TestSpark.deleteRec(new java.io.File(s"$base/t"))
    val st2 = new Stages(spark, base)
    st2.stage("t") { Seq(1, 2, 3, 4, 5).toDF("id") }
    assert(st2.outputRowsOf("t") == 5L)
    // a THIRD runner resolves purely from lineage: latest run only
    assert(new Stages(spark, base).outputRowsOf("t") == 5L)
    assert(st2.lineage().filter(col("stage") === "t")
      .agg(sum("output_rows")).head().getLong(0) == 5L)

    // the benchmark's resume gesture on a 4-stage chain: delete the
    // last three stage dirs and rerun; the first stage resumes
    val chain = java.nio.file.Files.createTempDirectory("stages_chain").toString
    def run(st: Stages, firstRan: () => Unit): Unit = {
      val a = st.stage("a") { firstRan(); Seq(1, 2, 3, 4).toDF("id") }
      val b = st.stage("b", st.outputRowsOf("a")) { a.filter(col("id") > 1) }
      val c = st.stage("c", st.outputRowsOf("b")) { b.filter(col("id") > 2) }
      st.stage("d", st.outputRowsOf("c")) { c.filter(col("id") > 3) }
    }
    run(new Stages(spark, chain), () => ())
    Seq("b", "c", "d").foreach(s =>
      graft.TestSpark.deleteRec(new java.io.File(s"$chain/$s")))
    var aRecomputed = false
    val st3 = new Stages(spark, chain)
    run(st3, () => aRecomputed = true)
    assert(!aRecomputed, "stage a should have been resumed from checkpoint")
    // exactly one row set per stage: one runner, distinct partition ids
    val perStage = st3.lineage().groupBy("stage").agg(
      count(lit(1)), countDistinct(col("partition_id")),
      countDistinct(col("runner_nonce")), sum(col("output_rows")),
      max(col("input_rows")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(perStage.keySet == Set("a", "b", "c", "d"))
    perStage.foreach { case (s, (n, ids, nonces, _, _)) =>
      assert(n == ids && nonces == 1L, s"stage $s: $n rows, $ids ids, $nonces nonces")
    }
    assert(perStage.map { case (s, v) => s -> v._4 } ==
      Map("a" -> 4L, "b" -> 3L, "c" -> 2L, "d" -> 1L))
    // the resumed b took its input_rows from a's lineage partition
    assert(perStage("b")._5 == 4L)
    TestSpark.deleteRec(new java.io.File(base))
    TestSpark.deleteRec(new java.io.File(chain))
  }

  test("a lineage table from before the per-stage layout resumes as unknown") {
    val base = java.nio.file.Files.createTempDirectory("stages_flat").toString
    val st = new Stages(spark, base)
    // the old append-only layout: flat files with a stage column
    spark.range(1).select(
      lit("old").as("stage"), lit(0).as("partition_id"),
      lit(10L).as("input_rows"), lit(10L).as("output_rows"),
      lit(5L).as("wall_ms"))
      .write.mode("append").parquet(st.lineagePath)
    assert(st.outputRowsOf("old") == -1L)
    TestSpark.deleteRec(new java.io.File(base))
  }
}
