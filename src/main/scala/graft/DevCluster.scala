package graft

import graft.spark.Sessions

/** Multi-JVM scaling probe: runs the full KG job (synthetic pages →
  * extract → mentions → triples → count) on a `local-cluster[N,cores,
  * mem]` master, which launches N separate executor JVM processes —
  * the sandbox analog of N cluster executors (per-executor heaps, GC,
  * JIT; task dispatch over the network stack). Args: workers
  * coresPerWorker docs. Best-of-3 after a full-size warmup; prints one
  * CLUSTER line. Run via spark-submit with a matching --master (the
  * distribution's launcher is needed to spawn worker JVMs); reproduce
  * command + measured results: BASELINE.md §BENCH.
  */
object DevCluster {
  def main(args: Array[String]): Unit = {
    val workers = if (args.nonEmpty) args(0).toInt else 2
    val coresPer = if (args.length > 1) args(1).toInt else 4
    val docs = if (args.length > 2) args(2).toLong else 60000L
    val spark = Sessions.session("graft-cluster", workers * coresPer)
    def job(n: Long): (Long, Double) =
      ScalingJob.run(spark, n, partitions = workers * coresPer * 6)
    job(docs) // warmup
    val runs = (1 to 3).map(_ => job(docs))
    val best = runs.minBy(_._2)
    println(f"CLUSTER workers=$workers cores=$coresPer triples=${best._1} sec=${best._2}%.3f tps=${best._1 / best._2}%.0f")
    spark.stop()
  }
}
