package graft.spark

import org.apache.spark.sql.{Column, DataFrame}

/** Scan-parallelism floor for compute-heavy narrow stages (guide §6).
  *
  * A narrow kernel (HTML parse, per-row decode, dot-product scoring)
  * runs at the parallelism of its INPUT SCAN. A corpus that fits one
  * parquet split therefore runs the whole kernel on ONE task while the
  * rest of the cluster idles — measured r8: the sf0.1 `documents`
  * table is a single split, so every extraction-kernel query parsed
  * all its pages single-threaded at local[32], and the 4M-pair
  * self-exhaustive ANN scoring stage ran on 1-2 of 32 cores.
  *
  * [[spread]] hash-repartitions by a unique key to `defaultParallelism`
  * ONLY when the scan has fewer partitions than that — deterministic,
  * skew-free for unique keys, and a NO-OP at scale (any real corpus
  * has splits >> cores). This is input-layout-adaptive, not a
  * local-mode constant: the production equivalent is
  * `spark.sql.files.maxPartitionBytes` / `minPartitionNum` sizing,
  * which the frozen bench session cannot set per query.
  */
object Scans {
  def spread(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target, key)
    else df
  }
}
