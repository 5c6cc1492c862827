package graft

import org.apache.spark.sql.SparkSession

/** The ONE shared local-session configuration for every entry point
  * (Bench, Verify, the measurement tools, the test harness). Previously
  * copy-pasted into six builders (ADVICE r21) — a retune that misses one
  * silently diverges benchmarks, verification and plan dumps in plan
  * shape. Master/parallelism follow the driver contract:
  * `local[$SPARK_GRAFT_CPUS]`, shuffle partitions = cpus. */
object Sessions {

  /** Core count from the driver contract (`SPARK_GRAFT_CPUS`). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def localBuilder(cpus: String = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // some driver generations ship events.ts as TIMESTAMP(NANOS), which
      // Spark rejects by default — read those as long nanoseconds; the
      // temporal operators adapt to either encoding (Tables.eventMicros)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing runs at Spark defaults. r21 pinned a 16 KB
      // minPartitionSize floor here to keep small-but-CPU-dense post-
      // shuffle stages parallel (x_bm25_topk once spent 3.4 s of 4.6 s in
      // one 1-task job); the r21 parallelizeSmallScan work fixed that at
      // the SCAN level, and the r22 interleaved A/B (two rounds, both
      // sides, 10 queries — OPTIMIZATION_r22.md) measured the floor as
      // equal-or-slower everywhere, including its original beneficiaries
      // (x_bm25_topk 3.5-3.8 s without vs 3.7-4.1 s with; x_tfidf_top
      // 1.0-1.2 vs 1.4-1.6): the extra tiny post-shuffle tasks are pure
      // overhead once scans parallelize. Dropped — fewer tuned constants.
      .config("spark.ui.enabled", "false")
      // JVM-wide cache of generated classes (a static conf: it only takes
      // at session build). One import task compiles 100-143 distinct
      // classes (importbench: about 100 with debug off, 124-143 with
      // debug on); at Spark's default bound of 100 every task missed the
      // cache and compiled most of them again. 1000 leaves room for
      // multi-task deltas, the failure path and recovery plans.
      // ImportPipelineSpec pins that a repeated import compiles nothing.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
}
