package graft

import org.apache.spark.sql.SparkSession

/** The one engine session factory: every main and the test fixture
  * build their session here, so specs, bench and dev tools plan with
  * the same confs. (`perfbench/`, a separate program that measures this
  * library, mirrors the set in its own builder.) Overrides are for
  * values a caller really needs to differ: an IO codec, a streaming
  * checkpoint flag, a warehouse directory.
  */
object GraftSession {
  val DefaultCpus = 32

  /** SPARK_GRAFT_CPUS, read here only; unset or malformed -> [[DefaultCpus]]. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(raw: Option[String]): Int =
    raw.flatMap(_.trim.toIntOption).filter(_ > 0).getOrElse {
      raw.foreach(v => System.err.println(
        s"[graft] SPARK_GRAFT_CPUS='$v' is not a positive integer; using $DefaultCpus"))
      DefaultCpus
    }

  /** Every conf an engine session carries, in builder order. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // Broadcast discipline (scale safety): static auto-broadcast OFF —
    // Catalyst's static size estimates for aggregate/cache-derived
    // frames read tiny and would broadcast corpus-scale build sides
    // (measured driver OOM at the 30x ScaleBench corpus); AQE promotes
    // joins to broadcast only from ACTUAL runtime sizes. Explicit
    // broadcast() on bounded frames is unaffected.
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB",
    // Partition discovery of cell-partitioned artifacts (up to 1024
    // geo/IVF cell dirs) runs DRIVER-SIDE below this threshold: a
    // 1024-task listing JOB costs ~1.7 s of pure task overhead per
    // query CONSTRUCTION (measured, geo probe r8) vs ~50 ms of
    // driver listStatus calls. Above ~8k dirs the distributed
    // listing wins again - exactly Spark's intended use of the knob.
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "8192",
    // Shuffle-partition scaling: sizing for the FIXTURE (32) starves
    // a 100x corpus - each of 32 partitions then carries 100x the
    // rows and the sort/shuffle spills (measured: the substring
    // finder's real 1.2 slope at 30->100x collapses to ~linear at
    // 512 initial partitions, 154 -> 107 s at 100x). The
    // scale-correct discipline is a HIGH initial count with AQE
    // coalescing down to the data: small queries still run ~32
    // effective partitions, big shuffles get the fan-out they need.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "512",
    // Cached-plan builds go through AQE too (r14): the library's
    // pinned frames (posting lists, candidate grams, LM type tables)
    // are AGGREGATE outputs persisted for multiple consumers; with
    // this off (the upstream default, kept for partitioning-stability
    // conservatism) the cache materializes at the raw
    // initialPartitionNum=512 and every consumer scan pays 512 tasks
    // regardless of data size — measured 7x on the PMI unigram table
    // at sf0.1. With it on, AQE coalesces the cache build exactly
    // like any other shuffle, at every scale.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // Local small-SF stand-in for cluster file parallelism: the
    // fixture files are a few MB, far below the 128m default, so
    // every scan would be ONE partition and per-row compute would
    // single-thread. At real scale (multi-GB files) the default is
    // correct and this override is harmless.
    "spark.sql.files.maxPartitionBytes" -> "1m",
    "spark.sql.session.timeZone" -> "UTC",
    // FAIR scheduling so the concurrent multi-table import bench
    // shares executor slots across per-table pools instead of FIFO
    // head-of-line blocking behind the biggest table.
    "spark.scheduler.mode" -> "FAIR",
    "spark.ui.enabled" -> "false")

  /** A `local[cpus]` session: [[confs]], then `overrides`; log level WARN. */
  def local(cpus: Int, overrides: (String, String)*): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cpus]")
    (confs(cpus) ++ overrides).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
