package graft

/** Per-stage shuffle-byte attribution for the exact-substring pair
  * finder (round-12 verdict #2, final leg).
  *
  * The round-13 SubstrFrac census pinned every ROW count in this
  * operator linear in corpus size (band fraction flat at ~1.19%,
  * exactly one pair per band gram, zero hot grams through 15.3M
  * docs), yet the recorded shuffle VOLUME at 1000× reads 1.71× the
  * linear line. Linear rows + superlinear bytes means some stage's
  * bytes-per-row grows — this main runs the operator once at a given
  * corpus and prints every stage's shuffle write/read bytes, records
  * written, and the first line of the stage's call-site details, so
  * the growing term is named instead of guessed.
  *
  * Usage: [SPARK_GRAFT_IO_CODEC=zstd] tools/run.sh graft.SubstrStageBytes <corpusDir> [spanK]
  */
object SubstrStageBytes {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val k = if (args.length > 1) args(1).toInt else llm.DedupQueries.SpanK
    val spark = GraftSession.local(GraftSession.cpus,
      "spark.io.compression.codec" -> sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "zstd"))
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          if (m != null && (m.shuffleWriteMetrics.bytesWritten > 0 ||
              m.shuffleReadMetrics.totalBytesRead > 0)) {
            val wr = m.shuffleWriteMetrics
            val rd = m.shuffleReadMetrics
            stages.add(
              f"stage ${si.stageId}%4d tasks=${si.numTasks}%5d " +
                f"wMB=${wr.bytesWritten / 1e6}%10.1f wRec=${wr.recordsWritten}%12d " +
                f"wB/rec=${if (wr.recordsWritten > 0) wr.bytesWritten.toDouble / wr.recordsWritten else 0.0}%7.2f " +
                f"rMB=${rd.totalBytesRead / 1e6}%10.1f rRec=${rd.recordsRead}%12d " +
                f"| ${si.name}%s")
          }
        }
      })
    val t0 = System.nanoTime()
    llm.DedupQueries.substringIslands(spark, dir, spanK = k)
      .write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300) // listener bus drain
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq.sorted.foreach(println)
    println(f"[stagebytes] $dir k=$k total ${secs}%.1f s")
    spark.stop()
  }
}
