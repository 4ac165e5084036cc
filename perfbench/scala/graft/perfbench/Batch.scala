package graft.perfbench

import org.apache.hadoop.fs.Path

import graft.{Pins, SparkEntry}
import graft.etl.IndexStore

/** Registry jobs run cold, in the seeded order, each followed by
  * `Pins.release`. The sink is an order-insensitive row hash (one small
  * aggregate over every output column), so each run checks every job
  * against the hash recorded from this commit's code. Between jobs the
  * artifact warehouse is emptied, so no job reuses an artifact an
  * earlier one built and the order does not change the work.
  */
object Batch {
  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.trace
    val jobs = Json.strings(ctx.inputs.get("jobs"))
    val want = ctx.inputs.get("hashes")
    val artifacts = new Path(IndexStore.artifactRoot(ctx.dataDir))
    val fs = artifacts.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val spans = scala.collection.mutable.ArrayBuffer[Span]()
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      for (job <- jobs) ctx.guarded(job) {
        val layer = if (job.startsWith("sql_")) "relational" else "llm"
        val (row, span) = tr.op("batch.job", "job" -> job, "pass" -> pass.toString) {
          val df = tr.layer(s"$layer.build")(SparkEntry.queries(job)(spark, ctx.dataDir))
          val hashed = Stats.rowHash(df)
          if (tr.traced) tr.layer("spark.compile")(hashed.queryExecution.executedPlan)
          val r = tr.layer(s"$layer.exec")(hashed.head())
          tr.layer("pins.release")(Pins.release(spark))
          r
        }
        spans += span
        fs.delete(artifacts, true)
        val got = Stats.hashText(row)
        val expected = Option(want.get(job)).map(_.asText).getOrElse("(none recorded)")
        ctx.checked(job, (got == expected, s"row hash $got, recorded $expected"))
      }
      pass += 1
    }

    val first = spans.filter(_.attrs("pass") == "0").toSeq
    val perJob = first.flatMap { s =>
      val job = s.attrs("job")
      val kids = tr.spans.filter(_.parent == s.id)
      def ms(suffix: String) = kids.filter(_.name.endsWith(suffix)).map(_.ms).sum
      val work = ctx.counters(s)
      Seq(s"batch.$job.build_s" -> ms(".build") / 1e3,
        s"batch.$job.exec_s" -> (ms(".exec") + ms(".compile")) / 1e3,
        s"batch.$job.cpu_s" -> work.cpuS,
        s"batch.$job.shuffle_mb" -> (work.shuffleWrite.sum + work.shuffleRead.sum) / 1e6)
    }
    val release = tr.spans.filter(_.name == "pins.release").map(_.ms)
    Outcome(
      bulk = first,
      stream = spans.toSeq,
      layers = perJob.toMap + ("pins.release_ms" -> Stats.median(release)),
      named = Map(
        "batch_s" -> first.map(_.ms).sum / 1e3,
        "passes" -> pass.toDouble))
  }
}
