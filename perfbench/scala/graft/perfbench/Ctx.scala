package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What a workload run needs: the session, its private directories, the
  * generated inputs and the instruments.
  */
final class Ctx(val spark: SparkSession, val dataDir: String, val runDir: String,
                val inputs: JsonNode, val trace: Trace, val meter: Meter,
                val seconds: Double, val cpus: Int) {
  private var attemptedOps = 0
  private var failedOps = 0
  val failures = scala.collection.mutable.ArrayBuffer[String]()

  def attempted: Int = attemptedOps
  def failed: Int = failedOps

  /** Count one attempted operation; it failed when any check is false. */
  def checked(op: String, checks: (Boolean, String)*): Unit = {
    attemptedOps += 1
    val bad = checks.collect { case (false, why) => why }
    if (bad.nonEmpty) {
      failedOps += 1
      failures ++= bad.map(w => s"$op: $w")
    }
  }

  /** Run a stream operation; an exception counts it as failed. */
  def guarded(op: String)(body: => Unit): Unit =
    try body catch { case e: Exception =>
      checked(op, false -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }

  /** Spark work of `span` and its children. */
  def counters(span: Span): Counters = meter.total(spark.sparkContext, trace.subtree(span))
}

object Ctx {
  /** Stream operations every run performs, however long they take; the
    * per-operation CPU figures are taken over these.
    */
  val CpuSampleOps = 20
}

/** What a workload hands back: its bulk steps and its stream of
  * operations (the end-to-end metrics' inputs), plus the per-layer and
  * headline figures only it can compute.
  */
final case class Outcome(bulk: Seq[Span], stream: Seq[Span],
                         layers: Map[String, Double], named: Map[String, Double])

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Order-insensitive (row count, hash sum) of a frame. Floating values
    * are rounded to 6 decimals first, so a partition-dependent last bit
    * in a floating-point aggregate does not change the hash.
    */
  def rowHash(df: DataFrame): DataFrame = {
    def canon(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column =
      t match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(c, x => round(x.cast(DoubleType), 6))
        case _ => c
      }
    val cols = df.schema.fields.map(f => canon(col(s"`${f.name}`"), f.dataType))
    df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast(DecimalType(38, 0))).as("s"))
  }

  def hashText(r: org.apache.spark.sql.Row): String =
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).fold("0")(_.toPlainString)}"
}
