package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Direct measurement of the exact-substring operator's superlinearity
  * MECHANISM: the pairable-position fraction p(N) (round-12 verdict #2).
  *
  * Round 12 established the structure: with the pairability Bloom, the
  * substring pair finder's shuffle = one linear gram-stats pass + two
  * join sides whose volume is (to Bloom fpp) the PAIRABLE positions —
  * positions whose SpanK-gram occurs in 2..MaxSpanGramDf distinct docs.
  * The measured 300×→1000× segment slope of 1.44 is therefore exactly
  * the growth of p(N): coincidental k-char repeats emerging as the
  * corpus grows. The round-13 k20 witness showed the join itself stops
  * fitting this sandbox's disk right where that growth is steepest, so
  * the settling constant cannot be read from end-to-end shuffle here.
  * This diagnostic measures p(N) WITHOUT the join — and, via gram-hash
  * stratified sampling, without even the full stats shuffle — so the
  * mechanism curve extends decades past the join's disk bound.
  *
  * Sampling: restrict to grams with pmod(gh, S) = 0 BEFORE the df
  * aggregate. gh is xxhash64 of the gram text, so the stratum is a
  * uniform 1/S of gram SPECIES, each with its EXACT global df (every
  * position of a sampled gram lands in the stratum); multiplying the
  * stratum's position masses by S is the standard unbiased species-
  * stratified estimator, and the stats shuffle shrinks by S. S=1 is
  * the exact census. The estimator is validated in LlmSpec: on the
  * fixture, S=4 strata each reproduce the exact band fractions within
  * sampling noise, and the S=1 census equals substringIslands' own
  * nEligible accounting.
  *
  * Usage: [SPARK_GRAFT_IO_CODEC=zstd] tools/run.sh graft.SubstrFrac <corpusDir> [k] [cap] [S] [tag]
  * Prints one JSON line; appends to SUBSTRFRAC.jsonl when tag given.
  */
object SubstrFrac {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val k = if (args.length > 1) args(1).toInt else llm.DedupQueries.SpanK
    val cap = if (args.length > 2) args(2).toInt else llm.DedupQueries.MaxSpanGramDf
    val s0 = if (args.length > 3) args(3).toLong else 1L
    val tag = if (args.length > 4) Some(args(4)) else None
    val spark = GraftSession.local(GraftSession.cpus,
      "spark.io.compression.codec" -> sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "zstd"))
    // Mechanism decades past the join's reach need corpora ScaleBench
    // never ran: SPARK_GRAFT_GEN_ZIPF_DOCS=N generates the standard
    // Zipf witness corpus at `dir` first (same generator, _READY-gated
    // — a no-op when the corpus already exists).
    sys.env.get("SPARK_GRAFT_GEN_ZIPF_DOCS").foreach { n =>
      ScaleBench.zipfCorpus(spark, dir, n.toLong)
    }
    println(measureJson(spark, dir, k, cap, s0, tag))
    spark.stop()
  }

  /** One measurement — shared with the LlmSpec estimator validation.
    *
    * Returns (pos_total, pos_band, pos_hot, grams_total, grams_band,
    * pairs_band): pairs_band is the SELF-JOIN OUTPUT mass the band
    * produces — per gram, Σ_{docs i<j} occ_i·occ_j = (occ² − Σocc_i²)/2
    * — i.e. the row count of the pair frame the diagonal-island
    * windows then shuffle. The round-13 p(N) census showed the join
    * INPUT fraction (pos_band/pos_total) is flat across decades, so
    * THIS is the term whose growth is the measured 300×→1000×
    * superlinearity; its per-position ceiling is hard-bounded by the
    * df cap (each band position pairs with partner positions of the
    * same gram in ≤ cap−1 other docs).
    */
  private[graft] def measure(spark: SparkSession, dir: String, k: Int,
                             cap: Int, s0: Long, strata: Long = 0L)
      : (Long, Long, Long, Long, Long, Long) = {
    val posGrams = llm.DedupQueries.substrPosGrams(spark, dir, k)
      .select(col("gh"), col("doc_id"))
      .filter(pmod(col("gh"), lit(s0)) === lit(strata % s0))
    // Same single-exchange discipline as the production stats pass:
    // the explicit repartition(gh) serves both groupBys, so the
    // stratum shuffles ONCE at positions/S scale.
    val perDoc = posGrams
      .repartition(col("gh"))
      .groupBy(col("gh"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
    val stats = perDoc
      .groupBy(col("gh"))
      .agg(sum(col("occ")).as("occ"), count(lit(1)).as("d"),
        sum(col("occ") * col("occ")).as("occ2"))
    val inBand = col("d") >= 2 && col("d") <= cap
    val row = stats.agg(
      sum(col("occ")).as("pos_total"),
      sum(when(inBand, col("occ"))).as("pos_band"),
      sum(when(col("d") > cap, col("occ"))).as("pos_hot"),
      count(lit(1)).as("grams_total"),
      sum(when(inBand, 1L)).as("grams_band"),
      // occ² − Σocc_i² is even by construction (= 2·Σ_{i<j} occ_i·occ_j);
      // integral `div` (NOT Column.divide, which routes long→double→/2
      // and loses exactness above 2^53 — ADVICE r13) keeps the whole
      // pair-mass census in exact long arithmetic.
      sum(when(inBand,
        expr("(occ * occ - occ2) div 2").cast("long"))).as("pairs_band")
    ).head
    def g(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    (g(0), g(1), g(2), g(3), g(4), g(5))
  }

  private def measureJson(spark: SparkSession, dir: String, k: Int,
                          cap: Int, s0: Long, tag: Option[String]): String = {
    val t0 = System.nanoTime()
    val (posT, posB, posH, grT, grB, prB) = measure(spark, dir, k, cap, s0)
    val secs = (System.nanoTime() - t0) / 1e9
    val nDocs = Tables(spark, dir, "documents").count()
    def fmt(d: Double) = "%.6f".formatLocal(java.util.Locale.US, d)
    val json =
      s"""{"dir":"$dir","docs":$nDocs,"k":$k,"cap":$cap,"sample_mod":$s0,""" +
        s""""pos_sampled":$posT,"pos_band":$posB,"pos_hot":$posH,""" +
        s""""grams_sampled":$grT,"grams_band":$grB,"pairs_band":$prB,""" +
        s""""frac_band":${fmt(posB.toDouble / math.max(posT, 1L))},""" +
        s""""frac_hot":${fmt(posH.toDouble / math.max(posT, 1L))},""" +
        s""""pairs_per_pos":${fmt(prB.toDouble / math.max(posT, 1L))},""" +
        s""""est_pos_band_total":${posB * s0},"secs":${fmt(secs)}""" +
        tag.map(t => s""","tag":"$t"}""").getOrElse("}")
    tag.foreach { _ =>
      java.nio.file.Files.write(java.nio.file.Paths.get("SUBSTRFRAC.jsonl"),
        (json + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    json
  }
}
