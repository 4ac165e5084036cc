package graft

import org.apache.spark.sql.functions._

/** IVF probe-vs-recall curve dump (round-9 verdict item #4): prints,
  * for the fixture query (vec_id 0), overlap@10 and scanned-fraction
  * at every nProbe 1..nList, plus the two diagnostics that justify the
  * 16/4 operating point on this geometry:
  *
  *  - the exact top-10's cell ranks — at sf0.1 one true neighbor's
  *    NEAREST cell is the query's 10th-ranked of 16, so no nProbe < 10
  *    can see it and the 9/10 is a Voronoi-boundary fact, not probe
  *    starvation;
  *  - the SOAR/spilled-assignment census — the standard boundary fix
  *    (assign each vector to its 2 nearest cells) is measured to
  *    DEGENERATE here: d2/d1 ≈ 1.0 for essentially the whole corpus
  *    (98.6% of rows would duplicate at τ=1.1), i.e. dim-64 distance
  *    concentration leaves the spill criterion no selectivity, and the
  *    missed vector's 2nd cell is ranked 7th anyway. The fix is not a
  *    knob on THIS geometry; the exhaustive quantized families
  *    (PQ/SQ8/binary/LSH) are the 10/10 path and measure it in RECALL.
  *
  * MEASUREMENT CLI, not a query path (Recall.scala's sibling).
  * Usage: [SPARK_GRAFT_CPUS=32] tools/run.sh graft.IvfDiag [sfDir] — output
  * lands in SCALE.md's curve table.
  */
object IvfDiag {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import llm.SimilarityQueries._
    val nList = 16
    val e = embDouble(Tables.forCompute(spark, dir, "embeddings"))
    val cents = trainCentroids(e, nList)
    val q = e.filter(col("vec_id") === 0).select(col("emb")).head.getSeq[Double](0).toArray
    val qRank = cents.zipWithIndex.map { case (c, i) =>
      (c.zip(q).map { case (a, b) => val d = a - b; d * d }.sum, i)
    }.sorted.map(_._2)
    println(s"query cell ranking: ${qRank.mkString(",")}")
    val cb = typedlit(cents)
    val withCells = e
      .withColumn("__cd", call_function("cell_dists", col("emb"), cb))
      .withColumn("c1", llm.SimilarityQueries.argminCell(col("__cd"), nList))
      .withColumn("c2", llm.SimilarityQueries.argminCell(col("__cd"), nList, excl = Seq(col("c1"))))
      .withColumn("d1", element_at(col("__cd"), col("c1") + 1))
      .withColumn("d2", element_at(col("__cd"), col("c2") + 1))
      .drop("__cd")
      .persist()
    val census: Map[Int, Long] = withCells.groupBy(col("c1")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = census.values.sum
    println("cell census: " +
      census.toSeq.sorted.map { case (c, n) => s"$c:$n" }.mkString(" "))
    val qv = queryVec(e)
    val top = e.crossJoin(qv).filter(col("vec_id") =!= 0)
      .select(col("vec_id"), round(cosineNative(col("emb"), col("qv")), 9).as("m"))
      .orderBy(col("m").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0))
    val topCells: Map[Long, (Int, Int, Double)] =
      withCells.filter(col("vec_id").isin(top.toSeq: _*))
        .select(col("vec_id"), col("c1"), col("c2"), col("d1"), col("d2"))
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(1), r.getInt(2), math.sqrt(r.getDouble(4) / r.getDouble(3)))))
        .toMap
    println("exact cosine top10 (vec: c1@queryRank, c2@queryRank, d2/d1):")
    top.foreach { v =>
      val (c1, c2, ratio) = topCells(v)
      println(f"  vec $v%6d c1=$c1%2d@${qRank.indexOf(c1) + 1}%2d " +
        f"c2=$c2%2d@${qRank.indexOf(c2) + 1}%2d d2/d1=$ratio%.3f")
    }
    println("nProbe curve (overlap@10, scanned fraction):")
    (1 to nList).foreach { nProbe =>
      val probed = qRank.take(nProbe).toSet
      val overlap = top.count(v => probed(topCells(v)._1))
      val frac = probed.toSeq.map(c => census.getOrElse(c, 0L)).sum.toDouble / total
      println(f"  nProbe=$nProbe%2d overlap@10=$overlap%2d scan=${100 * frac}%.1f%%")
    }
    // Spill (SOAR / 2-nearest-cell assignment) selectivity census.
    Seq(1.05, 1.1, 1.2, 1.3).foreach { t =>
      val dup = withCells.filter(col("d2") <= lit(t * t) * col("d1")).count()
      println(f"spill tau=$t%.2f would duplicate $dup/$total rows " +
        f"(${100.0 * dup / total}%.1f%%)")
    }
    // The SERVED index's sidecar margin + the escalation decision the
    // geometry-aware default takes on this corpus (round-10 verdict
    // #4; see SimilarityQueries.MarginEscalateFrac). Built in a
    // symlinked scratch dir so diagnosing a corpus never writes into
    // its artifact root.
    locally {
      val tmp = java.nio.file.Files.createTempDirectory("ivfdiag").toString
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(tmp, "embeddings.parquet"),
        java.nio.file.Paths.get(dir, "embeddings.parquet"))
      val (_, model) = llm.SimilarityQueries.materializedVecIndex(spark, tmp)
      val esc = model.lowMarginFrac >= llm.SimilarityQueries.MarginEscalateFrac
      println(f"sidecar lowMarginFrac=${model.lowMarginFrac}%.4f " +
        f"(tau2=${llm.SimilarityQueries.MarginSpillTau2}) -> " +
        (if (esc) "ESCALATE to exhaustive quantized scan" else "partition-pruned probe"))
    }
    spark.stop()
  }
}
