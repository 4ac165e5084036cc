package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.etl.IndexStore
import graft.search.SearchQueries

/** The index lifecycle the reference runs, in one session:
  *
  *  1. `IndexStore.bulkImportAll` of the ten tables, then a count of the
  *     largest index;
  *  2. a fresh build of the positional postings artifact;
  *  3. a closed-loop, one-client read stream over the warm artifacts for
  *     the run's seconds: BM25 served from the postings, and
  *     `IndexStore.searchAll` keyword scans over every index;
  *  4. seeded 100-doc `upsertPostings` batches (half updates, half new
  *     ids), each followed by a read that must see it;
  *  5. `compactPostings`.
  *
  * Steps 1, 2, 4 and 5 are the ingest path (the bulk steps); step 3 is
  * the request stream, during which the write paths do no work.
  */
object Serve {
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.dataDir
    val in = ctx.inputs
    val tr = ctx.trace
    val store = new IndexStore(spark, s"${ctx.runDir}/indexes")
    val tables = Json.elems(in.get("tables"))

    // 1. Import, checked against the generator's distinct key counts.
    val (imported, importSpan) = tr.op("serve.import") {
      tr.layer("etl.bulk_import_all") {
        store.bulkImportAll(
          tables.map(t => (t.get("name").asText,
            Tables(spark, dir, t.get("name").asText), t.get("key").asText)),
          parallelism = ctx.cpus, numShards = 8)
      }
    }
    ctx.checked("import", tables.map { t =>
      val (name, want) = (t.get("name").asText, t.get("distinct_keys").asLong)
      (imported.get(name).contains(want), s"$name imported ${imported.get(name)}, want $want")
    }: _*)
    // The import already counted every index; one more count of the
    // largest index times the count API on its own.
    val (counted, countSpan) = tr.op("serve.count") {
      tr.layer("etl.count")(store.count("lineitem"))
    }
    ctx.checked("count", (imported.get("lineitem").contains(counted),
      s"lineitem counts $counted, imported ${imported.get("lineitem")}"))

    // 2. Fresh postings artifact (the run's private tmpdir holds none).
    val pstore = new IndexStore(spark, IndexStore.artifactRoot(dir))
    val ((_, n0, dl0), buildSpan) = tr.op("serve.build") {
      tr.layer("search.build")(SearchQueries.materializedPostings(spark, dir))
    }
    val corpus = in.get("corpus")
    ctx.checked("build",
      (n0 == corpus.get("n_docs").asDouble, s"n_docs $n0"),
      (dl0 == corpus.get("sum_dl").asDouble, s"sum_dl $dl0"))

    // 3. The read stream, after warm-up requests that are checked but not
    // timed: a JVM's first requests pay JIT compilation a server pays once.
    val bm25Want = in.get("bm25_expect")
    val hitsWant = in.get("search_all_expect")
    /** One read: (results, the check's label, its checks). */
    def read(r: JsonNode): (Int, String, Seq[(Boolean, String)]) =
      if (r.get("kind").asText == "bm25") {
        val terms = Json.strings(r.get("terms"))
        val (p, n, s) = tr.layer("search.resolve")(SearchQueries.materializedPostings(spark, dir))
        val df = tr.layer("search.plan")(SearchQueries.bm25FromPostings(p, n, s, terms))
        if (tr.traced) tr.layer("spark.compile")(df.queryExecution.executedPlan)
        val rows = tr.layer("search.exec")(df.collect())
        val q = terms.mkString(" ")
        (rows.length, s"bm25 '$q'", bm25Matches(rows, bm25Want.get(q)))
      } else {
        val kw = r.get("keyword").asText
        val hits = tr.layer("etl.search_all") {
          val df = store.searchAll(kw)
            .agg(count(lit(1)), sum(length(col("doc"))).cast(LongType))
          if (tr.traced) tr.layer("spark.compile")(df.queryExecution.executedPlan)
          df.head().getLong(0)
        }
        val want = hitsWant.get(kw).asLong
        (1, s"searchAll '$kw'", Seq((hits == want, s"$hits hits, want $want")))
      }
    for (r <- Json.elems(in.get("warmup"))) ctx.guarded("warm-up") {
      val (_, label, checks) = read(r)
      ctx.checked(label, checks: _*)
    }
    val reads = Json.elems(in.get("reads"))
    val readSpans = scala.collection.mutable.ArrayBuffer[Span]()
    var bm25Results = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < Ctx.CpuSampleOps || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val r = reads(i % reads.size)
      i += 1
      ctx.guarded("read") {
        val kind = r.get("kind").asText
        val ((n, label, checks), span) = tr.op("serve.read", "kind" -> kind)(read(r))
        readSpans += span
        if (kind == "bm25") bm25Results += n
        ctx.checked(label, checks: _*)
      }
    }

    // 4. Upsert batches, each read back through the served view.
    val writes = Json.elems(in.get("writes")).zipWithIndex.map { case (w, b) =>
      val docs = Json.elems(w.get("docs"))
      val ids = docs.map(_.get("doc_id").asLong)
      val batch = spark.createDataFrame(
        java.util.Arrays.asList(docs.map(d => Row(d.get("doc_id").asLong,
          d.get("text").asText, d.get("lang").asText, d.get("source").asText,
          d.get("text").asText.length.toLong)): _*), docSchema)
      val fp = pstore.artifactFingerprint(SearchQueries.PostingsName)
        .getOrElse(sys.error("postings artifact has no fingerprint"))
      val (seen, span) = tr.op("serve.write", "batch" -> b.toString) {
        tr.layer("search.upsert")(SearchQueries.upsertPostings(pstore, batch, fp))
        tr.layer("search.ryw") {
          val (p, _, _) = SearchQueries.materializedPostings(spark, dir)
          p.filter(col("doc_id").isin(ids: _*))
            .groupBy(col("doc_id")).agg(count(lit(1)), max(col("n_tokens")))
            .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2).toLong)).toMap
        }
      }
      val want = Json.fieldsOf(w.get("expect")).map { case (id, v) =>
        id.toLong -> (v.get(0).asLong, v.get(1).asLong) }.toMap
      ctx.checked(s"write $b", (seen == want,
        s"read-back differs on ${want.keys.count(k => seen.get(k) != want.get(k))} of ${want.size} docs"))
      span
    }
    val segments = segmentCount(ctx, pstore)
    val tombstones =
      if (!tr.traced) 0L
      else spark.read.parquet(s"${pstore.artifactPath(SearchQueries.PostingsName)}/_deleted").count()

    // 5. Compaction keeps the resolved content and the corpus statistics.
    val before = contentHash(pstore)
    val (_, compactSpan) = tr.op("serve.compact") {
      tr.layer("search.compact")(SearchQueries.compactPostings(pstore))
    }
    val after = contentHash(pstore)
    val postingsMb = dirBytes(ctx, pstore.artifactPath(SearchQueries.PostingsName)) / 1e6
    val (_, n1, dl1) = SearchQueries.materializedPostings(spark, dir)
    val fin = in.get("final_corpus")
    ctx.checked("compact", (before == after, s"content $before -> $after"),
      (n1 == fin.get("n_docs").asDouble, s"n_docs $n1"),
      (dl1 == fin.get("sum_dl").asDouble, s"sum_dl $dl1"))

    val importRate = imported.values.sum / (importSpan.ms / 1e3)
    val bytesRatio = dirBytes(ctx, s"${ctx.runDir}/indexes") /
      tables.map(_.get("bytes").asDouble).sum
    val bm25 = readSpans.toSeq.filter(_.attrs("kind") == "bm25")
    val scans = readSpans.toSeq.filter(_.attrs("kind") == "search_all")
    val bm25Work = bm25.map(ctx.counters)
    def layerMs(name: String, within: Seq[Span]): Seq[Double] = {
      val ids = within.map(_.request).toSet
      tr.spans.filter(s => s.name == name && ids(s.request)).map(_.ms)
    }
    Outcome(
      bulk = Seq(importSpan, countSpan, buildSpan) ++ writes :+ compactSpan,
      stream = readSpans.toSeq,
      layers = Map(
        "etl.bulk_import_all_s" -> importSpan.ms / 1e3,
        "etl.import_rows_per_s" -> importRate,
        "etl.index_bytes_ratio" -> bytesRatio,
        "etl.count_ms" -> countSpan.ms,
        "etl.search_all_ms" -> Stats.median(scans.map(_.ms)),
        "search.build_s" -> buildSpan.ms / 1e3,
        "search.resolve_ms" -> Stats.median(layerMs("search.resolve", bm25)),
        "search.plan_ms" -> Stats.median(layerMs("search.plan", bm25)),
        "search.exec_ms" -> Stats.median(layerMs("search.exec", bm25)),
        "search.rows_examined_per_result" ->
          bm25Work.map(_.inputRows.sum).sum.toDouble / math.max(1L, bm25Results),
        "search.upsert_ms" -> Stats.median(layerMs("search.upsert", writes)),
        "search.ryw_ms" -> Stats.median(layerMs("search.ryw", writes)),
        "search.segments" -> segments.toDouble,
        "search.tombstones" -> tombstones.toDouble,
        "search.compact_s" -> compactSpan.ms / 1e3),
      named = Map(
        "import_rows_per_s" -> importRate,
        "upsert_p50_ms" -> Stats.median(writes.map(_.ms)),
        "search_p50_ms" -> Stats.median(readSpans.map(_.ms).toSeq),
        "search_p90_ms" -> Stats.pct(readSpans.map(_.ms).toSeq, 0.9),
        "index_bytes_ratio" -> bytesRatio,
        "postings_mb" -> postingsMb,
        "bm25_requests" -> bm25.size.toDouble,
        "search_all_requests" -> scans.size.toDouble))
  }

  /** The served BM25 top-10 against the generator's twin: same scores
    * position by position, and every returned doc scored as the twin
    * scores it (ties may order differently only where scores are equal).
    */
  private def bm25Matches(rows: Array[Row], want: JsonNode): Seq[(Boolean, String)] = {
    val top = Json.elems(want.get("top")).map(_.asDouble)
    val scoreOf = Json.fieldsOf(want.get("scores")).map { case (k, v) => k.toLong -> v.asDouble }.toMap
    val got = rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val tol = 2e-6
    Seq(
      (got.size == top.size, s"${got.size} results, want ${top.size}"),
      (got.map(_._2).zip(top).forall { case (a, b) => math.abs(a - b) <= tol },
        s"scores ${got.map(_._2).mkString(",")} want ${top.mkString(",")}"),
      (got.forall { case (d, s) => scoreOf.get(d).exists(w => math.abs(w - s) <= tol) },
        s"docs ${got.map(_._1).mkString(",")} not scored as the twin scores them"))
  }

  private def segmentCount(ctx: Ctx, pstore: IndexStore): Int = {
    val p = new Path(pstore.artifactPath(SearchQueries.PostingsName))
    p.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration).listStatus(p)
      .count(s => s.isDirectory && s.getPath.getName.startsWith("seg="))
  }

  private def contentHash(pstore: IndexStore): String =
    Stats.hashText(Stats.rowHash(SearchQueries.resolvedPostings(pstore).drop("seg")).head())

  private def dirBytes(ctx: Ctx, path: String): Double = {
    val p = new Path(path)
    p.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength.toDouble
  }
}
