package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, Tables}

/** One benchmark run of one workload in a fresh JVM:
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --input <dir> --work <dir> --t0-ms <epoch ms of the launch>
  * }}}
  *
  * `--input` is the seeded input run.py generated. The JVM finishes set-up
  * (warm-up passes, or the index builds), runs the workload's closed loop for
  * `--seconds`, checks what can be checked inside Spark, and writes
  * `<work>/result.json` for run.py, which adds the DuckDB oracle checks and
  * prints the result. */
object Main {

  final case class Step(obj: String, fn: String, query: String,
                        run: (SparkSession, String) => DataFrame) {
    def name = s"operators.$obj.$fn"
  }

  /** The reference retail pipeline, trimmed to the steps that carry its
    * layers so that two warm-up passes and the timed ones fit one run:
    * silver cleaning (keep-latest window), the gold sales mart over the
    * three-way sales fact, the RFM segment rollup (RankOps NTILE, the most
    * exchanges), the five-way star-schema fact and a running-total window. */
  val Medallion: Seq[Step] = Seq(
    Step("Silver", "cleanLineitem", "silver_clean", graft.operators.Silver.cleanLineitem),
    Step("Gold", "salesSummary", "sales_summary", graft.operators.Gold.salesSummary),
    Step("Segments", "rfmSegmentRollup", "rfm_segment_rollup",
      graft.operators.Segments.rfmSegmentRollup),
    Step("StarSchema", "factSales", "fact_sales", graft.operators.StarSchema.factSales),
    Step("Windowing", "runningTotals", "running_totals",
      graft.operators.Windowing.runningTotals))

  final class Args(args: Array[String]) {
    private val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: String = m("workload")
    val seed: Long = m("seed").toLong
    val seconds: Double = m("seconds").toDouble
    val trace: Boolean = m("trace") == "1"
    val input: String = m("input")
    val work: String = m("work")
    val t0Ms: Long = m("t0-ms").toLong
  }

  /** What a run reports back to run.py. */
  final class Report {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    /** The foreground op latencies' sample count and quantiles. */
    val latency = mutable.LinkedHashMap.empty[String, Double]
    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    val controls = mutable.LinkedHashMap.empty[String, Double]
    val samples = mutable.LinkedHashMap.empty[String, Long]
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    var oracleQueries: Seq[String] = Nil
    var oracleOutput = ""

    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      errors += s"$what: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" ")}"
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The n-th quantile cut in `parts` equal parts, by the method Python's
    * `statistics.quantiles` uses by default (exclusive). */
  def quantile(xs: Seq[Double], i: Int, parts: Int): Double = {
    val s = xs.sorted
    if (s.size < 2) return s.headOption.getOrElse(0.0)
    val m = s.size + 1
    val j = math.max(1, math.min(s.size - 1, i * m / parts))
    val delta = i * m - j * parts
    (s(j - 1) * (parts - delta) + s(j) * delta) / parts
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** JVM launch to the start of the timed window, in seconds. */
  private def setupSeconds(a: Args, windowStartNs: Long): Double =
    (System.currentTimeMillis() - (System.nanoTime() - windowStartNs) / 1000000 - a.t0Ms) / 1000.0

  /** A fresh copy of `src` at `dst`: same content, at a path no graft memo,
    * persisted index or file listing has seen. */
  private def copyTree(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val files = java.nio.file.Files.walk(s)
    try files.iterator().asScala.foreach { p =>
      val t = java.nio.file.Paths.get(dst).resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally files.close()
  }

  private def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val files = java.nio.file.Files.walk(p)
      try files.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally files.close()
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val spark = GraftSession.create("perfbench", "local[4]", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    val report = new Report
    a.workload match {
      case "medallion_etl" => Batch.run(spark, tracer, a, report, Medallion)
      case "search_session" => Session.run(spark, tracer, a, report)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Controls.record(spark, a.input, report)
    if (a.trace) Json.writeSpans(s"${a.work}/spans.jsonl", tracer)
    Json.writeReport(s"${a.work}/result.json", report)
    spark.stop()
  }

  /** Per-layer metrics common to every workload, from the traced ops. */
  def sparkLayers(tracer: Tracer, ops: Seq[Span], report: Report): Unit = {
    tracer.drain()
    val n = math.max(1, ops.size).toDouble
    val cs = ops.map(tracer.total)
    def per(f: Counters => Double) = cs.map(f).sum / n
    val r = report.perLayer
    r("spark.jobs") = per(_.jobs.toDouble)
    r("spark.stages") = per(_.stages.toDouble)
    r("spark.tasks") = per(_.tasks.toDouble)
    r("spark.sched_gap_s") = ops.map(tracer.schedGapSeconds).sum / n
    r("spark.exec_cpu_s") = per(_.cpuNs / 1e9)
    r("spark.exec_run_s") = per(_.runMs / 1e3)
    r("spark.gc_s") = per(_.gcMs / 1e3)
    r("exchange.count") = per(_.exchanges.toDouble)
    r("exchange.shuffle_write_bytes") = per(_.shuffleWrite.toDouble)
    r("exchange.shuffle_read_bytes") = per(_.shuffleRead.toDouble)
    r("exchange.spill_bytes") = per(_.spill.toDouble)
    r("join.smj") = per(_.smj.toDouble)
    r("join.bhj") = per(_.bhj.toDouble)
    r("sources.scan_rows") = per(_.scanRows.toDouble)
    r("sources.scan_bytes") = per(_.scanBytes.toDouble)
    r("sources.files_read") = per(_.files.toDouble)
  }

  /** Latency metrics of the foreground ops plus throughput and memory.
    * run.py adds the input generation time to `setup_s`. */
  def endToEnd(report: Report, setupS: Double, latencies: Seq[Double],
               completed: Int, windowS: Double): Unit = {
    val m = report.metrics
    m("setup_s") = setupS
    m("op_p50_s") = median(latencies)
    m("ops_per_s") = completed / windowS
    m("live_mem_mb") = Memory.liveMb(report)
    report.samples("vm_hwm_mb") = Memory.residentPeakMb()
    report.latency("n") = latencies.size
    report.latency("p50_s") = median(latencies)
    report.latency("p75_s") = quantile(latencies, 3, 4)
    report.latency("max_s") = latencies.maxOption.getOrElse(0.0)
    report.samples("completed_ops") = completed.toLong
  }

  object Batch {
    /** Untimed passes after the checked one. In a fresh JVM the JIT keeps
      * compiling through the first passes: on four cores a pass takes 6.6,
      * 5.9, 5.1, 4.8, 4.4 s, then 4.0 s from the sixth on, its CPU time
      * falling from 20 s to 8 s. Two warm passes skip the steepest part;
      * the run's time budget leaves no room for the whole slope. */
    val WarmPasses = 2

    /** Set-up ends with untimed warm-up passes: the first over the generated
      * input writes every step's output for run.py's DuckDB oracle check.
      * Every other pass reads a fresh copy of the input, so no memo,
      * persisted index or file listing survives from an earlier pass. */
    def run(spark: SparkSession, tracer: Tracer, a: Args, report: Report, steps: Seq[Step]): Unit = {
      val base = a.input
      val out = s"${a.work}/check"
      steps.foreach { s =>
        report.attempted += 1
        try tracer.span(s.name)(s.run(spark, base).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/${s.query}"))
        catch { case e: Throwable => report.fail(s"check ${s.query}", e) }
        finally spark.catalog.clearCache()
      }
      report.oracleQueries = steps.map(_.query)
      report.oracleOutput = out
      Json.writeOracle(s"$out/oracle_sql.json", steps.map(s => s.query -> SparkEntry.oracleSql(s.query)))

      (0 until WarmPasses).foreach { k =>
        val dir = s"${a.work}/in/warm$k"
        copyTree(base, dir)
        pass(spark, tracer, dir, steps, report)
        spark.catalog.clearCache()
        deleteTree(dir)
      }

      val timed = mutable.ArrayBuffer.empty[Span]
      val traced = mutable.ArrayBuffer.empty[Span]
      val untracedS = mutable.ArrayBuffer.empty[Double]
      var completed = 0
      val w0 = System.nanoTime()
      var k = 0
      while (k == 0 || (System.nanoTime() - w0) / 1e9 < a.seconds) {
        val dir = s"${a.work}/in/pass$k"
        copyTree(base, dir)
        // in a traced run, alternate passes with the listeners on and off
        val listen = a.trace && k % 2 == 0
        tracer.listen(listen)
        tracer.op = k
        val failedBefore = report.failed
        val p = pass(spark, tracer, dir, steps, report)
        tracer.op = -1
        if (report.failed == failedBefore) completed += 1
        timed += p
        if (listen) traced += p else untracedS += p.seconds
        spark.catalog.clearCache()
        deleteTree(dir)
        k += 1
      }
      val windowS = (System.nanoTime() - w0) / 1e9
      tracer.listen(false)
      endToEnd(report, setupSeconds(a, w0), timed.map(_.seconds).toSeq, completed, windowS)

      if (a.trace) {
        sparkLayers(tracer, traced.toSeq, report)
        report.perLayer("trace.overhead_frac") =
          if (untracedS.isEmpty) 0.0 else median(traced.map(_.seconds).toSeq) / median(untracedS.toSeq) - 1
        val ids = traced.map(_.id).toSet
        steps.foreach { s =>
          val stepSpans = tracer.spans.filter(x => x.name == s.name && ids.contains(x.parent)).toSeq
          def child(n: String) = median(stepSpans.flatMap(p =>
            tracer.spans.find(c => c.parent == p.id && c.name == n)).map(_.seconds))
          report.perLayer(s"${s.name}.construct_s") = child("construct")
          report.perLayer(s"${s.name}.exec_s") = child("exec")
          report.perLayer(s"${s.name}.exchanges") =
            median(stepSpans.map(x => tracer.total(x).exchanges.toDouble))
        }
      }
    }

    private def pass(spark: SparkSession, tracer: Tracer, dir: String, steps: Seq[Step],
                     report: Report): Span = {
      tracer.span("pass") {
        steps.foreach { s =>
          report.attempted += 1
          try tracer.span(s.name) {
            val df = tracer.span("construct")(s.run(spark, dir))
            tracer.span("exec")(noop(df))
          } catch { case e: Throwable => report.fail(s.name, e) }
        }
      }
      tracer.spans.last
    }
  }

  object Session {
    import graft.ann.Ann
    import graft.streaming.{ExactlyOnce, StreamingHybridIndex}
    import graft.text.HybridSearch

    /** The sink folds after every second doc batch, as graft's
      * streaming_hybrid_index_replay does. */
    val CompactEvery = 2
    /** One cycle of the op stream: H hybrid search, I IVF search, D doc
      * append through the sink, V vector append. The mix is this
      * benchmark's choice, as nothing in the repository records a
      * search-to-ingest ratio: reads outnumber writes 3:1 as in an
      * interactive session, the hybrid path (the Typesense replacement)
      * carries 8 of the 9 searches, and two doc appends a cycle put one fold
      * in every cycle. */
    val Pattern = "HHDHHIHHDHHV"
    /** Cycles the held-out pool feeds: the held-out docs go in as
      * 2 * PoolCycles batches, the held-out vectors as PoolCycles.
      * A 10-second window takes two cycles on four cores, so the pool lasts
      * a program about six times faster. A stream that still runs dry ends
      * its window there, with the mix unchanged, and the run reports
      * `pool_exhausted`. */
    val PoolCycles = 12
    val WarmSearches = 6

    private val Vocab = ("data spark stream batch window join agg filter scan sort hash merge " +
      "group key value row column table query vector order line part customer fast slow big small")
      .split(" ")

    /** Set-up splits off the held-out source group and vectors the seed
      * picks, builds the hybrid index over the settled docs and the IVF index
      * over the settled vectors, and runs untimed warm-up searches.
      * The session then keeps both indexes and graft's memos warm. */
    def run(spark: SparkSession, tracer: Tracer, a: Args, report: Report): Unit = {
      val rnd = new java.util.SplittableRandom(a.seed ^ 0x5e55L)
      val heldSource = s"src${rnd.nextInt(20)}"
      val vecSalt = rnd.nextLong()
      val heldVec = pmod(xxhash64(col("vec_id"), lit(vecSalt)), lit(10)) === 0
      val full = a.input
      val settled = s"${a.work}/settled"
      val hIdx = s"${a.work}/idx/hybrid"
      val iIdx = s"${a.work}/idx/ivf"
      val docs = Tables.documents(spark, full)
      val emb = Tables.embeddings(spark, full)
      emb.filter(!heldVec).write.parquet(s"$settled/embeddings.parquet")
      tracer.span("text.HybridSearch.buildIndexFrom") {
        HybridSearch.buildIndexFrom(spark,
          docs.filter(col("source") =!= heldSource).select("doc_id", "text"), hIdx)
      }
      tracer.span("ann.Ann.buildIvfIndex")(Ann.buildIvfIndex(spark, settled, iIdx))
      // warm-up searches: the JIT is still compiling through the first few
      (0 until WarmSearches).foreach { i =>
        HybridSearch.hybridSearchIndexed(spark, full, hIdx, Vocab(i)).collect()
        if (i % 2 == 0) Ann.ivfTopKIndexedWithAppends(spark, full, iIdx).collect()
      }

      // the held-out ids in id order, cut into n contiguous batches of equal
      // size (within one), as graft's streaming replays band their slices
      val heldDocIds = docs.filter(col("source") === heldSource).select("doc_id")
        .collect().map(_.getLong(0)).sorted
      val heldVecIds = emb.filter(heldVec).select("vec_id").collect().map(_.getLong(0)).sorted
      def batches(ids: Array[Long], n: Int): IndexedSeq[Array[Long]] = {
        val m = math.max(1, math.min(n, ids.length))
        (0 until m).map(b => ids.slice(b * ids.length / m, (b + 1) * ids.length / m))
      }
      val docBatches = batches(heldDocIds, 2 * PoolCycles)
      val vecBatches = batches(heldVecIds, PoolCycles)
      report.samples("held_docs") = heldDocIds.length.toLong
      report.samples("held_vecs") = heldVecIds.length.toLong

      var docBatch = 0L
      var vecBatch = 0L
      def appendDocs(ids: Array[Long]): Unit = {
        StreamingHybridIndex.indexSink(hIdx, CompactEvery)(
          docs.filter(col("doc_id").isin(ids.toSeq: _*)).select("doc_id", "text"), docBatch)
        docBatch += 1
      }
      def appendVecs(ids: Array[Long]): Unit = {
        Ann.appendToIvfIndex(spark, iIdx, emb.filter(col("vec_id").isin(ids.toSeq: _*)), vecBatch)
        vecBatch += 1
      }

      val searchS = mutable.ArrayBuffer.empty[Double]
      val untracedS = mutable.ArrayBuffer.empty[Double]
      val traced = mutable.ArrayBuffer.empty[Span]
      val widths = mutable.ArrayBuffer.empty[Double]
      val queries = mutable.ArrayBuffer.empty[String]
      // seeded terms; the term count cycles 1, 2, 3 so that every run
      // searches the same mix of query lengths
      def query(): String =
        Seq.fill(1 + queries.size % 3)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
      val folds = mutable.Set.empty[Int]
      var completed = 0
      def poolFeedsCycle = docBatches.size - docBatch >= 2 && vecBatches.size - vecBatch >= 1
      def runOp(k: Int): Unit = {
        val kind = Pattern(k % Pattern.length)
        // in a traced run, alternate cycles with the listeners on and off
        val listen = a.trace && (k / Pattern.length) % 2 == 0
        tracer.listen(listen)
        tracer.op = k
        report.attempted += 1
        val ok = try {
          kind match {
            case 'H' =>
              val q = query()
              queries += q
              tracer.span("text.HybridSearch.hybridSearchIndexed") {
                val df = tracer.span("construct")(HybridSearch.hybridSearchIndexed(spark, full, hIdx, q))
                tracer.span("exec")(df.collect())
              }
            case 'I' =>
              tracer.span("ann.Ann.ivfTopKIndexedWithAppends") {
                val df = tracer.span("construct")(Ann.ivfTopKIndexedWithAppends(spark, full, iIdx))
                tracer.span("exec")(df.collect())
              }
            case 'D' =>
              if ((docBatch + 1) % CompactEvery == 0) folds += k
              tracer.span("streaming.StreamingHybridIndex.indexSink")(
                appendDocs(docBatches(docBatch.toInt)))
            case 'V' =>
              tracer.span("ann.Ann.appendToIvfIndex")(appendVecs(vecBatches(vecBatch.toInt)))
          }
          true
        } catch { case e: Throwable => report.fail(s"op $k ($kind)", e); false }
        tracer.op = -1
        val op = tracer.spans.last
        if (ok) completed += 1
        if (listen) traced += op
        if (kind == 'H' && ok) {
          searchS += op.seconds
          if (!listen) untracedS += op.seconds
          if (a.trace) widths += ExactlyOnce.committedBatches(spark, s"$hIdx/appends").size +
            ExactlyOnce.committedBatches(spark, s"$iIdx/appends").size
        }
      }
      var exhausted = false
      val w0 = System.nanoTime()
      var k = 0
      // whole cycles only, so that every window holds the same mix of ops
      while ((k == 0 || (System.nanoTime() - w0) / 1e9 < a.seconds) && !exhausted) {
        if (!poolFeedsCycle) exhausted = true
        else Pattern.foreach { _ => runOp(k); k += 1 }
      }
      report.samples("pool_exhausted") = if (exhausted) 1L else 0L
      val windowS = (System.nanoTime() - w0) / 1e9
      tracer.listen(false)
      endToEnd(report, setupSeconds(a, w0), searchS.toSeq, completed, windowS)

      if (a.trace) {
        sparkLayers(tracer, traced.toSeq, report)
        val tracedSearch = traced.filter(_.name == "text.HybridSearch.hybridSearchIndexed").map(_.seconds)
        report.perLayer("trace.overhead_frac") =
          if (untracedS.isEmpty || tracedSearch.isEmpty) 0.0
          else median(tracedSearch.toSeq) / median(untracedS.toSeq) - 1
        Seq("text.HybridSearch.hybridSearchIndexed", "ann.Ann.ivfTopKIndexedWithAppends").foreach { n =>
          val ss = traced.filter(_.name == n).toSeq
          def child(c: String) = median(ss.flatMap(p =>
            tracer.spans.find(x => x.parent == p.id && x.name == c)).map(_.seconds))
          report.perLayer(s"$n.construct_s") = child("construct")
          report.perLayer(s"$n.exec_s") = child("exec")
          report.perLayer(s"$n.jobs") = median(ss.map(s => tracer.total(s).jobs.toDouble))
        }
        val timedSpans = tracer.spans.filter(_.op >= 0)
        val sinks = timedSpans.filter(_.name == "streaming.StreamingHybridIndex.indexSink")
        val (fold, plain) = sinks.partition(s => folds.contains(s.op))
        report.perLayer("streaming.append_s") = median(plain.map(_.seconds).toSeq)
        report.perLayer("streaming.compact_s") =
          if (fold.isEmpty) 0.0 else median(fold.map(_.seconds).toSeq) - median(plain.map(_.seconds).toSeq)
        report.perLayer("ann.Ann.appendToIvfIndex.s") =
          median(timedSpans.filter(_.name == "ann.Ann.appendToIvfIndex").map(_.seconds).toSeq)
        report.perLayer("streaming.union_width") = widths.sum / math.max(1, widths.size)
      }

      // outside the timed region: the rest of the held-out data goes in as
      // one batch each, then the indexed answers are checked against exact
      // ones
      if (docBatch < docBatches.size) appendDocs(docBatches.drop(docBatch.toInt).flatten.toArray)
      if (vecBatch < vecBatches.size) appendVecs(vecBatches.drop(vecBatch.toInt).flatten.toArray)
      val sample = new java.util.SplittableRandom(a.seed)
      val checked = Seq.fill(2)(queries(sample.nextInt(queries.size))).distinct
      checked.foreach { q =>
        report.attempted += 1
        try {
          val got = HybridSearch.hybridSearchIndexed(spark, full, hIdx, q).collect().toSeq
          val want = HybridSearch.hybridSearch(spark, full, q).collect().toSeq
          if (got != want) { report.failed += 1; report.errors += s"hybrid '$q': indexed != flat" }
        } catch { case e: Throwable => report.fail(s"check hybrid '$q'", e) }
      }
      report.attempted += 1
      try {
        val ivf = Ann.ivfTopKIndexedWithAppends(spark, full, iIdx, k = 10)
        val exact = Ann.bruteTopKExact(emb, emb.filter(col("vec_id") < 10), k = Int.MaxValue)
        val bad = ivf.join(exact.select(col("query_id"), col("vec_id"), col("cos_sim").as("exact")),
            Seq("query_id", "vec_id"), "left")
          .filter(!(col("cos_sim") <=> col("exact"))).count()
        if (bad > 0) { report.failed += 1; report.errors += s"ivf: $bad scores differ from exact" }
        if (a.trace) {
          val hits = ivf.join(exact.filter(col("rank") <= 10), Seq("query_id", "vec_id")).count()
          val want = exact.filter(col("rank") <= 10).count()
          report.perLayer("ann.recall_at_k") = if (want == 0) 0.0 else hits.toDouble / want
        }
      } catch { case e: Throwable => report.fail("check ivf", e) }
      if (a.trace) kernels(spark, tracer, full, report)
    }

    /** graft's Catalyst kernels timed as calls on the session corpus, each
      * rate the median of three calls, and the MinHash LSH candidate yield:
      * verified near-dup pairs over banded candidates. */
    private def kernels(spark: SparkSession, tracer: Tracer, dir: String, report: Report): Unit = {
      import graft.dedup.{MinHashLsh, SimHash}
      val docs = Tables.documents(spark, dir).select("doc_id", "text").cache()
      val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding").cache()
      val nDocs = docs.count().toDouble
      val nVecs = emb.count().toDouble
      val shingled = MinHashLsh.shingleDocs(docs).cache()
      val nShingled = shingled.count().toDouble
      def rate(name: String, units: Double)(df: => DataFrame): Unit =
        report.perLayer(name) = units / median((0 until 3).map { _ =>
          tracer.span(name)(noop(df))
          tracer.spans.last.seconds
        })
      rate("functions.NgramArray.rows_per_s", nDocs)(MinHashLsh.shingleDocs(docs))
      rate("functions.MinHashSig.rows_per_s", nShingled)(MinHashLsh.withSignatures(shingled, 16))
      rate("functions.SimHash64.rows_per_s", nDocs)(SimHash.simhashDocs(docs))
      val queries = emb.orderBy("vec_id").limit(16).cache()
      queries.count()
      rate("functions.ArrayCosine.pairs_per_s", nVecs * 16)(graft.ann.Ann.bruteTopK(emb, queries, 10))
      val xs = (0 until 8).map(i => s"x$i")
      val feats = emb.select(col("vec_id") +: xs.indices.map(i =>
        (col("embedding").getItem(i) * 1e6).cast("long").as(xs(i))): _*).cache()
      feats.count()
      val fits = (0 until 3).map { _ =>
        tracer.span("ml.DetKMeans.fit")(graft.ml.DetKMeans.fit(feats, "vec_id", xs, 16, 5))
      }
      report.perLayer("ml.DetKMeans.fit_s") =
        median(tracer.spans.filter(_.name == "ml.DetKMeans.fit").map(_.seconds).toSeq)
      rate("functions.KMeansAssign.rows_per_s", nVecs)(graft.ml.DetKMeans.assign(feats, xs, fits.head._2))
      val cand = MinHashLsh.candidatePairs(docs).count().toDouble
      val kept = MinHashLsh.nearDupPairsOf(docs).count().toDouble
      report.perLayer("dedup.lsh_candidate_yield") = if (cand == 0) 0.0 else kept / cand
      spark.catalog.clearCache()
    }
  }

  object Controls {
    /** graft.Bench's three pinned ambient controls, run once after the
      * measurement: pure CPU, scan+aggregate, one shuffle. */
    def record(spark: SparkSession, dir: String, report: Report): Unit = {
      val controls: Seq[(String, () => Unit)] = Seq(
        "ctl_cpu" -> (() => noop(spark.range(20000000L).select(expr("bit_xor(xxhash64(id))")))),
        "ctl_scan" -> (() => noop(Tables.read(spark, dir, "lineitem")
          .select(sum(col("l_extendedprice") * col("l_quantity"))))),
        "ctl_shuffle" -> (() => noop(Tables.read(spark, dir, "lineitem")
          .groupBy(col("l_partkey")).count())))
      controls.foreach { case (n, f) =>
        val t = System.nanoTime()
        f()
        report.controls(n) = (System.nanoTime() - t) / 1e9
      }
    }
  }

  /** Memory the program holds, in MiB: the heap still live after a full
    * collection plus the non-heap in use (code, metaspace), taken once the
    * timed window ends. It follows what the program keeps (memos, indexes,
    * caches, anything a pass leaks), not how far the collector chose to
    * grow the heap, which varies from run to run. */
  object Memory {
    import java.lang.management.ManagementFactory

    def liveMb(report: Report): Double = {
      // Spark's cleaner frees shuffle and broadcast state on its own thread
      // once a collection has found it unreachable, and the listener bus's
      // backlog is not the program's: collect, give the cleaner time, drain
      // the bus and collect again
      System.gc()
      Thread.sleep(500)
      org.apache.spark.PerfbenchBus.drain(SparkSession.active.sparkContext)
      System.gc()
      val m = ManagementFactory.getMemoryMXBean
      val heap = m.getHeapMemoryUsage.getUsed
      val nonHeap = m.getNonHeapMemoryUsage.getUsed
      report.samples("live_heap_mb") = heap >> 20
      report.samples("non_heap_mb") = nonHeap >> 20
      (heap + nonHeap) / 1048576.0
    }

    /** The JVM's peak resident set (VmHWM) in MiB, for context. */
    def residentPeakMb(): Long = {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong / 1024).getOrElse(0L)
      finally src.close()
    }
  }
}
