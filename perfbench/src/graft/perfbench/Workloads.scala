package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.lake.{ColBound, ResumableRun, SnapshotLog}
import graft.pipeline.Pipeline
import graft.perfbench.Checks.Digest
import graft.perfbench.Stats.{median, quantile, time}

object Workloads {
  val names: Seq[String] = Seq("crawl_small", "long_articles")

  /** Rounds per measured run at least; `warc_ts` windows each round reads. */
  val minRounds = 3
  val readWindows = 4

  /** (span name, query) */
  type Query = (String, () => DataFrame)

  def queryNames: Seq[String] = graft.SparkEntry.queries.keys.toSeq.sorted

  /** The SparkEntry queries long_articles' traced runs time: the read side
    * of this repository's own code — dedup/LSH (dd_), ANN (ann_), reads of
    * the committed extraction table (x_links, x_scores, x_meta_summary),
    * the pages DSv2 scan, the TopKPerKey operator and the bucketed-table
    * join. */
  def ownQueryNames: Seq[String] = queryNames.filter(n =>
    n.startsWith("dd_") || n.startsWith("ann_") ||
      Seq("x_links", "x_scores", "x_meta_summary", "q_pages_dsv2", "q_topk_custom",
        "q_bucketed_join").contains(n))

  /** The cheap read-side SparkEntry queries every measured loop passes
    * over (`query_pass_s`, `query_p50_s`; per-layer `query_p90_s`): MinHash LSH
    * dedup (ops), the TopKPerKey operator (plans) and the pages DSv2 scan
    * (sources). The lake read side is the loop's own reads; the x_ queries
    * need the committed extraction table, a 5-6 s build, and run in traced
    * runs only. */
  val loopQueryNames: Seq[String] = Seq("dd_minhash_lsh", "q_topk_custom", "q_pages_dsv2")

  /** Every per-layer metric, in print order; a workload that does not
    * exercise a layer reports 0 for it. */
  val layerUnits: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s",
    "html.utf8_decode_us_per_doc" -> "us", "html.parse_us_per_doc" -> "us",
    "extract.walk_us_per_doc" -> "us", "extract.extract_html_us_per_doc" -> "us",
    "extract.extract_html_self_us_per_doc" -> "us", "extract.sections_us_per_doc" -> "us",
    "extract.markdown_us_per_doc" -> "us", "extract.links_us_per_doc" -> "us",
    "extract.scores_us_per_doc" -> "us", "extract.kernel_us_p50" -> "us",
    "extract.kernel_us_p99" -> "us", "extract.kernel_us_max" -> "us",
    "extract.kernel_ns_per_byte" -> "ns/B", "extract.fallback_share" -> "ratio",
    "extract.layer_coverage" -> "ratio", "extract.replay_docs" -> "count",
    "pdf.extract_us_per_doc" -> "us",
    "plans.to_row_us_per_doc" -> "us", "plans.unsafe_project_us_per_doc" -> "us",
    "pipeline.hot_domains_s" -> "s", "pipeline.extract_s" -> "s",
    "pipeline.busy_share" -> "ratio", "pipeline.gc_share" -> "ratio",
    "pipeline.spill_mb" -> "MB", "pipeline.shuffle_write_bytes_per_doc" -> "B",
    "pipeline.task_skew" -> "ratio", "pipeline.tasks_per_commit" -> "count",
    "lake.commit_s" -> "s", "lake.commit_self_s" -> "s",
    "lake.phase.log_init_s" -> "s", "lake.phase.hot_domains_s" -> "s",
    "lake.phase.stage_write_s" -> "s", "lake.phase.stats_agg_s" -> "s",
    "lake.phase.commit_loop_s" -> "s", "lake.stage_commit_overhead_s" -> "s",
    "lake.files_per_bucket" -> "count", "lake.bucket_rows_max_over_mean" -> "ratio",
    "lake.read_buckets_skipped_share" -> "ratio", "lake.read_full_scan_s" -> "s",
    "lake.extracted_table_commit_s" -> "s",
    "ops.ivf_training_s" -> "s", "SparkEntry.bucketed_build_s" -> "s",
    "scaling_eff_1toN" -> "ratio", "doc_error_share" -> "ratio",
    "query_failed_share" -> "ratio", "trace_overhead_share" -> "ratio",
    "heap_peak_mb" -> "MB", "query_p90_s" -> "s"
  ) ++ ownQueryNames.map(q => s"SparkEntry.${q}_s" -> "s")

  // ---- set-up ----------------------------------------------------------------

  private def tsSec(t: Timestamp): Long = t.getTime / 1000L

  private def corpusOf(c: Ctx, pagesDir: Path, spec: String): Corpus = {
    val pages = c.spark.read.parquet(pagesDir.toString)
    val d = Checks.digest(pages, "url", "warc_ts", "html", "text", "lang")
    val r = pages.agg(min("warc_ts"), max("warc_ts")).head()
    Corpus(pagesDir.toString, d.rows, Main.dirBytes(pagesDir), d, spec,
      tsSec(r.getTimestamp(0)), tsSec(r.getTimestamp(1)))
  }

  /** Input splits sized so about four tasks per core exist (the corpus
    * compresses well, so the default 128 MB split would plan a handful). */
  private def splitFor(c: Ctx, corpus: Corpus): Unit =
    c.spark.conf.set("spark.sql.files.maxPartitionBytes",
      math.max(256L * 1024, corpus.bytes / (Main.nproc * 4L)).toString)

  def setupCrawlSmall(c: Ctx): Corpus = {
    val pages = c.o.work.resolve("pages")
    Gen.writeSmallPages(c.spark, Main.data.resolve("sf0.1/documents.parquet").toString,
      pages.toString, c.o.seed, Main.nproc * 4)
    corpusOf(c, pages, "hash")
  }

  def setupLongArticles(c: Ctx): Corpus = {
    val pages = c.o.work.resolve("pages")
    Gen.writeLongArticles(c.spark, pages.toString, c.o.seed)
    // one warc_ts window per bucket across the corpus span
    val window = Gen.longDocs * Gen.longTsStepSec / Main.nBuckets + 1
    corpusOf(c, pages, s"ts:${Gen.longBaseEpochSec}:$window")
  }

  def dataDir(c: Ctx): String = c.o.work.resolve("sf").toString

  /** The tables the SparkEntry queries read: a copy of the vendored
    * sf0.001 tables in the run's work directory. */
  def setupQueries(c: Ctx): Unit = {
    val dir = dataDir(c)
    val src = Main.data.resolve("sf0.001")
    Files.createDirectories(Paths.get(dir))
    Files.list(src).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, Paths.get(dir).resolve(f.getFileName.toString)))
  }

  /** The committed extraction table the x_ queries read. */
  def setupExtractedTable(c: Ctx): Unit = {
    val (_, commit) = time(c.tracer.span("lake.extracted_table_commit")(
      Pipeline.extractedCommitted(c.spark, dataDir(c))))
    c.layer("lake.extracted_table_commit_s") = (commit, "s")
  }

  /** The other one-time builds of the SparkEntry queries, which the loop's
    * queries do not need: the IVF centroids and the bucketed tables. */
  def setupQueryBuilds(c: Ctx): Unit = {
    val dir = dataDir(c)
    val s = c.spark
    val (_, ivf) = time(c.tracer.span("ops.ivf_training")(graft.ops.Ann.trainCentroidsCached(
      s.read.parquet(s"$dir/embeddings.parquet"), s.sparkContext.applicationId + "|" + dir,
      k = 16, iters = 2)))
    val (_, bkt) = time(c.tracer.span("SparkEntry.bucketed_build")(graft.SparkEntry.bucketedDb(s, dir)))
    c.layer("ops.ivf_training_s") = (ivf, "s")
    c.layer("SparkEntry.bucketed_build_s") = (bkt, "s")
  }

  // ---- operations --------------------------------------------------------------

  def commit(c: Ctx, corpus: Corpus, dir: Path): Double = {
    val (_, sec) = time(c.tracer.span("lake.commit") {
      ResumableRun.run(c.spark, c.spark.read.parquet(corpus.pagesDir), dir.toString,
        Main.nBuckets, bucketExpr = corpus.bucketExpr)
      ResumableRun.readTable(c.spark, dir.toString)
    })
    sec
  }

  /** The run's `readWindows` `warc_ts` windows, each an eighth of the
    * corpus span, their starts evenly spaced over it, in a seeded order:
    * every seed and every round reads the same share of the corpus at the
    * same places. */
  def windows(c: Ctx, corpus: Corpus): Seq[(Instant, Instant)] = {
    val span = math.max(8L, corpus.maxTsSec - corpus.minTsSec)
    val width = span / 8
    Gen.permutation(readWindows, Gen.rng(c.o.seed, 92)).toSeq.map { k =>
      val lo = corpus.minTsSec + (span - width) * k / (readWindows - 1)
      (Instant.ofEpochSecond(lo), Instant.ofEpochSecond(lo + width))
    }
  }

  def rangeFilter(lo: Instant, hi: Instant) =
    col("warc_ts") >= lit(Timestamp.from(lo)) && col("warc_ts") <= lit(Timestamp.from(hi))

  def read(c: Ctx, dir: Path, lo: Instant, hi: Instant, pruned: Boolean): Digest = {
    val table =
      if (pruned) ResumableRun.readTablePruned(c.spark, dir.toString,
        Seq(ColBound.warcTs(">=", lo), ColBound.warcTs("<=", hi)))
      else ResumableRun.readTable(c.spark, dir.toString)
    Checks.digest(table.filter(rangeFilter(lo, hi)), "url", "extracted_text")
  }

  /** `names` in a seeded order. */
  def sparkEntryQueries(c: Ctx, names: Seq[String]): Seq[Query] = {
    val dir = dataDir(c)
    val all = graft.SparkEntry.queries
    Gen.permutation(names.size, Gen.rng(c.o.seed, 91)).toSeq.map(names(_))
      .map(n => s"SparkEntry.$n" -> (() => all(n)(c.spark, dir)))
  }

  /** One pass: (digest per query, latency per query). Failures count
    * against `failed` and get no digest. */
  def pass(c: Ctx, qs: Seq[Query], count: Boolean): (Map[String, Digest], Seq[(String, Double)]) = {
    val out = qs.flatMap { case (n, f) =>
      if (count) { c.attempted += 1; c.queryAttempted += 1 }
      try {
        val (rows, sec) = time(c.tracer.span(n)(f().collect()))
        Some((n, Checks.rowsDigest(rows), sec))
      } catch {
        case e: Exception =>
          if (count) { c.failed += 1; c.queryFailed += 1 }
          println(s"# query $n failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          None
      }
    }
    (out.map(x => x._1 -> x._2).toMap, out.map(x => x._1 -> x._3))
  }

  /** Warm-up pass: queries run on all cores at once, so each plan's code
    * generation and JIT warm-up is paid in about a quarter of the time. */
  def parallelPass(c: Ctx, qs: Seq[Query]): Map[String, Digest] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.nproc)
    try {
      qs.map { case (n, f) =>
        pool.submit(new java.util.concurrent.Callable[Option[(String, Digest)]] {
          def call() = try Some(n -> Checks.rowsDigest(f().collect())) catch { case _: Exception => None }
        })
      }.flatMap(_.get()).toMap
    } finally pool.shutdown()
  }

  /** JIT warm-up of the per-row kernel: `Extractor.extract` and `toRow`
    * over the corpus in nproc driver threads for about `seconds` — far
    * cheaper per document than warming it through Spark commits. */
  def kernelWarmup(c: Ctx, corpus: Corpus, seconds: Double): Unit = {
    val docs = c.spark.read.parquet(corpus.pagesDir)
      .select(col("html"), col("text"), unix_micros(col("warc_ts"))).collect()
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.nproc)
    try {
      while ((System.nanoTime() - t0) / 1e9 < seconds) {
        docs.grouped(math.max(1, docs.length / (Main.nproc * 4))).map { part =>
          pool.submit(new Runnable {
            def run(): Unit = part.foreach { r =>
              graft.plans.ExtractDoc.toRow(graft.extract.Extractor.extract(
                r.getAs[Array[Byte]](0), r.getString(1), r.getLong(2)))
            }
          })
        }.toVector.foreach(_.get())
      }
    } finally pool.shutdown()
  }

  /** The measured loop: the last round's table, every round, and the
    * loop's steal share. */
  final case class Loop(table: Path, rounds: Seq[Round], steal: Double)

  /** One round: a commit into `table`, a read of it in each window of
    * `ws`, one pass over `queries`; with the share of host CPU time the
    * hypervisor stole meanwhile. */
  final case class Round(commit: Double, ranges: Seq[(Instant, Instant)],
      reads: Seq[(Digest, Double)], pass: (Map[String, Digest], Seq[(String, Double)], Double),
      steal: Double)

  private def round(c: Ctx, corpus: Corpus, table: Path, ws: Seq[(Instant, Instant)],
      queries: Seq[Query], count: Boolean): Round = {
    val cpu0 = HostCpu.sample()
    if (count) c.attempted += 1
    val commitS = commit(c, corpus, table)
    val reads = ws.map { case (lo, hi) =>
      if (count) c.attempted += 1
      time(c.tracer.span("lake.read")(read(c, table, lo, hi, pruned = true)))
    }
    val ((d, lat), passS) = time(pass(c, queries, count))
    Round(commitS, ws, reads, (d, lat, passS), HostCpu.stealShare(cpu0, HostCpu.sample()))
  }

  /** Milliseconds the JIT compilers and the collectors have spent so far. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Warm-up: one round as the measured loop runs it (which also compiles
    * each window's reads: the bounds are literals of the generated code). */
  def warmRound(c: Ctx, corpus: Corpus, table: Path, queries: Seq[Query]): Unit = {
    round(c, corpus, table, windows(c, corpus), queries, count = false)
    Main.delete(table)
  }

  /** The measured closed loop: rounds of one commit, a read of the table
    * it committed in each window and one query pass, until `--seconds`
    * have passed and at least `minRounds` rounds ran. Interleaved, every
    * metric samples the whole loop, so a slow stretch of the host moves
    * each median by a few samples rather than all of one metric's. Each
    * round starts from a collected heap (untimed), so where a full
    * collection falls does not depend on the round before. CPU time the
    * hypervisor steals for other guests slows every operation (a 6% steal
    * share about 20%, a 15% share about 40%); META records each round's
    * steal share so a disturbed run can be set aside. */
  def measure(c: Ctx, corpus: Corpus, dir: Path, queries: Seq[Query]): Loop = {
    val seconds = c.o.seconds
    val ws = windows(c, corpus)
    val cpu0 = HostCpu.sample()
    val (jit0, gc0) = (jitMs, gcMs)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val rounds = mutable.ArrayBuffer[Round]()
    val jits = mutable.ArrayBuffer[Long]()
    var table: Path = null
    while (rounds.size < minRounds || elapsed < seconds) {
      if (table != null) Main.delete(table)
      System.gc()
      table = dir.resolve(s"m${rounds.size}")
      val j = jitMs
      rounds += round(c, corpus, table, ws, queries, count = true)
      jits += jitMs - j
    }
    val steal = HostCpu.stealShare(cpu0, HostCpu.sample())
    c.meta("loop_jit_ms") = (jitMs - jit0).toString
    c.meta("loop_gc_ms") = (gcMs - gc0).toString
    c.meta("round_steal_share") = rounds.map(r => Main.num(r.steal)).mkString("[", ",", "]")
    c.note(f"${rounds.size} rounds in $elapsed%.1f s; steal share $steal%.3f; JIT ${jitMs - jit0} ms, GC ${gcMs - gc0} ms")
    c.note(s"per round: JIT ms ${jits.mkString(" ")}; steal ${rounds.map(r => f"${r.steal}%.3f").mkString(" ")}")
    c.note(s"commits: ${rounds.map(r => f"${r.commit}%.3f").mkString(" ")}")
    c.note(s"reads: ${rounds.flatMap(_.reads).map(r => f"${r._2}%.3f").mkString(" ")}")
    c.note(s"passes: ${rounds.map(r => f"${r.pass._3}%.3f").mkString(" ")}")
    Loop(table, rounds.toSeq, steal)
  }

  // ---- the run ---------------------------------------------------------------

  def run(o: Main.Opts): Int = {
    if (!names.contains(o.workload)) {
      System.err.println(s"unknown workload '${o.workload}'; expected one of ${names.mkString(", ")}")
      return 2
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Main.session(Main.nproc, o.work)
    val c = new Ctx(o, spark)
    try {
      runWorkload(c, jvmStartMs)
      emit(c)
      if (c.failures.isEmpty) 0 else 1
    } finally {
      spark.stop()
    }
  }

  private def runWorkload(c: Ctx, jvmStartMs: Long): Unit = {
    val o = c.o
    val tables = o.work.resolve("tables")
    c.note("session ready")
    // ---- set-up: inputs, one-time builds, warm-up
    val corpus = c.tracer.span("setup.corpus")(o.workload match {
      case "crawl_small" => setupCrawlSmall(c)
      case _ => setupLongArticles(c)
    })
    c.note(s"corpus ready: ${corpus.docs} docs, ${corpus.bytes} bytes")
    splitFor(c, corpus)
    setupQueries(c)
    c.note("query tables ready")
    val queries = sparkEntryQueries(c, loopQueryNames)
    c.tracer.span("setup.warmup") {
      kernelWarmup(c, corpus, seconds = 2.0)
      parallelPass(c, queries)
      warmRound(c, corpus, tables.resolve("warm"), queries)
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    c.note("warm-up done")

    // ---- measured closed loop: rounds of a commit, reads and a query pass
    Heap.sample()
    Heap.listen()
    val loop = try measure(c, corpus, tables.resolve("loop"), queries) finally Heap.unlisten()
    c.meta("steal_share") = Main.num(loop.steal)
    Heap.sample()
    c.layer("heap_peak_mb") = (Heap.peakMb, "MB")
    val table = loop.table
    val commitSecs = loop.rounds.map(_.commit)
    val reads = loop.rounds.flatMap(_.reads)
    val passes = loop.rounds.map(_.pass)

    val committedBytes = Main.dirBytes(table)
    c.e2e("setup_s") = (setupS, "s")
    c.e2e("commit_docs_per_s") = (corpus.docs / median(commitSecs), "docs/s")
    c.e2e("read_p50_s") = (quantile(reads.map(_._2), 0.5), "s")
    c.e2e("read_p90_s") = (quantile(reads.map(_._2), 0.9), "s")
    c.e2e("stored_bytes_per_input_byte") = (committedBytes.toDouble / corpus.bytes, "ratio")
    val lat = passes.flatMap(_._2.map(_._2))
    val perQuery = passes.flatMap(_._2).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (q, xs) => q -> median(xs.map(_._2)) }
    c.e2e("query_pass_s") = (median(passes.map(_._3)), "s")
    // the median query's latency: the median over the queries of each
    // query's median (a median of the pooled samples would fall in the gap
    // between two queries' times and jump with single samples)
    c.e2e("query_p50_s") = (median(perQuery.map(_._2)), "s")
    c.layer("query_p90_s") = (quantile(lat, 0.9), "s")

    // ---- correctness (outside timing)
    val s = c.spark
    val pages = s.read.parquet(corpus.pagesDir)
    val committed = ResumableRun.readTable(s, table.toString)
    c.check(Checks.rowsAndUrls(Checks.digest(pages, "url"), Checks.digest(committed, "url")))
    c.note("check rows")
    val urls = pages.select("url").collect().map(_.getString(0)).sorted
    val sample = (0 until 24).map(_ => urls(c.rng.int(urls.length))).distinct
    c.check(Checks.sampleEqual(Checks.committedRows(committed, sample), Checks.driverRows(pages, sample)))
    c.note("check sample")
    val perRow = committed.select(unix_micros(col("warc_ts")), xxhash64(col("url"), col("extracted_text")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every round commits the same input, so each round's reads are
    // checked against the last round's table
    val rs = loop.rounds.flatMap(_.ranges)
    rs.zip(reads).zipWithIndex.foreach { case (((lo, hi), (got, _)), i) =>
      val (a, b) = (lo.getEpochSecond * 1000000L, hi.getEpochSecond * 1000000L)
      val in = perRow.filter(x => x._1 >= a && x._1 <= b)
      c.check(Checks.prunedEqualsFull(s"#$i", got, Digest(in.length.toLong, in.map(_._2).sum)))
    }
    c.note("check reads")
    val (bounds, bucketRows) = Checks.independentBounds(committed)
    c.check(Checks.boundsEqual(new SnapshotLog(table.toString).bucketStats(), bounds))
    c.check(Checks.queryDigests(passes.map(_._1), loadExpected(o).filter(e => queries.exists(_._1 == e._1))))
    c.note("checks done")

    c.meta("nproc") = Main.nproc.toString
    c.meta("docs") = corpus.docs.toString
    c.meta("input_bytes") = corpus.bytes.toString
    c.meta("committed_bytes") = committedBytes.toString
    val corpusDigest = f"${corpus.digest.rows}%d:${corpus.digest.sum}%016x"
    c.meta("corpus_digest") = Main.str(corpusDigest)
    // a changed generator (or Synth) shows as a changed workload, not a speed-up
    baselineCorpus(o).foreach(d => c.meta("corpus_matches_baseline") = (d == corpusDigest).toString)
    c.meta("rounds") = loop.rounds.size.toString
    c.meta("read_samples") = reads.size.toString
    c.meta("query_samples") = lat.size.toString
    c.meta("query_median_s") = perQuery.map { case (q, m) => s"${Main.str(q)}:${Main.num(m)}" }
      .mkString("{", ",", "}")

    if (c.o.trace) Traced.run(c, corpus, table, committed, rs, bucketRows, queries)
  }

  /** A small pass over every code path, run once per build with
    * -XX:ArchiveClassesAtExit so later JVMs start from a class-data
    * archive (see build.py). */
  def classWarmup(o: Main.Opts): Int = {
    val spark = Main.session(Main.nproc, o.work)
    try {
      val c = new Ctx(o.copy(workload = "cds"), spark)
      val pages = c.o.work.resolve("pages")
      Gen.writeSmallPages(spark, Main.data.resolve("sf0.001/documents.parquet").toString,
        pages.toString, 1, Main.nproc)
      val corpus = corpusOf(c, pages, "hash")
      val table = c.o.work.resolve("table")
      commit(c, corpus, table)
      setupQueries(c)
      setupExtractedTable(c)
      warmRound(c, corpus, table, sparkEntryQueries(c, loopQueryNames))
      0
    } finally spark.stop()
  }

  /** The corpus digest recorded for this workload and seed at the baseline
    * commit, if any (expected/corpus.tsv). */
  def baselineCorpus(o: Main.Opts): Option[String] =
    sys.props.get("perfbench.corpus").map(Paths.get(_)).filter(Files.exists(_)).flatMap { p =>
      Files.readAllLines(p).asScala.map(_.split("\t")).collectFirst {
        case Array(w, seed, d) if w == o.workload && seed == o.seed.toString => d
      }
    }

  // ---- expected query digests (recorded at the benchmark's baseline commit) --

  def expectedPath(o: Main.Opts): Path =
    Paths.get(sys.props.getOrElse("perfbench.expected", "perfbench/expected/query_set.tsv"))

  def loadExpected(o: Main.Opts): Map[String, Digest] = {
    val p = expectedPath(o)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, rows, sum) = l.split("\t")
      n -> Digest(rows.toLong, java.lang.Long.parseUnsignedLong(sum, 16))
    }.toMap
  }

  /** Writes the digests of the 62 queries over the fixed query tables. */
  def recordExpected(o: Main.Opts): Int = {
    val spark = Main.session(Main.nproc, o.work)
    try {
      val c = new Ctx(o, spark)
      setupQueries(c)
      val qs = sparkEntryQueries(c, queryNames)
      val (a, _) = pass(c, qs, count = true)
      val (b, _) = pass(c, qs, count = true)
      val diff = Checks.queryDigests(Seq(a, b), Map.empty)
      if (diff.nonEmpty || c.failed > 0) { diff.foreach(println); return 1 }
      val lines = "# query\trows\tdigest (SparkEntry queries over perfbench/data/sf0.001)" +:
        a.toSeq.sortBy(_._1).map { case (n, d) => f"$n\t${d.rows}\t${d.sum}%016x" }
      Files.write(expectedPath(o), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      println(s"# wrote ${a.size} query digests to ${expectedPath(o)}")
      0
    } finally spark.stop()
  }

  // ---- output ------------------------------------------------------------------

  def emit(c: Ctx): Unit = {
    val m = if (c.o.trace) layerUnits.map { case (n, u) => n -> c.layer.getOrElse(n, (0.0, u)) }
            else c.e2e.toSeq
    c.meta("workload") = Main.str(c.o.workload)
    c.meta("seed") = c.o.seed.toString
    c.meta("trace") = c.o.trace.toString
    c.meta("java") = Main.str(sys.props("java.version"))
    c.meta("spark") = Main.str(c.spark.version)
    c.meta("source_digest") = Main.str(sys.props.getOrElse("perfbench.source", "unknown"))
    c.meta("git_commit") = Main.str(sys.props.getOrElse("perfbench.commit", "unknown"))
    c.meta("mem_total_kb") = memTotalKb.toString
    c.meta("failures") = c.failures.map(Main.str).mkString("[", ",", "]")
    val metaJson = c.meta.map { case (k, v) => s"${Main.str(k)}:$v" }.mkString("{", ",", "}")
    val metricJson = m.map { case (n, (v, u)) =>
      s"${Main.str(n)}: {\"value\": ${Main.num(v)}, \"unit\": ${Main.str(u)}}"
    }.mkString("{", ", ", "}")
    sys.props.get("perfbench.results").foreach { dir =>
      val p = Paths.get(dir)
      Files.createDirectories(p)
      val f = p.resolve(s"${c.o.workload}-seed${c.o.seed}-trace${if (c.o.trace) 1 else 0}.json")
      Files.write(f, (s"""{"meta": $metaJson, "metrics": $metricJson, "spans": ${c.tracer.toJson}}""" + "\n")
        .getBytes("UTF-8"))
    }
    println("META " + metaJson)
    println(s"""{"correct": ${c.failures.isEmpty}, "attempted": ${c.attempted}, "failed": ${c.failed}, "metrics": $metricJson}""")
  }

  def memTotalKb: Long = try {
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala.find(_.startsWith("MemTotal:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  } catch { case _: Exception => 0L }
}
