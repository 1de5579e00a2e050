package graft.perfbench

import java.nio.file.Path
import java.time.Instant
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.lake.ResumableRun
import graft.pipeline.Pipeline
import graft.perfbench.Stats.{median, time}

/** The per-layer half of a traced run: after the untraced measurement,
  * the same operations run again with spans, ResumableRun's phase hook and
  * a registered SparkListener, plus the per-module probes. */
object Traced {

  def run(c: Ctx, corpus: Corpus, table: Path, committed: DataFrame,
      rs: Seq[(Instant, Instant)], bucketRows: Map[Int, Long], queries: Seq[Workloads.Query]): Unit = {
    val s = c.spark
    val L = c.layer
    val tables = c.o.work.resolve("tables")
    s.sparkContext.addSparkListener(c.counters)

    // ---- lake + pipeline: commits alternate between plain and traced (spans
    // and ResumableRun's phase hook on), so the pair prices the tracing
    val phases = mutable.Map[String, Double]().withDefaultValue(0.0)
    final case class Traced(wall: Double, phases: Map[String, Double], tasks: Vector[Task])
    val pairs = (0 until 2).map { i =>
      val plainDir = tables.resolve(s"plain$i")
      c.tracer.enabled = false
      val plain = Workloads.commit(c, corpus, plainDir)
      Main.delete(plainDir)
      c.tracer.enabled = true
      val dir = tables.resolve(s"traced$i")
      phases.clear()
      ResumableRun.onPhase = (n, sec) => phases.synchronized { phases(n) += sec }
      val mark = c.counters.mark
      val sec = try Workloads.commit(c, corpus, dir) finally ResumableRun.onPhase = null
      Thread.sleep(200) // let the listener bus deliver the last task ends
      Main.delete(dir)
      (plain, Traced(sec, phases.toMap, c.counters.since(mark)))
    }
    val traced = pairs.map(_._2)
    val commitS = median(traced.map(_.wall))
    def med(f: Traced => Double) = median(traced.map(f))
    L("lake.commit_s") = (commitS, "s")
    for (p <- Seq("log_init", "hot_domains", "stage_write", "stats_agg", "commit_loop"))
      L(s"lake.phase.${p}_s") = (med(_.phases.getOrElse(p, 0.0)), "s")
    L("lake.commit_self_s") = (med(t => t.wall - t.phases.values.sum), "s")
    val ms = 1e3
    L("pipeline.busy_share") = (med(t => t.tasks.map(_.runMs).sum / ms / (t.wall * Main.nproc)), "ratio")
    L("pipeline.gc_share") = (med(t => t.tasks.map(_.gcMs).sum.toDouble / math.max(1L, t.tasks.map(_.runMs).sum)), "ratio")
    L("pipeline.spill_mb") = (med(t => t.tasks.map(_.spill).sum / 1048576.0), "MB")
    L("pipeline.shuffle_write_bytes_per_doc") = (med(t => t.tasks.map(_.shuffleWrite).sum.toDouble / corpus.docs), "B")
    L("pipeline.tasks_per_commit") = (med(_.tasks.size.toDouble), "count")
    // the extraction runs in the map stage of the staging shuffle: the
    // stage with the most task time
    L("pipeline.task_skew") = (med { t =>
      val byStage = t.tasks.groupBy(_.stage)
      if (byStage.isEmpty) 0.0 else {
        val st = byStage.maxBy(_._2.map(_.runMs).sum)._2.map(_.durationMs.toDouble)
        st.max / math.max(1.0, median(st))
      }
    }, "ratio")

    c.note("traced commits done")
    // ---- sources / pipeline probes on the same pages
    def pages = s.read.parquet(corpus.pagesDir)
    def probe(name: String)(f: => Unit): Double =
      median((0 until 3).map(_ => time(c.tracer.span(name)(f))._2))
    L("sources.scan_s") = (probe("sources.scan")(pages.write.format("noop").mode("overwrite").save()), "s")
    val hot = probe("pipeline.hot_domains")(Pipeline.hotDomains(pages))
    L("pipeline.hot_domains_s") = (hot, "s")
    val extract = probe("pipeline.extract")(Pipeline.extracted(pages).write.format("noop").mode("overwrite").save())
    L("pipeline.extract_s") = (extract, "s")
    val usesHot = corpus.bucketExpr.isEmpty
    L("lake.stage_commit_overhead_s") = (commitS - extract - (if (usesHot) hot else 0.0), "s")

    c.note("probes done")
    // ---- lake layout and reads
    val buckets = bucketRows.size
    L("lake.files_per_bucket") = (Main.parquetFiles(table) / math.max(1.0, buckets), "count")
    val rows = bucketRows.values.map(_.toDouble)
    L("lake.bucket_rows_max_over_mean") = (if (rows.isEmpty) 0.0 else rows.max / (rows.sum / rows.size), "ratio")
    val skipped = rs.distinct.map { case (lo, hi) =>
      val (keep, skip) = ResumableRun.prunedPaths(table.toString,
        Seq(graft.lake.ColBound.warcTs(">=", lo), graft.lake.ColBound.warcTs("<=", hi)))
      skip.size.toDouble / math.max(1, keep.size + skip.size)
    }
    L("lake.read_buckets_skipped_share") = (skipped.sum / skipped.size, "ratio")
    L("lake.read_full_scan_s") = (median(rs.distinct.map { case (lo, hi) =>
      time(c.tracer.span("lake.read_full_scan")(Workloads.read(c, table, lo, hi, pruned = false)))._2
    }), "s")

    c.note("layout and full scans done")
    // ---- per-row kernel replay on the driver
    val n = if (c.o.workload == "long_articles") 16 else 400
    val urls = committed.select("url").collect().map(_.getString(0)).sorted
    val sample = (0 until n).map(_ => urls(c.rng.int(urls.length))).distinct
    val docs = pages.filter(col("url").isin(sample: _*))
      .select(col("html"), col("text"), unix_micros(col("warc_ts"))).collect()
      .map(r => Replay.Doc(r.getAs[Array[Byte]](0), r.getString(1),
        if (r.isNullAt(2)) Long.MinValue else r.getLong(2))).toSeq
    c.tracer.span("extract.replay")(Replay.run(docs, warm = 1, rounds = 3))
      .foreach { case (k, v) => L(k) = (v, Workloads.layerUnits.toMap.getOrElse(k, "us")) }

    c.note("replay done")
    // ---- query layers: the committed extraction table, then one warm
    // traced pass of the loop's queries and x_links; on long_articles also
    // the 15 read-side SparkEntry queries (their times replace those),
    // after the IVF and bucketed-table builds and a warm-up pass (here
    // rather than in crawl_small, whose traced run carries the 1-core child
    // JVM, so that neither traced run nears the run time limit)
    val expected = Workloads.loadExpected(c.o)
    Workloads.setupExtractedTable(c)
    val loopQs = queries ++ Workloads.sparkEntryQueries(c, Seq("x_links"))
    Workloads.parallelPass(c, loopQs)
    val (passDigests, passLatency) = Workloads.pass(c, loopQs, count = true)
    c.check(Checks.queryDigests(Seq(passDigests), expected.filter(e => loopQs.exists(_._1 == e._1))))
    passLatency.foreach { case (q, sec) => L(s"${q}_s") = (sec, "s") }
    if (c.o.workload == "long_articles") {
      Workloads.setupQueryBuilds(c)
      val qs = Workloads.sparkEntryQueries(c, Workloads.ownQueryNames)
      Workloads.parallelPass(c, qs)
      val (digests, lat) = Workloads.pass(c, qs, count = true)
      c.check(Checks.queryDigests(Seq(digests), expected.filter(e => qs.exists(_._1 == e._1))))
      lat.foreach { case (q, sec) => L(s"${q}_s") = (sec, "s") }
    }

    c.note("query layers done")
    // ---- scaling, errors, overhead
    if (c.o.workload == "crawl_small")
      L("scaling_eff_1toN") = Scaling.efficiency(c, corpus, c.e2e("commit_docs_per_s")._1)
    L("doc_error_share") = (committed.filter(col("error").isNotNull).count().toDouble / corpus.docs, "ratio")
    L("query_failed_share") = (c.queryFailed.toDouble / math.max(1L, c.queryAttempted), "ratio")
    L("trace_overhead_share") = (commitS / median(pairs.map(_._1)) - 1.0, "ratio")
    c.tracer.totals.toSeq.sortBy(_._1).foreach { case (k, (tot, self)) =>
      println(f"# span $k%-40s total ${tot}%9.3f s  self ${self}%9.3f s")
    }
  }
}
