package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.lake.{ColBound, ResumableRun, SnapshotLog}

/** Self-tests of the benchmark: every correctness check passes on a good
  * output and fails on a deliberately corrupted one, and the generators
  * are byte-deterministic in the seed. `--mode selftest`. */
object SelfTest {
  def run(o: Main.Opts): Int = {
    val spark = Main.session(Main.nproc, o.work)
    var bad = 0
    def expect(name: String, ok: Boolean): Unit = {
      println(s"# selftest ${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) bad += 1
    }
    def passes(f: Seq[String]) = f.isEmpty
    try {
      val c = new Ctx(o.copy(workload = "crawl_small", seed = 3), spark)

      // ---- generators: same seed -> same bytes; another seed -> another
      // corpus with the same shape
      def long(seed: Long) = (0 until 40).map(i => Gen.longArticle(seed, i).getAs[Array[Byte]](2))
      expect("long articles are byte-deterministic in the seed",
        long(1).zip(long(1)).forall { case (a, b) => java.util.Arrays.equals(a, b) })
      val documents = Main.data.resolve("sf0.1/documents.parquet").toString
      def smallPages(seed: Long, name: String = ""): Path = {
        val pages = o.work.resolve(s"pages$seed$name")
        Gen.writeSmallPages(spark, documents, pages.toString, seed, 4)
        pages
      }
      def shape(p: Path) = spark.read.parquet(p.toString).agg(count(lit(1)),
        avg(length(col("html"))),
        avg(when(substring(col("html").cast("string"), 1, 5) === "%PDF-", 1.0).otherwise(0.0)),
        avg(when(col("url").contains("big.example.com") || col("url").contains("hub.example.org"), 1.0)
          .otherwise(0.0))).head()
      val (p1, p1b, p2) = (smallPages(1), smallPages(11), smallPages(2))
      val d = Seq(p1, p1b, p2).map(p => Checks.digest(spark.read.parquet(p.toString), "url", "warc_ts", "html", "text", "lang"))
      val (s1, s2) = (shape(p1), shape(p2))
      expect("crawl_small corpus digest repeats for a seed",
        Checks.digest(spark.read.parquet(smallPages(1, "again").toString),
          "url", "warc_ts", "html", "text", "lang") == d(0))
      expect("crawl_small: another seed gives another corpus", d(0) != d(1) && d(0) != d(2))
      expect(s"crawl_small: same size/PDF/hot-domain shape across seeds ($s1 vs $s2)",
        s1.getLong(0) == s2.getLong(0) &&
          math.abs(s1.getDouble(1) / s2.getDouble(1) - 1) < 0.05 &&
          math.abs(s1.getDouble(2) - s2.getDouble(2)) < 0.01 &&
          math.abs(s1.getDouble(3) - s2.getDouble(3)) < 0.03)
      def longShape(seed: Long) = {
        val docs = (0 until Gen.longDocs).map(i => Gen.longArticle(seed, i).getAs[Array[Byte]](2))
        val depth = docs.map(b => "<div class=\"wrap".r.findAllMatchIn(new String(b, "UTF-8")).size)
        (docs.map(_.length.toDouble).sum / docs.size, depth.sum.toDouble / depth.size, depth.max,
          docs.map(_.length).min, docs.map(_.length).max)
      }
      val (l1, l2) = (longShape(1), longShape(2))
      // every seed draws the same (size, depth) shapes: equal depths, sizes
      // within the overshoot of the last block of each page
      expect(s"long_articles: same size/depth shape across seeds ($l1 vs $l2)",
        long(1).zip(long(2)).exists { case (a, b) => !java.util.Arrays.equals(a, b) } &&
          math.abs(l1._1 / l2._1 - 1) < 0.02 && l1._2 == l2._2 && l1._3 == l2._3 &&
          l1._3 <= 600 && l1._4 >= 10 * 1024 && l2._5 <= 210 * 1024)

      // ---- the checks, on a good and a corrupted output
      val pagesDir = p1.toString
      val pages = spark.read.parquet(pagesDir)
      val n = d(0).rows
      val window = n * 600 / Main.nBuckets + 1
      val base = pages.agg(min(col("warc_ts").cast("long"))).head().getLong(0)
      val corpus = Corpus(pagesDir, n, Main.dirBytes(p1), d(0), s"ts:$base:$window", base, base + (n - 1) * 600)
      val table = o.work.resolve("table")
      Workloads.commit(c, corpus, table)
      val committed = ResumableRun.readTable(spark, table.toString)
      val urls = pages.select("url").orderBy("url").collect().map(_.getString(0))

      val inUrls = Checks.digest(pages, "url")
      expect("row/url check passes on the committed table",
        passes(Checks.rowsAndUrls(inUrls, Checks.digest(committed, "url"))))
      expect("row/url check fails on a dropped row",
        !passes(Checks.rowsAndUrls(inUrls, Checks.digest(committed.filter(col("url") =!= urls(7)), "url"))))

      val sample = urls.take(12).toSeq
      val good = Checks.committedRows(committed, sample)
      val driver = Checks.driverRows(pages, sample)
      expect("sample check passes", passes(Checks.sampleEqual(good, driver)))
      val (u, x) = good.head
      val flipped = x.text.updated(x.text.length / 2, (x.text.charAt(x.text.length / 2) ^ 1).toChar)
      expect("sample check fails on a changed byte",
        !passes(Checks.sampleEqual(good.updated(u, x.copy(text = flipped)), driver)))

      val (lo, hi) = (java.time.Instant.ofEpochSecond(base + n / 6 * 600), java.time.Instant.ofEpochSecond(base + n / 2 * 600))
      val bounds = Seq(ColBound.warcTs(">=", lo), ColBound.warcTs("<=", hi))
      val full = Checks.digest(committed.filter(Workloads.rangeFilter(lo, hi)), "url", "extracted_text")
      val pruned = Workloads.read(c, table, lo, hi, pruned = true)
      val (keep, skip) = ResumableRun.prunedPaths(table.toString, bounds)
      expect(s"pruned read equals the full scan (kept ${keep.size}, skipped ${skip.size})",
        skip.nonEmpty && passes(Checks.prunedEqualsFull("t", pruned, full)))
      val overPruned = Checks.digest(spark.read.parquet(keep.tail: _*).filter(Workloads.rangeFilter(lo, hi)),
        "url", "extracted_text")
      expect("pruned-read check fails when a matching bucket is skipped",
        !passes(Checks.prunedEqualsFull("t", overPruned, full)))

      val manifest = new SnapshotLog(table.toString).bucketStats()
      val (indep, _) = Checks.independentBounds(committed)
      expect("bounds check passes", passes(Checks.boundsEqual(manifest, indep)))
      val (b0, st) = manifest.head
      expect("bounds check fails on a wrong bound",
        !passes(Checks.boundsEqual(manifest.updated(b0, st.copy(tsMax = "2000-01-01 00:00:00")), indep)))

      Workloads.setupQueries(c)
      val qs = Workloads.sparkEntryQueries(c, Workloads.loopQueryNames)
      val expected = Workloads.loadExpected(o).filter(e => qs.exists(_._1 == e._1))
      val (a1, _) = Workloads.pass(c, qs, count = false)
      val (a2, _) = Workloads.pass(c, qs, count = false)
      expect(s"query digests agree across passes and with the ${expected.size} expected values",
        expected.size == qs.size && passes(Checks.queryDigests(Seq(a1, a2), expected)))
      val q = "SparkEntry.q_topk_custom"
      val rows = qs.find(_._1 == q).get._2().collect()
      val changed = rows.updated(0, Row.fromSeq(rows(0).toSeq.updated(0, "changed")))
      val bent = a2.updated(q, Checks.rowsDigest(changed))
      expect("query check fails on a changed query row",
        !passes(Checks.queryDigests(Seq(a1, bent), Map.empty)) &&
          !passes(Checks.queryDigests(Seq(bent), expected)))
      expect("query check fails on a dropped query row",
        !passes(Checks.queryDigests(Seq(a2.updated(q, Checks.rowsDigest(rows.tail))), expected)))
    } finally spark.stop()
    println(s"""{"selftest_failures": $bad}""")
    if (bad == 0) 0 else 1
  }
}
