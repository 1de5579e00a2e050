package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.lake.SnapshotLog

/** Benchmark driver: one workload per JVM.
  *
  * `--workload crawl_small|long_articles --seed N --seconds S
  * --trace 0|1 --work DIR`. Every workload runs the same closed loop with
  * one client: commits of its pages corpus into a lake table, seeded
  * `warc_ts` range reads of the committed table, and passes over three
  * SparkEntry queries. Prints one JSON result as the last line of stdout. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, mode: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m.getOrElse("work", "work")).toAbsolutePath, m.getOrElse("mode", "run"))
  }

  val nproc: Int = Runtime.getRuntime.availableProcessors()
  /** The benchmark's vendored input tables (perfbench/data). */
  val data: Path = Paths.get(sys.props.getOrElse("perfbench.data", "perfbench/data")).toAbsolutePath
  val nBuckets = 16

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // the measured loop interleaves commits, reads and queries in one
      // session; a cache that holds all their generated classes keeps each
      // operation from evicting the others' (the default 100 entries make
      // every round recompile about 60 classes)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val code = o.mode match {
      case "run" => Workloads.run(o)
      case "selftest" => SelfTest.run(o)
      case "record" => Workloads.recordExpected(o)
      case "cds" => Workloads.classWarmup(o)
      case other => System.err.println(s"unknown mode $other"); 2
    }
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is printed
    sys.exit(code)
  }

  // ---- shared helpers --------------------------------------------------------

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum

  def parquetFiles(p: Path): Int =
    if (!Files.exists(p)) 0
    else Files.walk(p).iterator().asScala
      .count(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))

  def delete(p: Path): Unit = try SnapshotLog.deleteRecursively(p) catch { case _: Exception => () }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** A committed-table workload's input: a pages parquet and its partition spec. */
final case class Corpus(pagesDir: String, docs: Long, bytes: Long, digest: Checks.Digest,
    spec: String, minTsSec: Long, maxTsSec: Long) {
  /** "hash" = ResumableRun's default salted url-hash; "ts:<base>:<window>" =
    * the warc_ts-clustered spec of `BenchExtra scale`. */
  def bucketExpr: Option[Column] = spec.split(":") match {
    case Array("ts", base, window) =>
      Some(pmod(floor((col("warc_ts").cast("long") - lit(base.toLong)) / lit(window.toLong)),
        lit(Main.nBuckets)))
    case _ => None
  }
}

/** Run state: metrics, counters, correctness failures, metadata. */
final class Ctx(val o: Main.Opts, val spark: SparkSession) {
  val tracer = new Tracer(o.trace)
  val counters = new StageCounters
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val failures = mutable.ArrayBuffer[String]()
  val meta = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L
  var queryAttempted = 0L
  var queryFailed = 0L
  val rng = Gen.rng(o.seed, 77)
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** progress line on stdout, stamped with seconds since JVM start */
  def note(msg: String): Unit =
    println(f"# ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2fs $msg")
  def check(found: Seq[String]): Unit = {
    failures ++= found
    found.foreach(f => println(s"# CHECK FAILED: $f"))
  }
}
