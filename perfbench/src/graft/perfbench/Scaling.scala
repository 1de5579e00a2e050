package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths
import scala.jdk.CollectionConverters._

/** `scaling_eff_1toN`: commit throughput at N = nproc cores (the parent
  * JVM, launched with -XX:ActiveProcessorCount=nproc) over commit
  * throughput at 1 core (a child JVM pinned with -XX:ActiveProcessorCount=1
  * running local[1] on the same corpus), divided by N. */
object Scaling {

  /** (value, unit); the value is NaN, printed as null, when the host has
    * no honest 1-vs-N pair (fewer than 2 cores). */
  def efficiency(c: Ctx, corpus: Corpus, docsPerSecN: Double): (Double, String) = {
    val n = Main.nproc
    if (n < 2) {
      c.meta("scaling_eff_1toN_reason") = Main.str(s"nproc=$n: no 1-vs-N pair with N >= 2")
      return (Double.NaN, "ratio")
    }
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-XX:ActiveProcessorCount"))
    val cmd = Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++ jvmArgs ++
      Seq("-XX:ActiveProcessorCount=1", "-cp", sys.props("java.class.path"),
        "graft.perfbench.ScaleChild", corpus.pagesDir, corpus.spec,
        c.spark.conf.get("spark.sql.files.maxPartitionBytes"),
        c.o.work.resolve("scale1").toString, (c.o.seconds / 4).toString)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    proc.waitFor()
    val m = "SCALE docs_per_s=([0-9.Ee+-]+)".r.findFirstMatchIn(out)
    m match {
      case Some(x) =>
        val one = x.group(1).toDouble
        c.meta("scaling_docs_per_s_1") = Main.num(one)
        c.meta("scaling_docs_per_s_N") = Main.num(docsPerSecN)
        ((docsPerSecN / one) / n, "ratio")
      case None =>
        c.meta("scaling_eff_1toN_reason") = Main.str("1-core child failed: " + out.takeRight(300))
        (Double.NaN, "ratio")
    }
  }
}

/** Child JVM of [[Scaling]]: the same commit at local[1]. Args: pagesDir,
  * partition spec, the parent's split size, work dir, seconds. */
object ScaleChild {
  def main(args: Array[String]): Unit = {
    val Array(pagesDir, spec, split, work, seconds) = args
    val workDir = Paths.get(work)
    val spark = Main.session(1, workDir)
    try {
      val o = Main.Opts("scale", 0L, seconds.toDouble, trace = false, workDir, "run")
      val c = new Ctx(o, spark)
      val corpus = Corpus(pagesDir, spark.read.parquet(pagesDir).count(), Main.dirBytes(Paths.get(pagesDir)),
        Checks.Digest(0, 0), spec, 0, 0)
      spark.conf.set("spark.sql.files.maxPartitionBytes", split)
      val warm = workDir.resolve("warm")
      Workloads.commit(c, corpus, warm)
      Main.delete(warm)
      val t0 = System.nanoTime()
      val xs = scala.collection.mutable.ArrayBuffer[Double]()
      while (xs.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds.toDouble) {
        val dir = workDir.resolve(s"t${xs.size}")
        xs += Workloads.commit(c, corpus, dir)
        Main.delete(dir)
      }
      println(s"SCALE docs_per_s=${corpus.docs / Stats.median(xs.toSeq)}")
    } finally {
      spark.stop()
      Main.delete(workDir)
    }
    System.out.flush()
    sys.exit(0)
  }
}
