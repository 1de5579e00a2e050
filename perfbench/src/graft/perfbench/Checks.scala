package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.lake.BucketStats

/** Correctness checks. Each returns the failures it found (empty = pass);
  * the Spark-side helpers compute the digests the checks compare, so the
  * self-test can feed them deliberately corrupted inputs. */
object Checks {

  /** (rows, order-independent digest) of a column set. */
  final case class Digest(rows: Long, sum: Long)

  /** Row count and the wrapping 64-bit sum of per-row xxhash64 (summed as
    * a decimal: ANSI mode rejects long overflow). */
  def digest(df: DataFrame, cols: String*): Digest = {
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).head()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getDecimal(1).toBigInteger.longValue)
  }

  def rowsAndUrls(input: Digest, committed: Digest): Seq[String] =
    if (input == committed) Nil
    else Seq(s"committed rows/url set differ from input: input=$input committed=$committed")

  /** One committed row as the check compares it. */
  final case class Extracted(url: String, text: String, spans: Seq[(Int, Int, String)],
      links: Seq[(Int, String, String)])

  def committedRows(table: DataFrame, urls: Seq[String]): Map[String, Extracted] =
    table.filter(col("url").isin(urls: _*))
      .select("url", "extracted_text", "spans", "links").collect().map { r =>
        r.getString(0) -> Extracted(r.getString(0), r.getString(1),
          r.getSeq[Row](2).map(s => (s.getInt(0), s.getInt(1), s.getString(2))),
          r.getSeq[Row](3).map(l => (l.getInt(0), l.getString(1), l.getString(2))))
      }.toMap

  /** Driver-side `Extractor.extract` of the same input rows. */
  def driverRows(pages: DataFrame, urls: Seq[String]): Map[String, Extracted] =
    pages.filter(col("url").isin(urls: _*))
      .select(col("url"), col("html"), col("text"), unix_micros(col("warc_ts")))
      .collect().map { r =>
        val ts = if (r.isNullAt(3)) Long.MinValue else r.getLong(3)
        val x = graft.extract.Extractor.extract(r.getAs[Array[Byte]](1), r.getString(2), ts)
        r.getString(0) -> Extracted(r.getString(0), x.extractedText,
          x.spans.map(s => (s.start, s.end, s.kind)),
          x.links.map(l => (l.page, l.anchor, l.target)))
      }.toMap

  def sampleEqual(committed: Map[String, Extracted], driver: Map[String, Extracted]): Seq[String] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    if (driver.isEmpty) return Seq("empty url sample")
    driver.toSeq.sortBy(_._1).flatMap { case (u, d) =>
      committed.get(u) match {
        case None => Seq(s"sample url $u missing from committed table")
        case Some(c) =>
          (if (!java.util.Arrays.equals(c.text.getBytes(utf8), d.text.getBytes(utf8)))
            Seq(s"extracted_text differs for $u") else Nil) ++
          (if (c.spans != d.spans) Seq(s"spans differ for $u") else Nil) ++
          (if (c.links != d.links) Seq(s"links differ for $u") else Nil)
      }
    }
  }

  def prunedEqualsFull(label: String, pruned: Digest, full: Digest): Seq[String] =
    if (pruned == full) Nil else Seq(s"pruned read $label differs from full scan: $pruned vs $full")

  /** Independent per-bucket (url, lang, warc_ts) min/max and row counts,
    * grouped by the bucket directory each committed file lives in. */
  def independentBounds(table: DataFrame): (Map[Int, BucketStats], Map[Int, Long]) = {
    val rows = table
      .withColumn("b", regexp_extract(input_file_name(), "bucket=([0-9]+)", 1).cast("int"))
      .groupBy("b").agg(min("url"), max("url"), min("lang"), max("lang"),
        date_format(min("warc_ts"), "yyyy-MM-dd HH:mm:ss"),
        date_format(max("warc_ts"), "yyyy-MM-dd HH:mm:ss"), count(lit(1)))
      .collect()
    def s(r: Row, i: Int) = if (r.isNullAt(i)) "" else r.getString(i)
    (rows.map(r => r.getInt(0) -> BucketStats(s(r, 1), s(r, 2), s(r, 3), s(r, 4), s(r, 5), s(r, 6))).toMap,
      rows.map(r => r.getInt(0) -> r.getLong(7)).toMap)
  }

  def boundsEqual(manifest: Map[Int, BucketStats], independent: Map[Int, BucketStats]): Seq[String] =
    (manifest.keySet ++ independent.keySet).toSeq.sorted.flatMap { b =>
      if (manifest.get(b) == independent.get(b)) Nil
      else Seq(s"bucket $b manifest bounds ${manifest.get(b)} != groupBy ${independent.get(b)}")
    }

  // ---- query results --------------------------------------------------------

  /** Canonical text of a value; doubles rounded to 9 significant digits so
    * the digest does not depend on floating-point summation order. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Order-independent digest of collected rows. */
  def rowsDigest(rows: Array[Row]): Digest = {
    var acc = 0L
    rows.foreach { r =>
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(canon(r).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      acc += java.nio.ByteBuffer.wrap(h).getLong
    }
    Digest(rows.length.toLong, acc)
  }

  /** Every pass agrees per query, and with `expected` where given. */
  def queryDigests(passes: Seq[Map[String, Digest]], expected: Map[String, Digest]): Seq[String] = {
    val names = passes.flatMap(_.keySet).distinct.sorted
    names.flatMap { n =>
      val seen = passes.flatMap(_.get(n)).distinct
      (if (seen.size > 1) Seq(s"query $n differs across passes: ${seen.mkString(", ")}") else Nil) ++
        (expected.get(n) match {
          case Some(e) if seen.exists(_ != e) => Seq(s"query $n result ${seen.mkString(", ")} != expected $e")
          case _ => Nil
        })
    } ++ expected.keySet.toSeq.sorted.filterNot(names.contains).map(n => s"query $n was not run")
  }
}
