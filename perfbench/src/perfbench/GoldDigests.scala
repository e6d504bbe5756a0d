package perfbench

import java.math.MathContext
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** Reference digests of the refresh workload's gold tables, one set per
  * seed, taken from a known-good engine and kept in `gold_digests.tsv`.
  * The same-run oracle shares `OsrsPipeline.run` with the program under
  * test, so only these catch a change in the reports themselves.
  *
  * A table's digest is a SHA-256 over its rows' canonical text, sorted, so
  * row order does not move it. Doubles are rounded to 9 significant
  * digits, so summation order does not move it either, and timestamps are
  * written as UTC instants, so the JVM's time zone does not.
  */
object GoldDigests {

  private val digits = new MathContext(9)

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d == 0.0) "0"
      else if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(digits).toString
    case f: Float => canon(f.toDouble)
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${canon(k)}->${canon(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("(", ",", ")")
    case o => o.toString
  }

  /** 16 hex digits of the SHA-256 over the sorted canonical rows. */
  def table(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { s => md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** The reference file: one `seed<TAB>table<TAB>digest` line per table;
    * `#` starts a comment.
    */
  def load(p: Path): Map[Long, Map[String, String]] = {
    require(Files.isRegularFile(p), s"no reference digests at $p")
    Files.readAllLines(p).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t'))
      .groupBy(_(0).toLong)
      .map { case (seed, ls) => seed -> ls.map(a => a(1) -> a(2)).toMap }
  }

  def lines(seed: Long, digests: Map[String, String]): Seq[String] =
    digests.toSeq.sorted.map { case (t, d) => s"$seed\t$t\t$d" }

  /** Names of the tables whose digest differs from the reference. */
  def mismatches(ref: Map[String, String], gold: Map[String, Array[Row]]): Seq[String] =
    ref.keys.toSeq.sorted.filter(n => !gold.get(n).map(table).contains(ref(n)))
}
