package perfbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Canonical result hashes and small file helpers. */
object Canon {

  /** "<rows>:<sha256 prefix>" over the column names and every row in
    * result order, each value in one canonical text form. */
  def hash(df: DataFrame): String = {
    val rows = df.collect()
    val md = MessageDigest.getInstance("SHA-256")
    md.update(df.schema.fieldNames.mkString("\u0001").getBytes("UTF-8"))
    rows.foreach { r => md.update(("\n" + value(r)).getBytes("UTF-8")) }
    s"${rows.length}:" + md.digest().take(12).map(b => f"$b%02x").mkString
  }

  private def value(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Bytes of every file under `path`. */
  def duBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L) else f.length
    walk(new File(path))
  }

  def rmTree(path: String): Unit = {
    def walk(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      f.delete()
    }
    walk(new File(path))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with ten samples beyond it, 100 * (1 - 10 / n),
    * or the maximum (reported as percentile 100) when there are no more
    * than ten samples. Returns (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size <= 10) (100.0, if (xs.isEmpty) Double.NaN else xs.max)
    else {
      val p = 100 * (1 - 10.0 / xs.size)
      (p, quantile(xs, p / 100))
    }

  /** `<name>.p50`, `<name>.tail`, and the tail's percentile and sample count. */
  def summary(name: String, xs: Seq[Double]): Map[String, Double] = {
    val (p, v) = tail(xs)
    Map(s"$name.p50" -> median(xs), s"$name.tail" -> v,
      s"$name.tail_pct" -> p, s"$name.n" -> xs.size.toDouble)
  }
}

/** The run record's JSON, built with json4s. */
object Json {
  import org.json4s._
  import org.json4s.jackson.JsonMethods.{compact, render}

  /** A number, or null when it is not finite. */
  def num(v: Double): JValue = if (v.isNaN || v.isInfinite) JNull else JDouble(v)
  def nums(m: Iterable[(String, Double)]): JValue = JObject(m.map { case (k, v) => k -> num(v) }.toList)
  def strs(xs: Iterable[String]): JValue = JArray(xs.map(JString(_)).toList)
  def write(v: JValue): String = compact(render(v))
}
