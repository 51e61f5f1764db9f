package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** (files, bytes) of the parquet data files under `p`. */
  def parquetFiles(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator.asScala.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (non-empty). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p50/p75/p90/p95/p99 that leaves at least ten
    * samples above it, as (percentile, value). */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10.0)
      .map(p => p -> quantile(xs, p / 100.0))

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 + 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Text that is already JSON. */
  final case class Raw(json: String)

  def json(v: Any): String = v match {
    case Raw(j) => j
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case None => "null"
    case Some(x) => json(x)
    case m: Map[_, _] => m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
