package perfbench

import java.nio.file.{Files, Path, Paths}

/** Sample statistics, interval arithmetic and a minimal JSON writer. */
object Stats {

  /** Nearest-rank percentile (p in 0..100) of unsorted samples. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size - 1, math.max(0, rank - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean of no or non-positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `[s, e)` covered by the union of `iv`. */
  def coveredMs(s: Long, e: Long, iv: Seq[(Long, Long)]): Long =
    unionMs(iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) })
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Serialises Map / Seq / String / numbers / Boolean / null. Doubles keep
    * every digit (`Double.toString`), non-finite values become null.
    */
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Fs {
  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def fresh(p: String): String = {
    val path = Paths.get(p)
    rmTree(path)
    Files.createDirectories(path)
    p
  }

  /** Parquet data files of a directory (no Spark metadata or checksums). */
  def parquetFiles(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
    } finally s.close()
  }

  def sizeOf(files: Seq[Path]): Long = files.map(Files.size).sum
}
