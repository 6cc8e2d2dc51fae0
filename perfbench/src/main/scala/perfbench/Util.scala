package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

object Util {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally w.close()
  }

  def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try w.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally w.close()
  }

  def ms(ns: Long): Double = ns / 1e6

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (Python `statistics.quantiles`
    * inclusive method); 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Leaf values of a (possibly nested) response row, in column order. */
  def leaves(r: Row): Seq[Any] = r.toSeq.flatMap {
    case nested: Row => leaves(nested)
    case v => Seq(v)
  }

  /** Memory the process still holds after full collections, MB: live
    * heap plus class metadata (generated classes land there). Unlike the
    * resident set, it does not depend on when the collector ran. Spark's
    * ContextCleaner frees broadcast and shuffle blocks on its own thread
    * only after a collection found their handles unreachable, so this
    * collects several times with pauses and keeps the lowest figure. */
  def retainedMb(): Double = {
    import java.lang.management.ManagementFactory
    (0 until 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      val meta = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum
      (heap + meta) / 1048576.0
    }.min
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case null | None => "null"
    case Some(x) => json(x)
    case other => json(other.toString)
  }
}
