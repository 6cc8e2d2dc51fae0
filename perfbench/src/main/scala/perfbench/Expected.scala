package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A cell of an expected response: exact, or numeric within `tol`
  * (sums and averages are summed in another order than Spark's). */
final case class Approx(v: Double, tol: Double)

/** Expected answers for the dash shapes, computed in plain Scala over
  * columns read straight from the parquet files — no cube, parser or
  * compiler involved. Built after the timed region. */
final class Expected(spark: SparkSession, dir: String) {
  private def rows(table: String, cols: String*) =
    spark.read.parquet(s"$dir/$table.parquet").select(cols.head, cols.tail: _*).collect()

  private object li {
    private val r = rows("lineitem", "l_partkey", "l_quantity", "l_extendedprice",
      "l_discount", "l_returnflag", "l_linestatus", "l_shipdate")
    val n = r.length
    val part = r.map(_.getLong(0).toInt)
    val qty = r.map(_.getDouble(1))
    val price = r.map(_.getDouble(2))
    val disc = r.map(_.getDouble(3))
    val flag = r.map(_.getString(4))
    val status = r.map(_.getString(5))
    val day = r.map(x => Data.dayOf(x.getTimestamp(6)))
  }
  private lazy val brand: Map[Int, String] =
    rows("part", "p_partkey", "p_brand").map(x => x.getLong(0).toInt -> x.getString(1)).toMap
  private lazy val custOf: Map[Long, (String, Int)] =
    rows("customer", "c_custkey", "c_mktsegment", "c_nationkey")
      .map(x => x.getLong(0) -> (x.getString(1), x.getInt(2))).toMap
  private lazy val regionOfNation: Map[Int, String] = {
    val reg = rows("region", "r_regionkey", "r_name").map(x => x.getInt(0) -> x.getString(1)).toMap
    rows("nation", "n_nationkey", "n_regionkey").map(x => x.getInt(0) -> reg(x.getInt(1))).toMap
  }
  private lazy val orders = rows("orders", "o_custkey", "o_totalprice", "o_orderdate")
    .map(x => (x.getLong(0), x.getDouble(1), Data.dayOf(x.getTimestamp(2))))
  private lazy val events = rows("events", "ts", "event_type", "value")
    .map(x => (x.getTimestamp(0).getTime / 1000L, x.getString(1), x.getDouble(2)))
  private lazy val docs = rows("documents", "source", "n_chars", "text")
    .map(x => (x.getString(0), x.getLong(1), x.getString(2).trim.split("\\s+").length.toLong))

  private def money(s: Option[Double]): Any = s.map(v => Approx(v, 0.011)).orNull

  /** Expected leaf rows, in the document's field order. */
  def apply(req: Req): Seq[Seq[Any]] = req match {
    case LineFlat(q, d, span) =>
      val g = mutable.Map.empty[(String, Int), (Long, Option[Double])]
      var i = 0
      while (i < li.n) {
        if (li.day(i) >= d && li.day(i) <= d + span) {
          val k = (li.flag(i), Data.yearOf(li.day(i)))
          val (c, s) = g.getOrElse(k, (0L, None))
          g(k) = (c + 1, if (li.qty(i) > q) Some(s.getOrElse(0.0) + li.price(i)) else s)
        }
        i += 1
      }
      g.toSeq.map { case ((f, y), (c, s)) => Seq(f, y, c, money(s)) }
    case LineAny(partLt, discPct) =>
      val g = mutable.Map.empty[String, (Long, Double, Double)]
      var i = 0
      while (i < li.n) {
        if (li.part(i) < partLt || li.disc(i) >= discPct / 100.0) {
          val (c, s, m) = g.getOrElse(li.status(i), (0L, 0.0, Double.MinValue))
          g(li.status(i)) = (c + 1, s + li.qty(i), math.max(m, li.price(i)))
        }
        i += 1
      }
      g.toSeq.map { case (st, (c, s, m)) => Seq(st, c, Approx(s, 1e-6 * math.max(1.0, s)), m) }
    case LinePart(lo, width) =>
      val g = mutable.Map.empty[String, (Long, Double)]
      var i = 0
      while (i < li.n) {
        if (li.part(i) >= lo && li.part(i) <= lo + width) {
          val b = brand(li.part(i))
          val (c, s) = g.getOrElse(b, (0L, 0.0))
          g(b) = (c + 1, s + li.qty(i))
        }
        i += 1
      }
      g.toSeq.map { case (b, (c, s)) => Seq(b, c, Approx(s / c, 2e-6)) }
    case OrdersStar(d, span, priceK) =>
      val g = mutable.Map.empty[(String, String), (Long, Double)]
      orders.foreach { case (cust, price, day) =>
        if (day >= d && day <= d + span && price > priceK * 1000) {
          val (seg, nation) = custOf(cust)
          val k = (regionOfNation(nation), seg)
          val (c, s) = g.getOrElse(k, (0L, 0.0))
          g(k) = (c + 1, s + price)
        }
      }
      g.toSeq.map { case ((r, seg), (c, s)) => Seq(r, seg, c, Approx(s, 0.011)) }
    case EventsUnion(h, span, minValue) =>
      val lo = Data.EventZero.toEpochSecond(java.time.ZoneOffset.UTC) + h * 3600L
      val hi = lo + span * 3600L
      val g = mutable.Map.empty[String, (Long, Double)]
      events.foreach { case (ts, et, v) =>
        if (ts >= lo && ts <= hi && v >= minValue) {
          val (c, s) = g.getOrElse(et, (0L, 0.0))
          g(et) = (c + 1, s + v)
        }
      }
      g.toSeq.map { case (et, (c, s)) =>
        val tn = et match {
          case "purchase" => "PurchaseStats"; case "signup" => "SignupStats"; case _ => "EventStats"
        }
        Seq(tn, et, c,
          if (et == "purchase") Approx(s, 0.011) else null,
          if (et == "signup") Approx(s / c, 2e-4) else null)
      }
    case DocsSource(lo, width) =>
      val g = mutable.Map.empty[String, (Long, Long)]
      docs.foreach { case (src, nChars, tokens) =>
        if (nChars >= lo && nChars <= lo + width) {
          val (c, t) = g.getOrElse(src, (0L, 0L))
          g(src) = (c + 1, t + tokens)
        }
      }
      g.toSeq.map { case (src, (c, t)) => Seq(src, c, t) }
    case other => throw new IllegalArgumentException(s"no dash oracle for $other")
  }
}

object Expected {
  /** Compare a response (leaf rows) with the expected rows, ignoring row
    * order. Returns a mismatch description, or None when they agree. */
  def diff(actual: Seq[Seq[Any]], expected: Seq[Seq[Any]]): Option[String] = {
    def key(r: Seq[Any]): String = r.map {
      case _: Approx | _: Double | null => ""
      case v => v.toString
    }.mkString("\u0001")
    if (actual.size != expected.size)
      return Some(s"${actual.size} rows, expected ${expected.size}")
    val a = actual.sortBy(key)
    val e = expected.sortBy(key)
    a.zip(e).collectFirst(Function.unlift { case (ra, re) =>
      if (ra.size != re.size) Some(s"row $ra, expected $re")
      else if (ra.zip(re).forall { case (x, y) => same(x, y) }) None
      else Some(s"row $ra, expected $re")
    })
  }

  private def same(a: Any, e: Any): Boolean = (a, e) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Number, Approx(v, tol)) => math.abs(x.doubleValue - v) <= tol
    case (x: Number, y: Number) => x.doubleValue == y.doubleValue
    case (x, y) => x == y
  }
}
