package perfbench

import scala.util.Random

/** One front-door request: a GraphQL-shaped query document over one
  * cube, with its selector literals kept alongside so the expected
  * answer can be computed without the cube compiler. */
sealed trait Req {
  def shape: String
  def cube: String
  def doc: String
}

object Req {
  def date(day: Int): String = Data.DayZero.plusDays(day.toLong).toString
  def hour(h: Int): String =
    Data.EventZero.plusHours(h.toLong).toString.replace('T', ' ') + ":00"
}
import Req.{date, hour}

/** Lineitem, flat: slice by flag and ship year, metric FILTER on quantity,
  * ship-date window. */
final case class LineFlat(qty: Int, day: Int, span: Int) extends Req {
  def shape = "line_flat"; def cube = "lineitem"
  def doc: String =
    s"""{"fields": [{"name": "returnFlag", "alias": "flag"},
       |  {"name": "shipDate", "fields": [{"name": "year"}]},
       |  {"name": "count", "alias": "cnt"},
       |  {"name": "amount", "args": {"quantity": {"gt": $qty}}}],
       | "args": {"shipDate": {"between": ["${date(day)}", "${date(day + span)}"]},
       |  "options": {"asc": "flag"}}}""".stripMargin
}

/** Lineitem, `any:` OR-tree over part key and discount. */
final case class LineAny(partLt: Int, discPct: Int) extends Req {
  def shape = "line_any"; def cube = "lineitem"
  def doc: String =
    s"""{"fields": [{"name": "lineStatus", "alias": "status"},
       |  {"name": "count", "alias": "cnt"}, {"name": "sumQty"}, {"name": "maxPrice"}],
       | "args": {"any": [{"partKey": {"lt": $partLt}},
       |  {"discount": {"gteq": ${discPct / 100.0}}}],
       |  "options": {"asc": "status"}}}""".stripMargin
}

/** Lineitem joined to part: slice by brand over a part-key range. */
final case class LinePart(lo: Int, width: Int) extends Req {
  def shape = "line_part"; def cube = "lineitem"
  def doc: String =
    s"""{"fields": [{"name": "partBrand", "alias": "brand"},
       |  {"name": "count", "alias": "cnt"}, {"name": "avgQty"}],
       | "args": {"partKey": {"between": [$lo, ${lo + width}]},
       |  "options": {"asc": "brand"}}}""".stripMargin
}

/** Orders star join orders→customer→nation→region. */
final case class OrdersStar(day: Int, span: Int, priceK: Int) extends Req {
  def shape = "orders_star"; def cube = "orders"
  def doc: String =
    s"""{"fields": [{"name": "regionName", "alias": "region"},
       |  {"name": "mktSegment", "alias": "seg"},
       |  {"name": "count", "alias": "cnt"}, {"name": "revenue"}],
       | "args": {"orderDate": {"between": ["${date(day)}", "${date(day + span)}"]},
       |  "totalPrice": {"gt": ${priceK * 1000}},
       |  "options": {"asc": "region"}}}""".stripMargin
}

/** Events as a GraphQL union: per-row `__typename` from the event type,
  * member-only fields null on other members' rows. */
final case class EventsUnion(fromHour: Int, spanHours: Int, minValue: Int) extends Req {
  def shape = "events_union"; def cube = "events"
  def doc: String =
    s"""{"union": true,
       | "discriminator": {"on": "etype",
       |  "mapping": {"purchase": "PurchaseStats", "signup": "SignupStats"},
       |  "default": "EventStats"},
       | "args": {"ts": {"between": ["${hour(fromHour)}", "${hour(fromHour + spanHours)}"]},
       |  "value": {"gteq": $minValue}, "options": {"asc": "etype"}},
       | "fields": [{"name": "__typename"}, {"name": "eventType", "alias": "etype"},
       |  {"name": "count", "alias": "cnt"},
       |  {"name": "sumValue", "alias": "revenue", "onType": "PurchaseStats"},
       |  {"name": "avgValue", "alias": "avg_val", "onType": "SignupStats"}]}""".stripMargin
}

/** Documents: token totals per source over a document-length window. */
final case class DocsSource(lo: Int, width: Int) extends Req {
  def shape = "docs_source"; def cube = "documents"
  def doc: String =
    s"""{"fields": [{"name": "source"}, {"name": "count", "alias": "cnt"},
       |  {"name": "sumTokens"}],
       | "args": {"nChars": {"between": [$lo, ${lo + width}]},
       |  "options": {"asc": "source"}}}""".stripMargin
}

/** Manifested lineitem copy: key-range read (file admission on `k`). */
final case class LakeKeys(lo: Long, width: Int) extends Req {
  def shape = "lake_keys"; def cube = "lake"
  def doc: String =
    s"""{"fields": [{"name": "flag"}, {"name": "count", "alias": "cnt"},
       |  {"name": "sumQty"}],
       | "args": {"key": {"between": [$lo, ${lo + width}]},
       |  "options": {"asc": "flag"}}}""".stripMargin
}

/** Manifested lineitem copy: full-table read with a quantity filter. */
final case class LakeQty(qty: Int) extends Req {
  def shape = "lake_qty"; def cube = "lake"
  def doc: String =
    s"""{"fields": [{"name": "status"}, {"name": "shipDate", "fields": [{"name": "year"}]},
       |  {"name": "count", "alias": "cnt"}, {"name": "amount"}],
       | "args": {"quantity": {"gt": $qty}, "options": {"asc": "status"}}}""".stripMargin
}

/** Seeded request streams. A stream depends only on (seed, client), so
  * the same seed replays the same documents in the same order. */
object Requests {
  val DashShapes = 6
  val LakeShapes = 2

  /** Fresh literals for dash shape `s`. Each shape's literal domain is
    * far larger than the plan cache's 128 entries. */
  def dash(s: Int, r: Random): Req = s match {
    case 0 => LineFlat(1 + r.nextInt(49), r.nextInt(Data.Days - 400), Seq(30, 91, 365)(r.nextInt(3)))
    case 1 => OrdersStar(r.nextInt(Data.Days - 400), Seq(30, 91, 365)(r.nextInt(3)), r.nextInt(400))
    case 2 => EventsUnion(r.nextInt(Data.EventHours - 72), Seq(6, 24, 72)(r.nextInt(3)), r.nextInt(100))
    case 3 => DocsSource(40 + r.nextInt(360), Seq(50, 150, 400)(r.nextInt(3)))
    case 4 => LineAny(r.nextInt(Data.Parts.toInt), r.nextInt(11))
    case 5 => LinePart(r.nextInt(Data.Parts.toInt - 500), Seq(25, 100, 500)(r.nextInt(3)))
  }

  def lake(s: Int, r: Random): Req = s match {
    case 0 => LakeKeys(r.nextInt(Lake.Rows.toInt - 2000).toLong, Seq(500, 2000)(r.nextInt(2)))
    case 1 => LakeQty(r.nextInt(50))
  }

  /** The fixed working set of `dash_repeat`: one document per shape. */
  def dashFixed(seed: Long): IndexedSeq[Req] = {
    val r = new Random(seed)
    (0 until DashShapes).map(dash(_, r))
  }

  /** Client `client`'s request stream. Clients start at different shapes
    * so the shapes interleave across clients. */
  def stream(workload: String, seed: Long, client: Int): Iterator[Req] = workload match {
    case "dash_repeat" =>
      val fixed = dashFixed(seed)
      Iterator.from(0).map(k => fixed((client + k) % DashShapes))
    case "dash_vary" =>
      val r = new Random(seed * 1000003L + client)
      Iterator.from(0).map(k => dash((client + k) % DashShapes, r))
    case "lake_mixed" =>
      val r = new Random(seed * 1000003L + client)
      Iterator.from(0).map(k => lake(k % LakeShapes, r))
  }

  /** The cold pass: one request per shape, drawn from the seed. */
  def coldPass(workload: String, seed: Long): Seq[Req] = workload match {
    case "lake_mixed" =>
      val r = new Random(seed ^ 0x5eedL)
      (0 until LakeShapes).map(lake(_, r))
    case _ => dashFixed(seed)
  }
}
