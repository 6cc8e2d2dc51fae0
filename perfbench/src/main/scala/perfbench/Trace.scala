package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import graft.exec.{DatabaseRegistry, PlanCache}
import graft.model.Cube
import graft.parse.QueryParser
import graft.query.QueryOpt
import graft.respond.Renest
import graft.sources.Catalog
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One timed call into a layer. `parent` is 0 for a request's root. */
final case class Span(id: Long, parent: Long, req: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val req = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def request[T](id: Long, name: String)(f: => T): T = {
    req.set(id)
    span(name)(f)
  }

  def span[T](name: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val parents = stack.get
    stack.set(id :: parents)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.set(parents)
      spans.add(Span(id, parents.headOption.getOrElse(0L), req.get, name, t0, t1))
    }
  }

  /** A span when the calling thread is inside a traced request, else
    * a bare call (steps shared by traced and untraced requests). */
  def within[T](name: String)(f: => T): T = if (stack.get.isEmpty) f else span(name)(f)

  def all: Seq[Span] = { val b = Seq.newBuilder[Span]; spans.forEach(b += _); b.result() }
}

/** `CubeRunner.execute` replaced by its public steps, called in order:
  * `registry.catalog`, `cubeFor`, `QueryParser.parse`, `toDF`,
  * `Renest.nest`, `PlanCache.getOrCompile`, `Renest.tabular`. With a
  * tracer each step is a span; without one the steps run bare. */
object Steps {
  final case class Out(columns: Seq[String], rows: Seq[Row], df: DataFrame,
      cacheable: Boolean, hit: Option[Boolean])

  /** The runner's cache decision: plans whose metrics snapshot data,
    * statsOnly plans and manifested facts compile fresh every time. */
  def cacheable(cube: Cube, q: graft.query.CubeQuery): Boolean =
    q.measures.forall { case (_, m) =>
      !cube.metrics.get(m.metric).exists(_.snapshotsData) &&
        !cube.altSources.exists(_.metricOverrides.get(m.metric).exists(_.snapshotsData)) } &&
      !q.options.contains(QueryOpt.StatsOnly) &&
      cube.manifestTable.isEmpty

  def run(spark: SparkSession, registry: DatabaseRegistry,
      cubeFor: (SparkSession, Catalog) => Cube, json: String,
      cache: Option[PlanCache], tracer: Option[Tracer]): Out = {
    def sp[T](name: String)(f: => T): T = tracer match {
      case Some(t) => t.span(name)(f)
      case None => f
    }
    val cat = sp("exec.catalog")(registry.catalog(None))
    val cube = sp("cubes.build")(cubeFor(spark, cat))
    val parsed = sp("parse")(QueryParser.parse(cube, json))
    val q = parsed.query
    var built = false
    def build: DataFrame = {
      built = true
      val flat = sp("compile")(q.toDF)
      sp("respond.nest")(Renest.nest(flat, parsed.root, cube.name))
    }
    val ok = cacheable(cube, q)
    val df = cache match {
      case Some(c) if ok =>
        sp("exec.plancache")(c.getOrCompile(
          PlanCache.key(spark, cat.id, cube.name, true, q, parsed.root))(build))
      case _ => build
    }
    val (cols, rows) = sp("respond.collect")(Renest.tabular(df))
    Out(cols, rows, df, ok, if (cache.isDefined && ok) Some(!built) else None)
  }
}
