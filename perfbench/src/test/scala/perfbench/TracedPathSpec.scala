package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import graft.exec.{CubeRunner, DatabaseRegistry, PlanCache}
import graft.model.Cube
import graft.sources.Catalog
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The traced run replaces `CubeRunner.execute` with its public steps;
  * for every document shape the steps must answer exactly like the
  * runner and make the same cache decision. */
class TracedPathSpec extends AnyFunSuite {
  private lazy val spark = Main.session()
  private lazy val work = Files.createTempDirectory(
    Files.createDirectories(Paths.get("target")), "perfbench-spec")
  private lazy val dataDir = Data.ensure(spark, work)
  private lazy val registry = DatabaseRegistry.paths(Map("bench" -> dataDir), "bench")

  private def check(cubeFor: (SparkSession, Catalog) => Cube, req: Req): Unit = {
    val runnerCache = new PlanCache()
    val stepsCache = new PlanCache()
    val r = CubeRunner.execute(spark, registry, cubeFor, req.doc, cache = Some(runnerCache))
    val tracer = new Tracer
    val s = tracer.request(1L, "exec.request") {
      Steps.run(spark, registry, cubeFor, req.doc, Some(stepsCache), Some(tracer))
    }
    assert(s.columns == r.columns, req.shape)
    def canon(rows: Seq[org.apache.spark.sql.Row]) = rows.map(_.toString).sorted
    assert(canon(s.rows) == canon(r.rows), req.shape)
    assert(r.rows.nonEmpty, s"${req.shape} answered no rows")
    val runnerCached = runnerCache.misses == 1
    assert(s.cacheable == runnerCached, s"${req.shape}: cache decision differs")
    assert(s.hit.contains(false) == runnerCached, req.shape)
    val names = tracer.all.map(_.name).toSet
    assert(Set("exec.request", "exec.catalog", "cubes.build", "parse", "compile",
      "respond.nest", "respond.collect").subsetOf(names), names)
    assert(names.contains("exec.plancache") == runnerCached)
  }

  test("dash shapes: steps == CubeRunner.execute, and both cache the plan") {
    val r = new Random(5)
    (0 until Requests.DashShapes).foreach { i =>
      val req = Requests.dash(i, r)
      check(Run.dashCubes(req.cube), req)
    }
  }

  test("lake shapes: steps == CubeRunner.execute, and neither caches a manifested plan") {
    val table = work.resolve("lake").toString
    Lake.create(spark, dataDir, table)
    val pinned = new ThreadLocal[java.lang.Long]()
    val cubeFor = Lake.cubeFor(table, pinned, f => f)
    val r = new Random(5)
    (0 until Requests.LakeShapes).foreach(i => check(cubeFor, Requests.lake(i, r)))
  }
}
