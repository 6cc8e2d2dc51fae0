package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import graft.cubes.Cubes
import graft.exec.{CubeRunner, DatabaseRegistry, PlanCache}
import graft.model.Cube
import graft.sources.Catalog
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

/** One completed operation: a front-door read (`req` set) or a lake
  * write (`verb` set). `id` is also the request id of its spans. Phase 0
  * is the cold pass, 1 the warm-up, 2 the measured window. The
  * `lake_mixed` cold pass ends with one whole verb cycle, which warms
  * the writes. Arm 0 is `CubeRunner.execute`, 1 its
  * steps called bare, 2 its steps traced. `leaves` holds the response
  * until it is checked. */
final case class Op(id: Long, phase: Int, arm: Int, req: Option[Req], verb: Option[String],
    startNs: Long, endNs: Long, error: Option[String], rows: Int, leaves: Seq[Seq[Any]],
    version: Long, cacheHit: Option[Boolean], filesRead: Long = -1L) {
  def ms: Double = Util.ms(endNs - startNs)
  def shape: String = req.map(_.shape).orElse(verb).get
}

object Run {
  /** The engine's cube declarations the dash documents query. */
  val dashCubes: Map[String, (SparkSession, Catalog) => Cube] = Map(
    "lineitem" -> ((s: SparkSession, c: Catalog) => Cubes.lineitemCube(s, c)),
    "orders" -> ((s: SparkSession, c: Catalog) => Cubes.ordersCube(s, c)),
    "events" -> ((s: SparkSession, c: Catalog) => Cubes.eventsCube(s, c)),
    "documents" -> ((s: SparkSession, c: Catalog) => Cubes.documentsCube(s, c)))
}

/** Runs one workload once and returns the result line. */
final class Run(spark: SparkSession, a: Args) {
  val dash = a.workload.startsWith("dash_")
  /** Concurrent clients of the `dash_*` workloads: half the cores. One
    * per core saturates the CPU, and the latency then follows the host's
    * CPU contention: in paired runs on 4 vCPUs, `dash_repeat`'s p50
    * ranged 48–64 ms with 4 clients and 33–41 ms with 2. */
  val clients: Int = math.max(1, Runtime.getRuntime.availableProcessors / 2)
  /** Reads between the cold pass and the window, counted rather than
    * timed, because the JIT compiles after a number of calls, not of
    * seconds. It runs as many clients as the `dash_*` window: with one
    * per core, the first seconds of that window still carried the
    * warm-up's load. Sized from long windows on 4 vCPUs, whose latency fell
    * until about these counts and then held: `dash_repeat` 50 ms → 25 ms
    * over ~800 requests, `dash_vary` 430 ms → 290 ms over ~100,
    * `lake_mixed` 670 ms → 440 ms over ~50 reads past its cold cycle. */
  val warmupReads: Int = Map("dash_repeat" -> 800, "dash_vary" -> 100, "lake_mixed" -> 48)(a.workload)
  val setups = 3

  private val runDir = a.work.resolve("run")
  Util.deleteTree(runDir)
  Files.createDirectories(runDir)
  private val dataDir = Data.ensure(spark, a.work)

  private val tracer = new Tracer
  private val catalyst = new Catalyst
  private val counters = new SparkCounters
  private val ops = new ConcurrentLinkedQueue[Op]()
  private val reqIds = new AtomicLong(0)

  private val pinned = new ThreadLocal[java.lang.Long]()

  /** What the program needs before it serves: a session, the database
    * registry, the cubes (their sources resolved) and the plan cache;
    * for `lake_mixed` also the manifested table. */
  final class Env(val s: SparkSession, val registry: DatabaseRegistry,
      val cache: Option[PlanCache], val lakeTable: Option[String]) {
    val lakeCube: Option[(SparkSession, Catalog) => Cube] =
      lakeTable.map(t => Lake.cubeFor(t, pinned, f => tracer.within("sources.snapshot")(f)))
    def cubeFor(req: Req): (SparkSession, Catalog) => Cube =
      if (req.cube == "lake") lakeCube.get else Run.dashCubes(req.cube)
  }

  private def setup(i: Int): Env = {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val registry = DatabaseRegistry.paths(Map("bench" -> dataDir), "bench")
    val cat = registry.catalog(None)
    if (dash) {
      Run.dashCubes.values.foreach(_(s, cat))
      new Env(s, registry, Some(new PlanCache()), None)
    } else {
      val table = runDir.resolve(s"lake-$i").toString
      Lake.create(s, dataDir, table)
      val env = new Env(s, registry, None, Some(table))
      env.lakeCube.get(s, cat)
      env
    }
  }

  private def read(env: Env, phase: Int, arm: Int, req: Req): Op = {
    val id = reqIds.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val (rows, hit, files) = arm match {
        case 0 =>
          val r = CubeRunner.execute(env.s, env.registry, env.cubeFor(req), req.doc,
            cache = env.cache)
          (r.rows, None, -1L)
        case _ =>
          val out =
            if (arm == 1) Steps.run(env.s, env.registry, env.cubeFor(req), req.doc, env.cache, None)
            else tracer.request(id, "exec.request") {
              Steps.run(env.s, env.registry, env.cubeFor(req), req.doc, env.cache, Some(tracer))
            }
          catalyst.record(out.df, count = phase == 2)
          (out.rows, out.hit, if (req.cube == "lake") Scan.filesRead(out.df) else -1L)
      }
      val t1 = System.nanoTime()
      val version = if (req.cube == "lake") pinned.get.longValue else -1L
      Op(id, phase, arm, Some(req), None, t0, t1, None, rows.size, rows.map(Util.leaves),
        version, hit, files)
    } catch {
      case e: Exception =>
        Op(id, phase, arm, Some(req), None, t0, System.nanoTime(), Some(e.toString), 0, Nil,
          -1L, None)
    }
  }

  private def write(w: Lake.Writer, phase: Int, traced: Boolean): Op = {
    val verb = w.upcoming
    val id = reqIds.incrementAndGet()
    val t0 = System.nanoTime()
    val err =
      try {
        if (traced) tracer.request(id, s"sources.$verb")(w.next())
        else w.next()
        None
      } catch { case e: Exception => Some(e.toString) }
    Op(id, phase, if (traced) 2 else 0, None, Some(verb), t0, System.nanoTime(), err, 0, Nil,
      -1L, None)
  }

  private def arm(phase: Int, k: Int, block: Int): Int =
    if (!a.trace) 0 else if (phase < 2) 2 else (k / block) % 3

  /** Closed-loop reading clients while `more()`; each sends its next
    * request when the previous one returns. The `dash_*` clients, and
    * the warm-up of every workload (`lake_mixed` reads only pinned
    * snapshots, so its warm-up reads may run side by side). */
  private def clientLoop(env: Env, phase: Int, seed: Long, n: Int)(more: () => Boolean): Unit = {
    val threads = (0 until n).map { c =>
      new Thread(() => {
        val stream = Requests.stream(a.workload, seed, c)
        var k = 0
        while (more()) {
          ops.add(read(env, phase, arm(phase, k, Requests.DashShapes), stream.next()))
          k += 1
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** `lake_mixed`: one closed-loop client that runs each write verb in
    * turn with `readsPerWrite` reads after it, alternating the lake
    * shapes, in whole verb cycles (at least one) until the deadline, so
    * every window holds the same mix. */
  private def lakeLoop(env: Env, w: Lake.Writer, phase: Int, seconds: Double,
      seed: Long, readsPerWrite: Int): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val stream = Requests.stream(a.workload, seed, 0)
    var k = 0
    while ({
      w.verbs.foreach { _ =>
        ops.add(write(w, phase, a.trace))
        (0 until readsPerWrite).foreach { _ =>
          ops.add(read(env, phase, arm(phase, k, Requests.LakeShapes), stream.next()))
          k += 1
        }
      }
      System.nanoTime() < deadline
    }) ()
  }

  private def uptime: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Listener counters and codegen totals, once the listener bus has
    * delivered every event so far. */
  private def sparkMark(): (Map[String, Long], Codegen.Mark) = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    (counters.snapshot, Codegen.mark())
  }

  def go(): String = {
    val t0 = uptime
    val setupNs = (0 until setups).map { i =>
      val t0 = System.nanoTime()
      val env = setup(i)
      (System.nanoTime() - t0, env)
    }
    val env = setupNs.last._2
    val setupS = Util.median(setupNs.map(_._1 / 1e9))
    val tSetup = uptime
    val writer = env.lakeTable.map(t => new Lake.Writer(env.s, t, a.seed,
      Lake.initialModel(env.s, dataDir)))

    if (a.trace) spark.sparkContext.addSparkListener(counters)
    val cold0 = System.nanoTime()
    Requests.coldPass(a.workload, a.seed).foreach(r =>
      ops.add(read(env, 0, if (a.trace) 2 else 0, r)))
    writer.foreach(w => lakeLoop(env, w, 0, 0.0, a.seed + 1000003L, 1))
    val coldS = (System.nanoTime() - cold0) / 1e9
    val warmSeed = a.seed + 2000003L
    val left = new AtomicInteger(warmupReads)
    clientLoop(env, 1, warmSeed, clients)(() => left.getAndDecrement() > 0)
    val tWarm = uptime
    val mark0 = if (a.trace) Some(sparkMark()) else None
    val m0 = System.nanoTime()
    writer match {
      case Some(w) => lakeLoop(env, w, 2, a.seconds.toDouble, a.seed, Lake.ReadsPerWrite)
      case None =>
        val deadline = m0 + a.seconds * 1000000000L
        clientLoop(env, 2, a.seed, clients)(() => System.nanoTime() < deadline)
    }
    val m1 = System.nanoTime()
    val window = mark0.map { case (c0, g0) =>
      val (c1, g1) = sparkMark()
      (c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0L)) }, g1 - g0)
    }
    val tMeasured = uptime

    val (all, failures) = checkAndDrop(writer)
    failures.take(5).foreach { case (_, why) => System.err.println(s"[perfbench] FAILED $why") }
    val failed = failures.map(_._1).toSet
    val retained = Util.retainedMb()
    java.lang.ref.Reference.reachabilityFence(env)
    Files.write(a.work.resolve(s"ops-${a.workload}-${a.seed}.tsv"),
      all.sortBy(_.startNs).map(o => Seq(o.phase, o.arm, o.shape, o.ms, !failed(o.id)).mkString("\t"))
        .mkString("phase\tarm\tshape\tms\tok\n", "\n", "\n").getBytes("UTF-8"))
    val tChecked = uptime
    val frozen = if (a.trace) Frozen.run(env.s, dataDir) else Nil
    val frozenFailed = frozen.filter(_.error.isDefined)
    frozenFailed.foreach(q => System.err.println(s"[perfbench] FAILED ${q.name}: ${q.error.get}"))

    val measured = all.filter(_.phase == 2)
    val windowS = (m1 - m0) / 1e9
    val reads = measured.filter(_.req.isDefined)
    val lat = reads.filter(_.error.isEmpty).map(_.ms)

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("req_p50_ms", Util.quantile(lat, 0.5), "ms"),
        ("req_p90_ms", Util.quantile(lat, 0.9), "ms"),
        ("req_per_s", reads.size / windowS, "1/s"),
        ("retained_mb", retained, "MB"))
      else new Report(all, tracer.all, window.get._1, catalyst, window.get._2, env, writer,
        frozen, a).layerMetrics()

    val attempted = all.size + frozen.size
    val nFailed = failures.size + frozenFailed.size
    System.err.println(f"[perfbench] ${a.workload} seed=${a.seed} trace=${a.trace} " +
      f"ops=${all.size} measured=${measured.size} reads=${reads.size} failed=$nFailed " +
      f"window=${windowS}%.2fs setup=${setupS}%.3fs cold=${coldS}%.3fs start $t0%.1f " +
      f"at: setup $tSetup%.1f warm $tWarm%.1f measured $tMeasured%.1f checked $tChecked%.1f " +
      f"end $uptime%.1f s")
    Util.json(scala.collection.immutable.ListMap(
      "correct" -> (nFailed == 0),
      "attempted" -> attempted,
      "failed" -> nFailed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, v, u) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*)))
  }

  /** Checks every operation, then lets go of what only the check needed:
    * the responses and the lake model. Returns the operations without
    * their responses, and the failures as (operation id, message). */
  private def checkAndDrop(writer: Option[Lake.Writer]): (Seq[Op], Seq[(Long, String)]) = {
    val all = ops.asScala.toSeq
    ops.clear()
    val failures = check(all, writer).map { case (op, why) => op.id -> s"${op.shape}: $why" }
    writer.foreach(_.dropStates())
    (all.map(_.copy(leaves = Nil)), failures)
  }

  /** Every response against its expected answer; every exception. */
  private def check(all: Seq[Op], writer: Option[Lake.Writer]): Seq[(Op, String)] = {
    lazy val oracle = new Expected(spark, dataDir)
    val memo = scala.collection.mutable.Map.empty[Req, Seq[Seq[Any]]]
    all.flatMap { op =>
      op.error.map(e => op -> e).orElse(op.req.flatMap { req =>
        val want =
          if (req.cube == "lake") writer.get.states.get(op.version).map(Lake.expected(req, _))
          else Some(memo.getOrElseUpdate(req, oracle(req)))
        want match {
          case None => Some(op -> s"no model state for version ${op.version}")
          case Some(w) => Expected.diff(op.leaves, w).map(d => op -> s"$d; doc ${req.doc}")
        }
      })
    }
  }
}
