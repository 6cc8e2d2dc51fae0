package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** `queries` layer: frozen queries of `graft.Bench` (`Headline` and
  * `Lakehouse`), built by their registry builders over the benchmark's
  * tables. Each runs once cold, collected so its answer can be checked,
  * and once warm on the noop sink, the way `Bench` runs them. One or two
  * per engine module the front-door documents do not reach. Traced runs
  * only, after the measured window. */
object Frozen {
  val Names = Seq(
    "q22_topk_flat", // operators: per-group top-k
    "q43_session_window", // streaming: session windows
    "q195_curation_v4", // llm: curation pipeline
    "q208_merge_upsert", // sources: copy-on-write merge
    "q209_delete_vectors", // sources: merge-on-read delete vectors
    "q215_stream_upsert") // streaming: exactly-once upsert sink

  final case class Result(name: String, coldS: Double, warmS: Double, error: Option[String])

  def run(spark: SparkSession, dataDir: String): Seq[Result] = {
    val results = Names.map { name =>
      val build = SparkEntry.queries(name)
      try {
        val t0 = System.nanoTime()
        val rows = build(spark, dataDir).collect().toSeq
        val t1 = System.nanoTime()
        build(spark, dataDir).write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        Result(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, check(rows))
      } catch {
        case e: Exception => Result(name, -1.0, -1.0, Some(e.toString))
      }
    }
    removeScratchTables()
    results
  }

  /** The queries verify themselves: every claim they make is a boolean
    * column that must be true. */
  private def check(rows: Seq[org.apache.spark.sql.Row]): Option[String] =
    if (rows.isEmpty) Some("no rows")
    else rows.iterator.flatMap(r => r.schema.fieldNames.zip(r.toSeq)).collectFirst {
      case (col, false) => s"claim $col is false"
    }

  /** The lakehouse queries build their tables under the JVM's temporary
    * directory, one per call; remove them. */
  private def removeScratchTables(): Unit = {
    val tmp = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try tmp.filter(_.getFileName.toString.startsWith("graft_q_")).forEach(p => Util.deleteTree(p))
    finally tmp.close()
  }
}
