package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** Front-door benchmark entry point.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *   perfbench.Main --prepare 1 --work <dir>
  * }}}
  * `--prepare` only generates the tables. A run prints the per-layer
  * report (traced runs) and then, as its last stdout line, the result
  * JSON. */
object Main {
  val Workloads = Seq("dash_repeat", "dash_vary", "lake_mixed")

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val work = Paths.get(opts.getOrElse("work", sys.error("--work is required"))).toAbsolutePath
    if (opts.contains("prepare")) {
      val spark = session()
      try Data.ensure(spark, work) finally spark.stop()
      return
    }
    val a = Args(opts("workload"), opts("seed").toLong, opts("seconds").toInt,
      opts("trace") == "1", work)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val spark = session()
    try println(new Run(spark, a).go())
    finally spark.stop()
  }
}
