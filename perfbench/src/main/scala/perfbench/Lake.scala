package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.HashMap
import scala.util.Random

import graft.model.{Cube, Dimension, Metric, Selector}
import graft.sources.{Catalog, Manifest}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}

/** One live row of the manifested lineitem copy, as the benchmark's own
  * model of the table keeps it. */
final case class LakeRow(flag: String, status: String, qty: Double, price: Double, day: Int)

/** The `lake_mixed` table: a manifested copy of the first [[Lake.Rows]]
  * lineitem rows keyed by `k`, range-clustered on `k` into
  * [[Lake.FileCount]] files with min/max stats on `k`.
  *
  * The traffic follows the TPC-H specification's maintenance model. Its
  * refresh functions RF1 (insert) and RF2 (delete) each change 0.1% of
  * the fact rows (SF × 1500 orders and their lineitems), and the
  * throughput test runs one RF1/RF2 pair per query stream of 22
  * queries: 11 reads per write. Each of the four write verbs here
  * changes [[Lake.ChangeRows]] rows, and [[Lake.ReadsPerWrite]] reads
  * follow it. */
object Lake {
  val Rows = 30000L
  val FileCount = 4
  /** Rows one write changes: 0.1% of the table, as a TPC-H refresh function. */
  val ChangeRows: Int = (Rows / 1000).toInt
  /** Reads per write: a TPC-H query stream's 22 queries per refresh pair. */
  val ReadsPerWrite = 11

  /** A front-door cube over the manifested table. The fact is pinned to
    * the newest version at cube-build time, and that version is recorded
    * for the calling thread so the response can be checked against the
    * model of exactly that version. */
  def cubeFor(table: String, pinned: ThreadLocal[java.lang.Long],
      snapshotSpan: (=> DataFrame) => DataFrame): (SparkSession, Catalog) => Cube =
    (s, _) => {
      val fact = snapshotSpan {
        val v = Manifest.versions(s, table).last
        pinned.set(v)
        Manifest.readVersion(s, table, v)
      }
      Cube("lake", fact,
        dimensions = Map(
          "flag" -> Dimension("flag", F.col("flag")),
          "status" -> Dimension("status", F.col("status")),
          "shipDate" -> Dimension("shipDate", F.col("shipdate"),
            fields = Map("year" -> (c => F.year(c))))),
        metrics = Map(
          "count" -> Metric.countAll("count"),
          "sumQty" -> Metric.sumOf("sumQty", F.col("qty")),
          "amount" -> Metric.sumOf("amount", F.col("price")).mapValue(F.round(_, 2))),
        selectors = Map(
          "key" -> Selector("key", F.col("k")),
          "quantity" -> Selector("quantity", F.col("qty"))),
        manifestTable = Some(table))
    }

  /** The source rows, read straight from the lineitem parquet. */
  def source(spark: SparkSession, dataDir: String): DataFrame =
    spark.read.parquet(s"$dataDir/lineitem.parquet")
      .select(
        (F.col("l_orderkey") * 4 + F.col("l_linenumber") - 1).as("k"),
        F.col("l_returnflag").as("flag"), F.col("l_linestatus").as("status"),
        F.col("l_quantity").as("qty"), F.col("l_extendedprice").as("price"),
        F.col("l_shipdate").as("shipdate"))
      .where(F.col("k") < Rows)

  /** Create the manifested table (the program's set-up work for this
    * workload): snapshot 1 plus min/max stats on the key. */
  def create(spark: SparkSession, dataDir: String, table: String): Unit = {
    Manifest.create(spark, table,
      source(spark, dataDir).repartitionByRange(FileCount, F.col("k")).sortWithinPartitions("k"))
    Manifest.analyzeFiles(spark, table, Seq("k"))
  }

  def initialModel(spark: SparkSession, dataDir: String): HashMap[Long, LakeRow] =
    HashMap.from(source(spark, dataDir).collect().iterator.map(r => r.getLong(0) -> toRow(r, 1)))

  private def toRow(r: Row, at: Int): LakeRow = LakeRow(r.getString(at), r.getString(at + 1),
    r.getDouble(at + 2), r.getDouble(at + 3), Data.dayOf(r.getTimestamp(at + 4)))

  /** Expected leaf rows for a lake read against model state `m`. */
  def expected(req: Req, m: HashMap[Long, LakeRow]): Seq[Seq[Any]] = req match {
    case LakeKeys(lo, width) =>
      m.iterator.filter { case (k, _) => k >= lo && k <= lo + width }.toSeq
        .groupBy(_._2.flag).toSeq.map { case (f, rs) =>
          val s = rs.map(_._2.qty).sum
          Seq(f, rs.size.toLong, Approx(s, 1e-6 * math.max(1.0, s)))
        }
    case LakeQty(q) =>
      m.valuesIterator.filter(_.qty > q).toSeq.groupBy(r => (r.status, Data.yearOf(r.day)))
        .toSeq.map { case ((st, y), rs) =>
        Seq(st, y, rs.size.toLong, Approx(rs.map(_.price).sum, 0.011))
      }
    case other => throw new IllegalArgumentException(s"no lake oracle for $other")
  }

  /** The single writer: cycles append → CoW delete → merge → MoR
    * delete-keys, each changing [[ChangeRows]] rows, keeping the model of
    * every committed version until the check has used it. */
  final class Writer(spark: SparkSession, table: String, seed: Long,
      init: HashMap[Long, LakeRow]) {
    import spark.implicits._
    val verbs = Seq("append", "delete", "merge", "mor_delete")
    private val r = new Random(seed ^ 0x1a4eL)
    private var model = init
    private var nextKey = 10000000L
    private var step = 0
    /** Model state per committed version. */
    val states = scala.collection.mutable.Map(Manifest.versions(spark, table).last -> init)
    /** Forget the model once the responses are checked. */
    def dropStates(): Unit = { states.clear(); model = HashMap.empty }
    private var rowsChanged = 0L
    private val bytes0 = Util.dirBytes(Paths.get(table))
    private val bytesPerRow = Manifest.snapshotBytes(spark, table,
      Manifest.currentSnapshot(spark, table).get).toDouble / init.size

    /** Bytes the writes added under the table root. */
    def bytesAdded: Long = Util.dirBytes(Paths.get(table)) - bytes0
    /** Bytes of the rows the writes appended, updated or deleted, at the
      * initial snapshot's bytes per row. */
    def bytesChanged: Long = (rowsChanged * bytesPerRow).toLong

    private def fresh(n: Int): Seq[(Long, LakeRow)] = Seq.fill(n) {
      nextKey += 1
      val q = (1 + r.nextInt(50)).toDouble
      nextKey -> LakeRow(Data.Flags(r.nextInt(3)), Data.Statuses(r.nextInt(2)), q,
        math.round(q * (900 + r.nextInt(1100)) * 100) / 100.0, r.nextInt(Data.Days))
    }
    private def frame(rows: Seq[(Long, LakeRow)]): DataFrame =
      rows.map { case (k, x) => (k, x.flag, x.status, x.qty, x.price,
        new java.sql.Timestamp((Data.DayZero.toEpochDay + x.day) * 86400000L)) }
        .toDF("k", "flag", "status", "qty", "price", "shipdate").coalesce(1)
    private def liveKeys(n: Int): Seq[Long] = {
      val keys = model.keysIterator.toIndexedSeq
      Seq.fill(n)(keys(r.nextInt(keys.size))).distinct
    }

    def upcoming: String = verbs(step % verbs.size)

    /** Run the next verb of the cycle. */
    def next(): Unit = {
      val verb = upcoming
      step += 1
      val snap = verb match {
        case "append" =>
          val rows = fresh(ChangeRows)
          val s = Manifest.commitAppend(spark, table, frame(rows))
          model = model ++ rows
          rowsChanged += rows.size
          s
        case "delete" =>
          // a key range holding ChangeRows live rows of the original data
          val keys = model.keysIterator.filter(_ < Rows).toIndexedSeq.sorted
          val i = r.nextInt(keys.size - ChangeRows)
          val (lo, hi) = (keys(i), keys(i + ChangeRows - 1))
          val s = Manifest.deleteWhere(spark, table, F.col("k").between(lo, hi))
          val gone = keys.slice(i, i + ChangeRows)
          model = model -- gone
          rowsChanged += gone.size
          s
        case "merge" =>
          val upd = liveKeys(ChangeRows / 2)
            .map(k => k -> model(k).copy(qty = (1 + r.nextInt(50)).toDouble))
          val rows = upd ++ fresh(ChangeRows - upd.size)
          val s = Manifest.merge(spark, table, frame(rows), Seq("k"))
          model = model ++ rows
          rowsChanged += rows.size
          s
        case "mor_delete" =>
          val keys = liveKeys(ChangeRows)
          val s = Manifest.deleteKeysMoR(spark, table, "k", keys)
          model = model -- keys
          rowsChanged += keys.size
          s
      }
      states(snap.version) = model
    }
  }

  /** Parquet data files a snapshot references (entries are files or
    * version directories). */
  def liveFiles(spark: SparkSession, table: String, v: Long): Int =
    Manifest.readSnapshot(spark, table, v).paths.map { p =>
      val f = Paths.get(table, p)
      if (Files.isDirectory(f)) {
        val w = Files.list(f)
        try w.filter(x => x.getFileName.toString.endsWith(".parquet")).count().toInt
        finally w.close()
      } else 1
    }.sum

  /** On-disk footprint: every byte under the table root over the bytes
    * of the data the current snapshot references; and its file count. */
  def spaceAmp(spark: SparkSession, table: String): (Double, Int) = {
    val snap = Manifest.currentSnapshot(spark, table).get
    val live = Manifest.snapshotBytes(spark, table, snap).toDouble
    (Util.dirBytes(Paths.get(table)) / live, liveFiles(spark, table, snap.version))
  }
}
