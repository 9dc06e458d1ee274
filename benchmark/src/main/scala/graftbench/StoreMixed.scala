package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.sources.VariantStore

/** A seeded operation stream over one versioned store, shaped after the
  * engine's store queries at the sf0.1 fixture (benchmark/README.md lists
  * the source values): a bulk load of every (key, sample) cell, then
  * cycles of four generations — an upsert of 1/3 of the cells, one of
  * 1/7, a delete of 1/3 and a re-put of 1/3 of those deleted
  * (`q_store_asof`, `q_store_delete`) — each followed by a narrow scan
  * over 2.7 % of the key range (`q_store_scan`), every other one
  * projected to 3 of the 8 samples (`q_store_project`), and an as-of
  * read of one sample over every key; a minor and a horizon compaction
  * at the end. */
object StoreStream {
  val Ddl = "key LONG, ver LONG, sample STRING, payload STRING"
  val Schema: StructType = StructType.fromDDL(Ddl)

  /** The fixture's 15,000-key slice (orders with key % 10 = 0), ×0.2. */
  val Keys = 3000
  val Samples: Seq[String] = (0 until 8).map(i => s"s$i")
  /** The orders priorities the fixture's payloads carry. */
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Cycles = 2
  val UpsertShares = Seq(1.0 / 3, 1.0 / 7)
  val DeleteShare = 1.0 / 3
  val ReputShare = 1.0 / 3
  val ScanWidth = 80
  val ProjectedSamples = 3
  /** Versions at or below the horizon collapse in the major compaction. */
  val Horizon = 4L

  sealed trait Op
  final case class Write(ver: Long, rows: Seq[(Long, Long, String, String)], bulk: Boolean) extends Op
  final case class Scan(lo: Long, hi: Long, samples: Seq[String]) extends Op
  final case class AsOf(t: Long, samples: Seq[String]) extends Op

  def generate(seed: Long): Seq[Op] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5709E5L)
    def prio(): String = Priorities(rnd.nextInt(Priorities.size))
    def pick[A](from: IndexedSeq[A], share: Double): Seq[A] =
      from.filter(_ => rnd.nextDouble() < share)
    val cells = for (k <- 0L until Keys; s <- Samples) yield (k, s)
    val ops = mutable.ArrayBuffer.empty[Op]
    ops += Write(1L, cells.map { case (k, s) => (k, 1L, s, prio()) }, bulk = true)
    var ver = 1L
    def read(): Unit = {
      val lo = rnd.nextInt(Keys - ScanWidth).toLong
      val proj = if (ver % 2 == 0)
        scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
          .shuffle(Samples).take(ProjectedSamples).sorted
      else Nil
      ops += Scan(lo, lo + ScanWidth - 1, proj)
      ops += AsOf(1L + rnd.nextInt(ver.toInt), Seq(Samples(rnd.nextInt(Samples.size))))
    }
    def write(rows: Seq[(Long, String)], payload: => String): Unit = {
      ver += 1
      val v = ver
      ops += Write(v, rows.map { case (k, s) => (k, v, s, payload) }, bulk = false)
      read()
    }
    for (_ <- 0 until Cycles) {
      for (share <- UpsertShares) write(pick(cells, share), s"U$ver-${prio()}")
      val deleted = pick(cells, DeleteShare)
      write(deleted, VariantStore.Tombstone)
      write(pick(deleted.toIndexedSeq, ReputShare), s"R$ver-${prio()}")
    }
    ops.toSeq
  }
}

/** The acknowledged writes, replayed driver-side: what any read must see. */
final class StoreModel {
  private val cells = mutable.Map.empty[(Long, String), mutable.ArrayBuffer[(Long, String)]]

  def write(rows: Seq[(Long, Long, String, String)]): Unit =
    rows.foreach { case (k, v, s, p) =>
      cells.getOrElseUpdate((k, s), mutable.ArrayBuffer.empty) += ((v, p))
    }

  /** Live view at `t`: per cell the highest version ≤ t, unless it is a
    * delete marker. Sorted like the comparison expects. */
  def view(t: Long, lo: Long = Long.MinValue, hi: Long = Long.MaxValue,
      samples: Seq[String] = Nil): Seq[(Long, Long, String, String)] =
    cells.iterator.flatMap { case ((k, s), vs) =>
      if (k < lo || k > hi || (samples.nonEmpty && !samples.contains(s))) None
      else vs.filter(_._1 <= t).maxByOption(_._1).collect {
        case (v, p) if p != VariantStore.Tombstone => (k, v, s, p)
      }
    }.toSeq.sorted

  def bytes(rows: Iterable[(Long, Long, String, String)]): Long =
    rows.iterator.map { case (_, _, s, p) => 16L + s.length + p.length }.sum
}

/** store_mixed: writes beside reads on one store, every read checked
  * against the model of the acknowledged writes. */
final class StoreMixed extends Workload {
  import StoreStream._

  private var ops: Seq[Op] = Nil
  private var root: Path = _
  // run totals over traced passes, for the ratios
  private var userBytes, writtenBytes, liveBytes, liveUserBytes = 0.0
  private var filesRead, filesLive = 0.0

  def generate(spark: SparkSession, dir: Path, seed: Long): Unit = {
    ops = StoreStream.generate(seed)
    root = dir
    Files.createDirectories(dir)
  }

  def latencyKinds: Set[String] = Set("store.scan")

  def warmPasses: Int = 2

  private def rows(df: DataFrame): Seq[(Long, Long, String, String)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSeq.sorted

  private def manifestFiles(dir: String): Seq[String] = {
    val m = java.nio.file.Paths.get(dir, "_MANIFEST")
    if (!Files.exists(m)) Nil
    else Files.readAllLines(m).asScala.filter(_.nonEmpty).map(_.split(",", 2)(0)).toSeq
  }

  def pass(r: Runner, passNo: Int): (Double, Double) = {
    val spark = r.spark
    val dir = root.resolve(s"store_$passNo").toString
    val model = new StoreModel
    // every parquet file ever seen in the store, with its size: generation
    // files are immutable, so the sum is the bytes the store ever wrote
    val seen = mutable.Map.empty[String, Long]
    def newFiles(): Seq[Long] = {
      val fresh = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet") && !seen.contains(f.getName))
      fresh.foreach(f => seen(f.getName) = f.length())
      fresh.map(_.length()).toSeq
    }
    def scanFiles(plan: org.apache.spark.sql.execution.SparkPlan): Unit =
      PlanMetrics.nodes(plan).foreach {
        case s: FileSourceScanExec =>
          filesRead += PlanMetrics.metric(s, "numFiles")
          r.add("store.scan_files_read", PlanMetrics.metric(s, "numFiles").toDouble)
          r.add("store.scan_bytes_read", PlanMetrics.metric(s, "filesSize").toDouble)
        case _ =>
      }
    var ingested = 0.0
    var writeS = 0.0
    for (op <- ops) op match {
      case Write(ver, rs, bulk) =>
        val t0 = System.nanoTime()
        r.action("sink.write") {
          val df = spark.createDataFrame(rs.map { case (k, v, s, p) => Row(k, v, s, p) }.asJava,
            Schema)
          df.repartitionByRange(if (bulk) 4 else 1, col("key")).sortWithinPartitions("key")
            .write.format("graft.sources.VariantStoreSink").option("path", dir)
            .mode(if (bulk) "overwrite" else "append").save()
        }()
        writeS += (System.nanoTime() - t0) / 1e9
        ingested += rs.size
        model.write(rs)
        if (bulk) VariantStore.setGrace(dir, 0L)
        val sizes = newFiles()
        r.add("sink.files", sizes.size.toDouble)
        r.add("sink.bytes", sizes.sum.toDouble)
        if (r.tracing) userBytes += model.bytes(rs)
      case Scan(lo, hi, ss) =>
        if (r.tracing) filesLive += manifestFiles(dir).size
        r.query("store.scan")(VariantStore.readRange(spark, dir, Ddl, lo, hi, ss))(rows)(
          _ == model.view(Long.MaxValue, lo, hi, ss), scanFiles)
      case AsOf(t, ss) =>
        r.query("store.asof")(VariantStore.readAsOf(spark, dir, Ddl, t, ss))(rows)(
          _ == model.view(t, samples = ss))
    }
    // maintenance: a full live read must be identical before and after
    // each compaction, and as-of reads at or above the horizon survive it
    def full(): Option[Seq[(Long, Long, String, String)]] =
      r.query("store.verify")(VariantStore.readRange(spark, dir, Ddl, 0L, Keys.toLong - 1))(rows)(
        _ == model.view(Long.MaxValue))
    val before = full()
    def compaction(body: => Unit): Unit = {
      r.action("store.compact")(body)()
      r.add("store.compact_bytes_rewritten", newFiles().sum.toDouble)
    }
    compaction(VariantStore.compactMinor(spark, dir, Ddl, keepGenerations = 4))
    val afterMinor = full()
    compaction(VariantStore.compact(spark, dir, Ddl, numRanges = 2, horizon = Horizon))
    val afterMajor = full()
    if (before.isEmpty || afterMinor != before || afterMajor != before)
      r.fail("store_mixed: full read changed across compaction")
    r.query("store.verify")(VariantStore.readAsOf(spark, dir, Ddl, Horizon + 1))(rows)(
      _ == model.view(Horizon + 1))

    val live = manifestFiles(dir)
    r.add("store.live_files", live.size.toDouble)
    if (r.tracing) {
      writtenBytes += seen.values.sum
      liveBytes += live.map(f => new java.io.File(dir, f).length()).sum
      liveUserBytes += model.bytes(model.view(Long.MaxValue))
    }
    deleteTree(new java.io.File(dir))
    (ingested, writeS)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  override def finish(r: Runner): Map[String, Double] = {
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    Map(
      "store.write_amp" -> ratio(writtenBytes, userBytes),
      "store.space_amp" -> ratio(liveBytes, liveUserBytes),
      "store.scan_pruned_ratio" -> (if (filesLive > 0) 1.0 - filesRead / filesLive else 0.0))
  }
}
