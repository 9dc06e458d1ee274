package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A benchmark workload. Inputs come only from the seed; the engine sees
  * the generated files, never the seed. */
trait Workload {
  /** Build the inputs under `dir`, and what the checks expect of them
    * (once, during set-up; the same inputs for the same seed). */
  def generate(spark: SparkSession, dir: Path, seed: Long): Unit

  /** Load what the passes need from the last generated inputs. */
  def prepare(r: Runner, dir: Path, seed: Long): Unit = ()

  /** One pass over the workload's operation sequence. Returns the work
    * units done and the seconds of the operations that did them. */
  def pass(r: Runner, passNo: Int): (Double, Double)

  /** Unrecorded warm-up passes before the measured interval. A pass runs
    * 30–50 % slower while the JVM is still compiling the engine's hot
    * paths; the count is fixed per workload (benchmark/README.md gives
    * the calibration), so set-up time is the engine's, not a clock's. */
  def warmPasses: Int

  /** Operation kinds whose latencies make `op_ms.*`; [[Main.Pass]] makes
    * each whole pass one operation. */
  def latencyKinds: Set[String]

  /** Ratios and end-of-run values over the traced passes; not divided by
    * the pass count. */
  def finish(r: Runner): Map[String, Double] = Map.empty
}

/** Entry point: one workload, one seed, one measured interval.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --launch-ms <epoch ms of the process launch>
  * }}}
  *
  * Prints one line `BENCH_RESULT {...}` with every metric of the mode
  * (end-to-end with trace 0, per-layer with trace 1) and the attempted
  * and failed operation counts. */
object Main {

  val Workloads: Map[String, () => Workload] = Map(
    "joint_call" -> (() => new JointCall),
    "store_mixed" -> (() => new StoreMixed),
    "corpus_dedup" -> (() => new CorpusDedup))

  /** The latency kind of a whole pass. */
  val Pass = "pass"

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  /** Live heap: used heap right after a full collection. */
  private def liveHeapMb(): Double = {
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    mem.getUsed / (1024.0 * 1024.0)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val work = Paths.get(arg(args, "--work")).toAbsolutePath
    val launchMs = arg(args, "--launch-ms").toLong
    val wl = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))()
    val cores = Runtime.getRuntime.availableProcessors

    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val r = new Runner(spark, tracer)

    // set-up: build the inputs, then the unrecorded warm-up passes that
    // fill JIT, codegen and file-listing caches; setup_s is the whole
    // span from process launch to the first timed operation
    val input = work.resolve("input")
    val g0 = System.nanoTime()
    wl.generate(spark, input, seed)
    val w0 = System.nanoTime()
    wl.prepare(r, input, seed)
    val warmS = (1 to wl.warmPasses).map { i =>
      val t0 = System.nanoTime()
      wl.pass(r, -i)
      (System.nanoTime() - t0) / 1e9
    }
    val w1 = System.nanoTime()
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0

    // measured interval: closed loop, one client; in a traced run the
    // passes alternate untraced/traced so the overhead is measured in the
    // same process
    r.recording = true
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Double, Double, Double)]
    var livePeak = 0.0
    val tStart = System.nanoTime()
    var n = 0
    def haveBoth = passes.exists(_._1) && passes.exists(!_._1)
    while ((System.nanoTime() - tStart) / 1e9 < seconds || (trace && !haveBoth)) {
      n += 1
      r.tracing = trace && n % 2 == 0
      val gc0 = gcMs()
      val p0 = System.nanoTime()
      if (r.tracing) r.passSpan = tracer.get.newId()
      val (units, workS) = wl.pass(r, n)
      val p1 = System.nanoTime()
      if (r.tracing) {
        tracer.get.record(r.passSpan, 0, s"pass $n", p0, p1)
        r.add("jvm.driver_gc_ms", (gcMs() - gc0).toDouble)
      }
      passes += ((r.tracing, (p1 - p0) / 1e9, units, workS))
      if (!r.tracing) r.ops += OpRec(Pass, (p1 - p0) / 1e6, ok = true)
      r.tracing = false
      if (trace) livePeak = math.max(livePeak, liveHeapMb())
    }

    val measured = passes.filter(p => !trace || !p._1)
    val lat = r.ops.filter(o => wl.latencyKinds(o.kind)).map(_.ms).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val units = Metrics.endToEnd.toMap
        Seq(
          ("setup_s", setupS, units("setup_s")),
          ("work_per_s", measured.map(_._3).sum / measured.map(_._4).sum, units("work_per_s")),
          ("op_ms.p50", Stats.median(lat), units("op_ms.p50")))
      } else {
        val traced = passes.filter(_._1)
        val k = traced.size.toDouble
        val tr = tracer.get
        val self = tr.selfMs
        val opIds = tr.spans.filter(s => traced.nonEmpty && s.parent != 0 &&
          tr.spans.exists(p => p.id == s.parent && p.parent == 0)).map(_.id)
        r.layer("trace.op_self_ms") = opIds.map(self).sum
        val perPass = r.layer.map { case (m, v) => m -> v / k }.toMap
        val (tailPct, tailMs) = if (lat.isEmpty) (100, 0.0) else Stats.tail(lat)
        val untracedS = Stats.median(passes.filter(!_._1).map(_._2).toSeq)
        val tracedS = Stats.median(traced.map(_._2).toSeq)
        val extra = wl.finish(r) ++ Map(
          "op_ms.tail" -> tailMs, "op_ms.tail_pct" -> tailPct.toDouble,
          "op_ms.samples" -> lat.size.toDouble,
          "jvm.live_heap_mb" -> livePeak, "trace.run_s" -> tracedS, "trace.untraced_run_s" -> untracedS,
          "trace.overhead_ratio" -> tracedS / untracedS)
        tr.writeJson(work.resolve(s"trace_${name}_$seed.json"))
        Metrics.perLayer.map { case (m, u) =>
          (m, extra.getOrElse(m, perPass.getOrElse(m, 0.0)), u)
        }
      }

    val correct = r.failed == 0
    val body = metrics.map { case (m, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
      s""""$m":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""BENCH_RESULT {"correct":$correct,"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"metrics":$body}""")
    System.err.println(s"[bench] $name seed=$seed cores=$cores passes=${passes.size} " +
      s"setup=${"%.2f".format(setupS)}s: session=${"%.2f".format(sessionS)}s " +
      s"gen=${"%.2f".format((w0 - g0) / 1e9)}s warm=${"%.2f".format((w1 - w0) / 1e9)}s (${warmS.map("%.2f".format(_)).mkString("/")}) pass_s=${passes.map(p => "%.2f".format(p._2)).mkString("/")}")
    spark.stop()
  }
}
