package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types._

import graft.ops.Gvcf
import graft.ops.Gvcf.AutoCombine

/** Seeded gVCF cohorts shaped after the engine's own synthetic cohorts
  * (`Gvcf.syntheticVariants`, `Gvcf.syntheticVariantsWide`): two contigs,
  * candidate variant positions on a 10 bp grid, every sample covering
  * the grid with 1 bp site records and reference blocks. Per sample, a
  * grid position is a site with the sample's own density; the run of
  * non-site positions up to its next site is one reference block, as a
  * gVCF bands hom-ref stretches, so block lengths follow from the
  * density and reach past the 64-wide coverage bucket. A small share of
  * blocks is left out (uncovered stretches), so per-site coverage
  * differs from the width. The generator knows, in closed form, every
  * site's covered-sample count, merged alt count and reference base —
  * what the combine, genotype and export outputs must show. */
object CohortGen {

  /** Shape of one cohort: width, grid positions per contig, per-sample
    * site density range, and the share of reference blocks left out. */
  final case class Shape(name: String, samples: Int, positions: Int,
      densityLo: Double, densityHi: Double, gapProb: Double)

  /** Spacing of candidate variant positions, as in the engine's cohorts. */
  val Grid = 10

  /** The engine's two cohort shapes at the sf0.1 fixture, scaled down
    * for run time (benchmark/README.md lists each source value):
    *   - deep: 3 samples over 1,250 positions per contig
    *     (`syntheticVariants`: 3 samples, 10,000 positions; ×0.25);
    *   - wide: 150 samples over 60 positions per contig
    *     (`syntheticVariantsWide`: 3,000 samples × 120 positions; ×0.05
    *     on the sample axis).
    * The fixtures make 2/3 of sample×position cells sites; here each
    * sample draws its density from [1/3, 1], whose mean is that 2/3. */
  val Shapes = Seq(
    Shape("deep", samples = 3, positions = 1250,
      densityLo = 1.0 / 3, densityHi = 1.0, gapProb = 0.03),
    Shape("wide", samples = 150, positions = 60,
      densityLo = 1.0 / 3, densityHi = 1.0, gapProb = 0.03))

  val Contigs = Seq("chr1", "chr2")
  private val Bases = "ACGT"

  final case class Rec(sample: String, contig: String, start: Long, end: Long,
      kind: String, alleles: Seq[String], gq: Int, gt: String, dp: Int, pl: Seq[Int])

  /** What the engine must report at one site. */
  final case class SiteTruth(ref: String, covered: Int, alts: Int)

  final case class Cohort(shape: Shape, recs: Seq[Rec],
      truth: Map[(String, Long), SiteTruth]) {
    def cells: Long = truth.values.map(_.covered.toLong).sum
  }

  val Schema: StructType = StructType(Seq(
    StructField("sample", StringType), StructField("contig", StringType),
    StructField("start", LongType), StructField("end", LongType),
    StructField("kind", StringType), StructField("alleles", ArrayType(StringType)),
    StructField("gq", IntegerType), StructField("gt", StringType),
    StructField("dp", IntegerType), StructField("pl", ArrayType(IntegerType))))

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def refBase(seed: Long, contig: String, pos: Long): String = {
    val h = mix(mix(seed, contig.hashCode.toLong), pos)
    Bases(java.lang.Math.floorMod(h, 4L).toInt).toString
  }

  def generate(shape: Shape, seed: Long): Cohort = {
    val rnd = new java.util.SplittableRandom(mix(seed, shape.name.hashCode.toLong))
    val recs = mutable.ArrayBuffer.empty[Rec]
    val grid = (0 until shape.positions).map(j => 1L + Grid.toLong * j)
    val contigLen = Grid.toLong * shape.positions
    val names = (0 until shape.samples).map(i => f"s$i%05d")
    for (s <- names; c <- Contigs) {
      val density = shape.densityLo + rnd.nextDouble() * (shape.densityHi - shape.densityLo)
      val sites = grid.filter(_ => rnd.nextDouble() < density)
      var pos = 1L
      // one reference block over the hom-ref stretch before `until`
      def block(until: Long): Unit = {
        if (pos <= until && rnd.nextDouble() >= shape.gapProb)
          recs += Rec(s, c, pos, until, "block", Seq(refBase(seed, c, pos)),
            1 + rnd.nextInt(99), "0/0", 5 + rnd.nextInt(56), null)
        pos = until + 1
      }
      for (p <- sites) {
        block(p - 1)
        val ref = refBase(seed, c, p)
        val others = Bases.filterNot(_.toString == ref).map(_.toString)
        val k = 1 + rnd.nextInt(3)
        val alts = scala.util.Random.javaRandomToRandom(
          new java.util.Random(rnd.nextLong())).shuffle(others.toList).take(k)
        val gts = Seq((0, 1), (1, 1)) ++ (if (k >= 2) Seq((1, 2)) else Nil)
        val (a, b) = gts(rnd.nextInt(gts.size))
        val n = k + 2 // local alleles plus <NON_REF>
        val truePl = b * (b + 1) / 2 + a
        val pl = (0 until n * (n + 1) / 2).map(i => if (i == truePl) 0 else 10 + rnd.nextInt(90))
        recs += Rec(s, c, p, p, "site", ref +: alts, 10 + rnd.nextInt(90), s"$a/$b",
          5 + rnd.nextInt(56), pl)
        pos = p + 1
      }
      block(contigLen)
    }
    Cohort(shape, recs.toSeq, truthOf(recs.toSeq, seed))
  }

  /** Closed-form expectations from the generator's own records. */
  private def truthOf(recs: Seq[Rec], seed: Long): Map[(String, Long), SiteTruth] = {
    val sites = recs.filter(_.kind == "site")
    val altsAt = sites.groupBy(r => (r.contig, r.start))
      .map { case (k, rs) => k -> rs.flatMap(_.alleles.tail).distinct.size }
    // per (sample, contig): sorted starts/ends for a containment probe
    val bySample = recs.groupBy(r => (r.sample, r.contig)).map { case (k, rs) =>
      val sorted = rs.sortBy(_.start)
      k -> (sorted.map(_.start).toArray, sorted.map(_.end).toArray)
    }
    val samples = recs.map(_.sample).distinct
    altsAt.map { case ((c, p), nAlts) =>
      val covered = samples.count { s =>
        bySample.get((s, c)).exists { case (starts, ends) =>
          val i = java.util.Arrays.binarySearch(starts, p)
          val j = if (i >= 0) i else -i - 2
          j >= 0 && ends(j) >= p
        }
      }
      (c, p) -> SiteTruth(refBase(seed, c, p), covered, nAlts)
    }
  }

  def write(spark: SparkSession, cohort: Cohort, dir: String): Unit = {
    val rows = cohort.recs.map(r => Row(r.sample, r.contig, r.start, r.end, r.kind,
      r.alleles, r.gq, r.gt, r.dp, r.pl))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), Schema)
      .write.mode("overwrite").parquet(dir)
  }
}

/** joint_call: combine → genotype → export over each seeded cohort, every
  * step materialized and checked against the generator's closed form. */
final class JointCall extends Workload {
  import CohortGen._

  private var generated: Seq[Cohort] = Nil
  private var cohorts: Seq[(Cohort, DataFrame)] = Nil
  private var coverageRows = 0.0
  private var genotypedCells = 0.0

  def generate(spark: SparkSession, dir: Path, seed: Long): Unit = {
    generated = Shapes.map(CohortGen.generate(_, seed))
    generated.foreach(c => write(spark, c, dir.resolve(c.shape.name).toString))
  }

  override def prepare(r: Runner, dir: Path, seed: Long): Unit =
    cohorts = generated.map { c =>
      // the generator knows its width; declaring it keeps the admission
      // decision on table metadata, as the engine's own writers do
      c -> Gvcf.annotateWidth(r.spark.read.parquet(dir.resolve(c.shape.name).toString),
        c.shape.samples.toLong)
    }

  def latencyKinds: Set[String] = Set(Main.Pass)

  def warmPasses: Int = 2

  /** The pinned admission: every cohort here is far below the dense cap. */
  private val PinnedFormat = "dense"

  private def siteRowsOk(c: Cohort, rows: Array[Row]): Boolean = {
    val ok = rows.length == c.truth.size && rows.forall { row =>
      val key = (row.getAs[String]("contig"), row.getAs[Long]("pos"))
      c.truth.get(key).exists { t =>
        row.getAs[String]("ref") == t.ref &&
          row.getAs[Long]("n_samples") == t.covered &&
          row.getAs[String]("alt").split(",").length == t.alts + 1
      }
    }
    if (!ok) System.err.println(s"joint_call: site rows disagree with the generator " +
      s"(${c.shape.name}: ${rows.length} rows, ${c.truth.size} sites)")
    ok
  }

  private def coverageJoinRows(plan: SparkPlan): Long =
    PlanMetrics.nodes(plan).collect {
      case j: BaseJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "bkt")) =>
        PlanMetrics.metric(j, "numOutputRows")
    }.sum

  def pass(r: Runner, passNo: Int): (Double, Double) = {
    val t0 = System.nanoTime()
    var cells = 0.0
    for ((c, variants) <- cohorts) {
      var format = ""
      def admitted(a: AutoCombine): DataFrame = { format = a.format; a.df }
      val width = c.shape.samples.toLong
      r.query("gvcf.combine")(admitted(
        Gvcf.combineAuto(variants, maxDenseWidth = Gvcf.MaxDenseWidth)))(_.collect())(
        rows => format == PinnedFormat && siteRowsOk(c, rows))
      r.query("gvcf.genotype")(admitted(
        Gvcf.genotypeAuto(variants, maxDenseWidth = Gvcf.MaxDenseWidth)))(_.collect())(
        rows => format == PinnedFormat && siteRowsOk(c, rows) &&
          rows.map(_.getAs[Long]("n_samples")).sum == c.cells,
        plan => {
          val n = coverageJoinRows(plan).toDouble
          r.add("gvcf.coverage_rows", n)
          coverageRows += n
          genotypedCells += c.cells
        })
      r.query("gvcf.export")(admitted(
        Gvcf.exportAuto(variants, maxDenseWidth = Gvcf.MaxDenseWidth)))(_.collect())(
        rows => format == PinnedFormat && rows.length == c.truth.size && rows.forall { row =>
          val f = row.getAs[String]("line").split("\t", -1)
          val t = c.truth.get((row.getAs[String]("contig"), row.getAs[Long]("pos")))
          f.length == 9 + width && t.exists(t => f(7) == s"NS=${t.covered}" && f(3) == t.ref)
        })
      cells += c.cells
    }
    (cells, (System.nanoTime() - t0) / 1e9)
  }

  override def finish(r: Runner): Map[String, Double] =
    Map("gvcf.cells_per_coverage_row" ->
      (if (coverageRows > 0) genotypedCells / coverageRows else 0.0))
}
