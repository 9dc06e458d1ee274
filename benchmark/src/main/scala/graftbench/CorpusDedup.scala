package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types._

import graft.SparkEntry

/** A seeded corpus shaped after the sf0.1 `documents.parquet` fixture
  * (benchmark/README.md lists the measured values): 5,000 documents of
  * 10–100 tokens drawn uniformly from the fixture's 30-word vocabulary
  * (the stop words `the` and `a` among them), the fixture's language mix
  * and 20 sources. Duplicates are planted at the fixture's rates:
  * 0.16 % of documents are byte-identical copies of an earlier document,
  * 5 % are an earlier document (a copy, at times) with the token `dup`
  * appended. A copy gets its own language and source, so most planted
  * pairs cross (lang, source) blocks, as in the fixture. */
object CorpusGen {
  val Docs = 5000
  val TokensLo = 10
  val TokensHi = 100
  val Words: IndexedSeq[String] = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part fast row " +
    "the agg key query a scan batch").split(" ").toIndexedSeq
  val ExactShare = 0.0016
  val NearShare = 0.05
  val NearMark = "dup"
  /** Language weights of the fixture (en 41 %, the rest about 15 % each). */
  val Langs = Seq("en" -> 0.412, "zh" -> 0.151, "es" -> 0.149, "fr" -> 0.148, "de" -> 0.140)
  val Sources = 20

  /** A document; `root` is the id of the original its copy chain started
    * from (its own id when it is no copy). */
  final case class Doc(id: Long, text: String, lang: String, source: String, root: Long)

  final case class Corpus(docs: Seq[Doc]) {
    val byId: Map[Long, Doc] = docs.map(d => d.id -> d).toMap
    /** The two documents were planted as copies of one original. */
    def planted(a: Long, b: Long): Boolean = byId(a).root == byId(b).root
  }

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def generate(seed: Long): Corpus = {
    val rnd = new java.util.SplittableRandom(seed ^ 0xC0A9E5L)
    def lang(): String = {
      var u = rnd.nextDouble() * Langs.map(_._2).sum
      Langs.find { case (_, w) => u -= w; u < 0 }.getOrElse(Langs.last)._1
    }
    def text(): String =
      Seq.fill(TokensLo + rnd.nextInt(TokensHi - TokensLo + 1))(Words(rnd.nextInt(Words.size)))
        .mkString(" ")
    val exact = math.round(Docs * ExactShare).toInt
    val near = math.round(Docs * NearShare).toInt
    // (text, lang, root index) in generation order; copies draw from the
    // documents generated before them
    val out = mutable.ArrayBuffer.empty[(String, String, Int)]
    // the first document is an original; the rest in seeded order
    val kinds = 0 +: scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
      .shuffle(Seq.fill(Docs - 1 - exact - near)(0) ++ Seq.fill(exact)(1) ++ Seq.fill(near)(2))
    for (k <- kinds) {
      if (k == 0) out += ((text(), lang(), out.size))
      else {
        val (t, _, root) = out(rnd.nextInt(out.size))
        out += ((if (k == 1) t else s"$t $NearMark", lang(), root))
      }
    }
    // ids in shuffled order, so copies are not adjacent; sources by id as
    // in the fixture (`src<id % 20>`)
    val ids = scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
      .shuffle((0L until out.size.toLong).toList).toIndexedSeq
    Corpus(out.zipWithIndex.map { case ((t, l, root), i) =>
      Doc(ids(i), t, l, s"src${ids(i) % Sources}", ids(root))
    }.sortBy(_.id).toSeq)
  }

  /** Word 3-gram shingles of `split(text, " ")`, the engine's tokenizer. */
  def shingles(text: String): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet else Set(t.mkString(" "))
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** SimHash as the engine's `q_dedup_simhash` defines it: per token the
    * first 16 hex digits of its md5 as 64 bits; a signature bit is set
    * when more than half of the tokens set it. */
  def simhash(text: String): Long = {
    val toks = text.split(" ", -1)
    val ones = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    for (t <- toks) {
      val h = java.nio.ByteBuffer.wrap(md.digest(t.getBytes("UTF-8"))).getLong
      for (b <- 0 until 64) if (((h >>> b) & 1L) != 0) ones(b) += 1
    }
    (0 until 64).foldLeft(0L)((sig, b) => if (2 * ones(b) > toks.length) sig | (1L << b) else sig)
  }

  /** (lang, reason) → (documents, tokens) of `q_corpus_clean`'s verdicts,
    * computed by brute force: too short (< 20 tokens), low quality (more
    * than 10 % stop words), an exact duplicate of a lower id after
    * lower/trim, a near duplicate (not the lowest id of its connected
    * component, where an edge joins two documents of one (lang, source)
    * block sharing a word 3-gram), or kept. */
  def cleanVerdicts(c: Corpus): Map[(String, String), (Long, Long)] = {
    val sh = c.docs.map(d => d.id -> shingles(d.text)).toMap
    val parent = mutable.Map(c.docs.map(d => d.id -> d.id): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for (block <- c.docs.groupBy(d => (d.lang, d.source)).values;
         Seq(a, b) <- block.combinations(2) if sh(a.id).exists(sh(b.id))) {
      val (ra, rb) = (find(a.id), find(b.id))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val firstOfText = c.docs.groupBy(_.text.trim.toLowerCase).values
      .flatMap(g => g.map(_.id -> g.map(_.id).min)).toMap
    c.docs.map { d =>
      val toks = d.text.split(" ", -1)
      val stops = toks.count(t => t == "the" || t == "a")
      val reason =
        if (toks.length < 20) "too_short"
        else if (10 * stops > toks.length) "low_quality"
        else if (firstOfText(d.id) != d.id) "exact_dup"
        else if (find(d.id) != d.id) "near_dup"
        else "kept"
      (d.lang, reason) -> toks.length.toLong
    }.groupBy(_._1).map { case (k, v) => k -> (v.size.toLong, v.map(_._2).sum) }
  }

  def write(spark: SparkSession, c: Corpus, dir: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(
      c.docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), 4), Schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
}

/** corpus_dedup: the dedup pipelines over the generated corpus, every
  * reported pair checked against the corpus itself. */
final class CorpusDedup extends Workload {
  import CorpusGen._

  private var corpus: Corpus = _
  private var dir: String = _
  private var exactKept: Seq[Long] = Nil
  private var cleanTruth: Map[(String, String), (Long, Long)] = Map.empty
  private var simhash: Map[Long, Long] = Map.empty
  /** The 20th-lowest SimHash distance among planted pairs. */
  private var plantedHamming20 = 0
  private var recall = Double.NaN

  /** The lowest share of planted pairs accepted among the pairs the
    * MinHash queries report. Both report their top 20, and the corpus
    * plants hundreds of pairs far more similar than any unplanted one. */
  val RecallFloor = 0.95

  def generate(spark: SparkSession, d: Path, seed: Long): Unit = {
    corpus = CorpusGen.generate(seed)
    dir = d.toString
    write(spark, corpus, dir)
    exactKept = corpus.docs.groupBy(_.text.trim.toLowerCase).values.map(_.minBy(_.id))
      .toSeq.sortBy(_.id).take(3000).map(_.id)
    cleanTruth = CorpusGen.cleanVerdicts(corpus)
    simhash = corpus.docs.map(d => d.id -> CorpusGen.simhash(d.text)).toMap
    plantedHamming20 = corpus.docs.groupBy(_.root).values.toSeq
      .flatMap(_.map(_.id).combinations(2).map { case Seq(a, b) => hamming(a, b) })
      .sorted.lift(19).getOrElse(Int.MaxValue)
  }

  def latencyKinds: Set[String] = Set(Main.Pass)

  def warmPasses: Int = 4

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(simhash(a) ^ simhash(b))

  /** Share of reported pairs that were planted; below the floor fails. */
  private def recallOk(what: String, rows: Array[Row]): Boolean = {
    val got = rows.count(row => corpus.planted(row.getLong(0), row.getLong(1))).toDouble /
      rows.length
    recall = if (recall.isNaN) got else math.min(recall, got)
    if (got < RecallFloor)
      System.err.println(s"corpus_dedup: $what planted recall $got < $RecallFloor")
    got >= RecallFloor
  }

  private def pairsOk(rows: Array[Row], exact: Boolean): Boolean =
    rows.nonEmpty && rows.forall { row =>
      val (a, b, est) = (row.getLong(0), row.getLong(1), row.getDouble(2))
      val j = jaccard(corpus.byId(a).text, corpus.byId(b).text)
      if (exact) math.abs(j - est) < 1e-6 else corpus.planted(a, b) || j >= est
    }

  /** Each pair's distance is the exact SimHash distance, pairs come in
    * (distance, doc_a, doc_b) order, and none is farther than the 20th
    * planted pair — chunk blocking must find every pair within 3 bits
    * (four 16-bit chunks, pigeonhole). */
  private def simhashOk(rows: Array[Row]): Boolean = {
    val got = rows.map(row => (row.getLong(2).toInt, row.getLong(0), row.getLong(1))).toSeq
    rows.nonEmpty && got.forall { case (h, a, b) => a < b && h == hamming(a, b) } &&
      got == got.sorted &&
      (plantedHamming20 > 3 || got.forall(_._1 <= plantedHamming20))
  }

  private def bandBytes(plan: SparkPlan): Long =
    PlanMetrics.nodes(plan).collect {
      case e: ShuffleExchangeExec
          if Set("band", "bh").subsetOf(e.output.map(_.name).toSet) =>
        PlanMetrics.metric(e, "dataSize")
    }.sum

  private def pairRows(plan: SparkPlan): Long =
    PlanMetrics.nodes(plan).collect {
      case g: GenerateExec if g.generator.toString.contains("graft_bucket_pairs") =>
        PlanMetrics.metric(g, "numOutputRows")
    }.sum

  private def run(r: Runner, kind: String, query: String)(check: Array[Row] => Boolean): Unit =
    r.query(kind)(SparkEntry.queries(query)(r.spark, dir))(_.collect())(check, plan => {
      r.add("dedup.band_exchange_bytes", bandBytes(plan).toDouble)
      r.add("dedup.pair_rows", pairRows(plan).toDouble)
    })

  def pass(r: Runner, passNo: Int): (Double, Double) = {
    val t0 = System.nanoTime()
    val n = corpus.docs.size
    run(r, "dedup.exact", "q_dedup_exact")(rows => rows.map(_.getLong(0)).toSeq == exactKept)
    run(r, "dedup.near", "q_dedup_near")(rows =>
      pairsOk(rows, exact = false) && recallOk("q_dedup_near", rows))
    run(r, "dedup.ngram", "q_dedup_ngram")(rows =>
      pairsOk(rows, exact = true) && recallOk("q_dedup_ngram", rows))
    run(r, "dedup.simhash", "q_dedup_simhash")(simhashOk)
    run(r, "dedup.clean", "q_corpus_clean") { rows =>
      val got = rows.map(row => (row.getString(0), row.getString(1)) ->
        (row.getLong(2), row.getLong(3))).toMap
      if (got != cleanTruth)
        System.err.println(s"corpus_dedup: cleaning verdicts ${got.toSeq.sorted} " +
          s"differ from the expected ${cleanTruth.toSeq.sorted}")
      got == cleanTruth
    }
    (5.0 * n, (System.nanoTime() - t0) / 1e9)
  }

  override def finish(r: Runner): Map[String, Double] = Map("dedup.planted_recall" -> recall)
}
