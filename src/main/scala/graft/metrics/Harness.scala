package graft.metrics

import org.apache.spark.sql.SparkSession

/** The one session factory for the dev and evidence tools. Every tool
  * session is `local[cores]` with `cores` shuffle partitions, the
  * engine's [[graft.GraftExtensions]], the UI off and log level WARN;
  * a tool passes its own extra confs (static ones such as
  * `spark.memory.fraction` must be set here, before the session
  * exists).
  *
  * A/B hook: `SPARK_GRAFT_CONF="k=v;k=v"` adds session confs to any
  * tool without a recompile, applied after the tool's own so the
  * variant under test wins. `;`-separated because conf values carry
  * commas (lists, JVM option strings); segments without a key are
  * ignored. */
object Harness {

  def session(cores: Int, confs: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    (confs ++ parseConfs(sys.env.getOrElse("SPARK_GRAFT_CONF", "")))
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count from `SPARK_GRAFT_CPUS` (the Bench contract), for the
    * tools that mirror the bench's session shape. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32)

  private[graft] def parseConfs(s: String): Seq[(String, String)] =
    s.split(";").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
        case _ => None
      }
    }
}
