package graft

import org.apache.spark.sql.SparkSession

/** The one way a main (or the test suite) builds its session, and the
  * one reader of the environment knobs every main shares. */
object Session {
  /** `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** local[n] with n shuffle partitions, UTC, no UI, log level ERROR. */
  def local(n: Int = cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The query selector: `spec` (by default `SPARK_GRAFT_ONLY`) is a
    * comma-separated list of query names or name prefixes. None when
    * unset or empty: every query is selected. */
  def only(spec: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Option[String => Boolean] =
    spec.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
      .map(prefixes => name => prefixes.exists(name.startsWith))
}
