package graft

import org.apache.spark.sql.SparkSession

/** What the command-line mains (`Verify`, `VerifySlice`, `Bench`,
  * `tools.Probe`) share: one local session builder and one parser of the
  * `SPARK_GRAFT_ONLY` subset filter.
  */
private[graft] object Mains {

  /** A `local[N]` session with N shuffle partitions, the UTC session time
    * zone and no UI, logging at WARN. N is `SPARK_GRAFT_CPUS`, by default
    * the host's processor count. `extra` holds a main's own confs.
    */
  def session(extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(extra.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Dev-only subset filter: `SPARK_GRAFT_ONLY=a, b` keeps entries `a`
    * and `b` (names trimmed, as `tools/check.py` reads them); unset or
    * empty keeps every entry.
    */
  def keep(name: String): Boolean = only.forall(_(name))

  private lazy val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)
}
