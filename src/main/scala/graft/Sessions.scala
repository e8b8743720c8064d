package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session set-up and environment reading shared by
  * every entry point (Bench, Verify, Smoke, ScaleAll, ScalingBench) and
  * the test suite. */
object Sessions {

  /** A local session on `cpus` cores with one shuffle partition per core. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts may be parquet TIMESTAMP(NANOS); read as LONG nanos and
      // let Tables.events truncate to micros (matches DuckDB's read).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count from `SPARK_GRAFT_CPUS`, or `default` when unset. Anything
    * but a positive integer fails here, before a session starts: the value
    * names the master URL and lands in the bench record. */
  def envCpus(default: Int, env: collection.Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").fold(default) { s =>
      s.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
    }

  /** `SPARK_GRAFT_ONLY` as a comma-separated list, if set. */
  val only: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq.filter(_.nonEmpty))

  /** Whether a registered query is in this run: every query when
    * `SPARK_GRAFT_ONLY` is unset, else those whose name contains one of
    * its items (a full name selects exactly that query). */
  def selected(name: String): Boolean = only.forall(_.exists(name.contains))
}
