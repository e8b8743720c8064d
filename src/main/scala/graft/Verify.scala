package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(Sessions.envCpus(4))
    new java.io.File(outDir).mkdirs()
    // Record Dist range-partition boundary digests per query (dumped as
    // dist_digest.json below) — a hash mismatch on a Dist-based query is
    // then diagnosable against the exact boundaries this run sampled.
    sys.props("graft.dist.digest") = "true"
    val digestLines = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    val rowDigests = scala.collection.mutable.LinkedHashMap[String, ListMap[String, Any]]()
    // dev-only subset filter; unset, every registered query is dumped
    SparkEntry.queries
      .filter { case (name, _) => Sessions.selected(name) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        rowDigests(name) = rowDigest(spark, s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val dg = Dist.drainDigests()
      if (dg.nonEmpty) digestLines(name) = dg
    }
    def dump(file: String, v: Any): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"), Json.write(v))
    dump("oracle_sql.json", SparkEntry.oracleSql)
    dump("dist_digest.json", digestLines)
    dump("row_digest.json", rowDigests)
    spark.stop()
  }

  /** The red-row DIFF CHANNEL (VERDICT r5 #4): a driver hash mismatch used
    * to be unlocalizable — Spark output vs driver-DuckDB vs driver-hash
    * all looked the same from the record (q115 was red two rounds with a
    * value-exact local check). This digests the parquet the driver will
    * read (post-roundtrip, not the in-memory frame): columns sorted by
    * name, every value rendered to string (null = `\N`), rows sorted,
    * sha256 over the newline-joined block — and for outputs ≤ 100 rows
    * the canonical rows themselves, so an 8-row result like q115's is
    * fully visible in the artifact and a red row becomes a one-look
    * diagnosis. Row cap 2M: every registered output is far below it; the
    * guard only exists so a future unbounded query cannot OOM the
    * driver JVM. */
  private def rowDigest(spark: SparkSession, path: String): ListMap[String, Any] = {
    import org.apache.spark.sql.functions.{coalesce, col, concat_ws, lit}
    val df = spark.read.parquet(path)
    val cols = df.columns.sorted
    val n = df.count()
    if (n > 2000000L) return ListMap("rows" -> n, "sha256" -> "TOO_LARGE")
    val rendered = df.select(concat_ws("\t",
        cols.toSeq.map(c => coalesce(col(c).cast("string"), lit("\\N"))): _*).as("r"))
      .collect().map(_.getString(0)).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val sha = md.digest(rendered.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    ListMap("rows" -> n, "sha256" -> sha) ++
      (if (n <= 100) ListMap("cols" -> cols.toSeq, "rows_sorted" -> rendered.toSeq)
       else ListMap.empty)
  }
}
