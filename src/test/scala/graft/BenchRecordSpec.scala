package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

/** The bench record's JSON writer/reader and the bounded summary line. */
class BenchRecordSpec extends AnyFunSuite {

  /** How the bench read a committed record's per-query mins before it
    * parsed JSON: the reference the reader must agree with. */
  private def regexMins(txt: String): Map[String, Double] = {
    val qsec = """"queries":\{([^}]*)\}""".r
      .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    """"([^"]+)":(-?\d+(?:\.\d+)?)""".r.findAllMatchIn(qsec)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  for (f <- Seq("BENCH_LOCAL.json", "BENCH_LOCAL_c8.json", "BENCH_SF1.json"))
    test(s"committed $f parses to the regex path's per-query mins and re-writes byte for byte") {
      val txt = Files.readString(Paths.get(f)).trim
      val record = Bench.readRecord(f).getOrElse(fail(s"$f did not parse"))
      val mins = Bench.queryMins(record)
      assert(mins.size > 200)
      assert(mins == regexMins(txt))
      assert(Json.write(record) == txt)
    }

  test("a record with a failed query, an adjudicated query and control characters in a key round-trips") {
    val odd = "q9_\"quoted\"\\back\ttab\rcr\u0001soh"
    val record = ListMap[String, Any](
      "metric" -> "total", "value" -> 3.7349999999999994, "unit" -> "sec",
      "queries" -> ListMap("q1_ok" -> Json.sec(1.2345), "q2_failed" -> Json.sec(-1), odd -> Json.sec(2.5)),
      "reps" -> ListMap("q1_ok" -> Seq(Json.sec(1.3), Json.sec(1.2345)),
        "q2_failed" -> Seq(Json.sec(-1)), odd -> Seq(Json.sec(2.5))),
      "adjudicated" -> ListMap("q1_ok" -> Seq(Json.sec(0.9), Json.sec(-1))),
      "calibration" -> ListMap("probe" -> "q96_copurchase_pairs", "start" -> Nil, "end" -> Nil,
        "host_drift" -> Json.sec(1), "probe_failed" -> false, "host_slowed" -> false),
      "landings" -> ListMap.empty[String, Any],
      "adjusted_total" -> Json.sec(3.4), "cpus" -> 8, "sf" -> "/data/sf0.1",
      "total" -> 3.7349999999999994)
    val text = Json.write(record)
    assert(!text.exists(_ < ' '), "control characters are escaped")
    assert(text.contains("\"q1_ok\":1.235,") && text.contains("\"q2_failed\":-1.000,"))
    val back = Json.read(text)
    assert(back == record)
    assert(Json.write(back) == text, "key order and digits survive")
  }

  test("the summary line of a 241-query sweep fits 1800 chars, parses, and totals the non-failed times") {
    val times = (1 to 241).map { i =>
      val name = f"q$i%03d_" + "a_rather_long_registered_query_name_" * 2
      name -> (if (i % 60 == 7) -1.0 else 0.05 + (i * 37 % 241) / 100.0)
    }
    val total = times.map(_._2).filter(_ >= 0).sum
    val line = Bench.summaryLine(times, total, total - 0.5, 32, "/data/sf0.1", 1.02,
      "BENCH_LOCAL.json")
    assert(line.length <= 1800, s"${line.length} chars")
    val rec = Json.read(line).asInstanceOf[ListMap[String, Any]]
    assert(rec("value") == total && rec("total") == total)
    assert(rec("n_queries") == 241 && rec("n_failed") == 4)
    assert(rec("failed").asInstanceOf[Seq[String]].size == 4)
    assert(rec("partial") == true && rec("artifact") == "BENCH_LOCAL.json")
    val slowest = rec("slowest").asInstanceOf[ListMap[String, BigDecimal]]
    assert(slowest.nonEmpty)
    val okTimes = times.filter(_._2 >= 0).sortBy(-_._2)
    assert(slowest.keys.toSeq == okTimes.take(slowest.size).map(_._1))
  }
}
