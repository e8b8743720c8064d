package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.envCpus(4)
    // The artifact path is resolved once, before the sweep, and the
    // adjudication baseline is the record this run will OVERWRITE: an sf1
    // sweep with SPARK_GRAFT_BENCH_OUT=BENCH_SF1.json self-adjudicates
    // against the committed sf1 record, a diverted run against its own
    // BENCH_LOCAL_c<cpus>.json. Divert rule: when the DEFAULT output holds
    // a record taken at a DIFFERENT core count (the 8-core scaling run
    // once clobbered the committed 32-core record), this run's record goes
    // to a cpus-keyed sibling. An explicit SPARK_GRAFT_BENCH_OUT is the
    // caller's own choice — honored as given.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", {
      val otherCpus = readRecord(DefaultOut).exists(_.get("cpus").exists(_ != cpus))
      if (otherCpus) s"BENCH_LOCAL_c$cpus.json" else DefaultOut
    })
    val baseline = readRecord(out)
    val spark = Sessions.local(cpus)
    // SPARK_GRAFT_ONLY (dev loop; full sweeps leave it unset) restricts the
    // run to the selected queries and prints each one's formatted plan and
    // top-stage table after the sweep.
    val profile = Sessions.only.nonEmpty
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => Sessions.selected(name) }
    // The measured action is a NOOP WRITE, not count(): under count()
    // Catalyst prunes every column the count doesn't need — unreferenced
    // aggregate measures (q01's four decimal sums!) and final sorts drop
    // out of the executed plan, so count() times a cheaper query than the
    // one registered. The noop sink materializes every output row and
    // column through the unmodified plan — the honest cost. A rep that
    // throws is logged and records the -1 sentinel: a query that fails
    // quickly must never surface as a plausible-looking fast timing.
    def timeRep(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] FAILED $name: $e")
        -1.0
      }
    }
    // Global JVM warmup (untimed): ONE full sweep of every selected query
    // at the TIMED scale factor, so parquet readers, codegen/JIT, broadcast
    // and shuffle machinery are warm for ALL queries equally — no query's
    // timed run is favored by a targeted pre-run. Warming at a smaller SF
    // left first-touch file listing and large-input JIT on the first
    // queries in sorted order (q03 timed 4.20s single-shot vs 0.74s
    // min-of-3 at identical config, an attribution artifact).
    selected.foreach { case (name, fn) => timeRep(name, fn) }
    // one-time landing costs (bucketed catalog writes the warmup sweep
    // just paid) plus the session-memoized landed frames (scored pairs,
    // shingle groups, labels, CT profiles), reported beside the steady-
    // state times rather than invisible inside the untimed warmup.
    // Suffixes are the per-dir md5 — strip for stable keys across data dirs.
    val landings = (graft.io.Layout.drainLandingSecs()
      .map { case (t, s) => t.replaceAll("_[0-9a-f]{32}$", "") -> s }) ++
      graft.SessionMemos.drainBuildSecs()
        .map { case (n, s) => s"memo_$n" -> s }
    spark.catalog.clearCache()
    // Host calibration probe: one fixed cheap query — q96, memoized front-
    // end, ~fixed overhead, exactly what a scheduling/host probe wants —
    // is timed 3x right after warmup and again after the sweep; both
    // vectors land in the record with `host_drift` = end/start, so a host
    // that changed speed DURING the sweep is visible in the artifact.
    // Skipped under SPARK_GRAFT_ONLY (isolated dev timings; the probe
    // would only add noise).
    val calName = "q96_copurchase_pairs"
    def calibrate(): Seq[Double] = if (profile) Nil else
      SparkEntry.queries.get(calName).toSeq.flatMap(fn => (1 to 3).map(_ => timeRep(calName, fn)))
    val calStart = calibrate()
    // SPARK_GRAFT_REPS (dev-only) re-times each query N times and keeps
    // the minimum (isolates steady-state plan cost from codegen/JIT noise).
    // Default is 3, NOT 1: single-shot records showed 2-4x swings (q54
    // 6.89s vs 1.7s min-of-3 on the same code) that made regression
    // judgments impossible.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val stageLog = new StageLog
    if (profile) spark.sparkContext.addSparkListener(stageLog)
    // sorted order: stable per-query attribution across rounds (Map order
    // is hash-dependent, which made JIT-warmup cost land on random queries)
    val results = selected.map { case (name, fn) =>
      if (profile) spark.sparkContext.setLocalProperty(QueryProp, name)
      val times = (1 to reps).map(_ => timeRep(name, fn))
      val dt = if (times.exists(_ < 0)) -1.0 else times.min
      // drop cached/broadcast state between queries so late queries aren't
      // taxed by 50 predecessors' accumulated executor memory
      spark.catalog.clearCache()
      (name, dt, times)
    }
    spark.sparkContext.setLocalProperty(QueryProp, null)
    val plans = if (!profile) Nil else selected.map { case (name, fn) =>
      name -> (try fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"(no plan: $e)" })
    }
    // --- self-adjudication: a transient host-load spike can slow a whole
    // alphabetical block across ALL reps, and a rep vector alone cannot
    // distinguish that from a real regression. So the artifact carries its
    // own verdict, on TWO triggers, each re-measured at the end of the
    // sweep after the interference window has passed, BOTH vectors
    // landing in the record:
    //  1. SPIKE: min exceeds 3x the COMMITTED baseline min (and by >0.3s
    //     absolute — sub-second queries jitter 2-3x on noise alone);
    //  2. SETTLING: a min-based trigger is blind to a query whose reps are
    //     ALL inflated but monotone-DESCENDING — JIT/GC/code-cache settling
    //     after a 230-query sweep depresses every rep, and the min still
    //     reads high (q222's sf1 vector [33.8, 25.6, 18.3] vs 6.4-7.0s
    //     isolated). A strictly-descending vector with last/first < 0.7
    //     and min still >2x committed (+0.3s absolute) queues the same
    //     re-measure.
    // Adjudication rule (also in README): a slowdown is real only if the
    // re-measure confirms it; the committed cost of an adjudicated query is
    // min(queries[q], min(adjudicated[q])). Comparable only when the
    // baseline ran at the SAME scale factor and core count (mixing either
    // would mass-(non-)adjudicate); a record without a cpus field predates
    // that field — treated as comparable.
    val committed: Map[String, Double] = baseline
      .filter(r => r.get("sf").contains(sfDir) && r.get("cpus").forall(_ == cpus))
      .map(queryMins).getOrElse(Map.empty)
    val adjudicated = results.flatMap { case (name, dt, times) =>
      def over(factor: Double)(c: Double) =
        c > 0 && dt > factor * c && dt - c > 0.3
      val spike = committed.get(name).exists(over(3))
      val settling = committed.get(name).exists(over(2)) &&
        times.size >= 2 && times.head > 0 &&
        times.zip(times.tail).forall { case (a, b) => b < a } &&
        times.last / times.head < 0.7
      Option.when(spike || settling) {
        val again = (1 to reps).map(_ => timeRep(name, SparkEntry.queries(name)))
        spark.catalog.clearCache()
        (name, again)
      }
    }
    val calEnd = calibrate()
    // drift = SUM of the 3 reps end/start, not min/min: q96's min is
    // 40–100 ms — inside pure scheduling jitter — and the 3-rep sum
    // triples the probe's fixed cost. A failed probe rep (-1) voids it.
    val probeFailed = (calStart ++ calEnd).exists(_ < 0)
    val drift =
      if (!probeFailed && calStart.nonEmpty && calEnd.nonEmpty && calStart.sum > 0)
        calEnd.sum / calStart.sum
      else 1.0
    // failures carry a -1 sentinel; summing them would silently SHRINK
    // the headline total — exclude them (the per-query map still shows -1)
    val total = results.map(_._2).filter(_ >= 0).sum
    // adjudication-corrected total: each adjudicated query contributes
    // its best confirmed min; failed re-measure reps can never be the min
    val adjMin = adjudicated.flatMap { case (k, ts) =>
      val ok = ts.filter(_ >= 0)
      if (ok.isEmpty) None else Some(k -> ok.min)
    }.toMap
    val adjTotal = results
      .map { case (k, v, _) => math.min(v, adjMin.getOrElse(k, v)) }
      .filter(_ >= 0).sum
    def secs(ts: Seq[Double]) = ts.map(Json.sec)
    val record = ListMap[String, Any](
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> ListMap.from(results.map { case (k, v, _) => k -> Json.sec(v) }),
      // ALL rep times, not just the min: the full rep vector makes every
      // number in `queries` auditable post-hoc (spike vs regression)
      "reps" -> ListMap.from(results.map { case (k, _, ts) => k -> secs(ts) }),
      "adjudicated" -> ListMap.from(adjudicated.map { case (k, ts) => k -> secs(ts) }),
      "calibration" -> ListMap(
        "probe" -> calName, "start" -> secs(calStart), "end" -> secs(calEnd),
        "host_drift" -> Json.sec(drift), "probe_failed" -> probeFailed,
        // only a SLOWDOWN during the sweep makes the total incomparable
        // run-to-run; a speedup means the sweep STARTED slow, which the
        // adjudication vectors already show. Raw drift is always reported.
        "host_slowed" -> (!probeFailed && drift > 1.3)),
      "landings" -> ListMap.from(landings.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.sec(v) }),
      "adjusted_total" -> Json.sec(adjTotal), "cpus" -> cpus, "sf" -> sfDir,
      "total" -> total)
    // The full record goes to the artifact file — stdout keeps only the
    // bounded summary line below. Best-effort: a bench run must never fail
    // on a read-only working directory.
    try Files.write(Paths.get(out), (Json.write(record) + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $out: $e")
    }
    spark.stop() // drains the listener bus: every stage is in stageLog now
    plans.foreach { case (name, plan) =>
      println(s"== $name: formatted plan ==\n$plan")
      println(stageLog.table(name, reps))
    }
    println(summaryLine(results.map { case (k, v, _) => k -> v }, total, adjTotal,
      cpus, sfDir, drift, out))
  }

  private val DefaultOut = "BENCH_LOCAL.json"
  private val QueryProp = "graft.bench.query"
  private val MaxLine = 1800
  private val MaxFailedNames = 10

  /** A bench record read back, or None when the file is missing or does
    * not hold a JSON object. */
  private[graft] def readRecord(path: String): Option[ListMap[String, Any]] =
    try Json.read(Files.readString(Paths.get(path))) match {
      case r: ListMap[String, Any] @unchecked => Some(r)
      case _ => None
    } catch { case _: Exception => None }

  /** The per-query mins (`queries`) of a bench record. */
  private[graft] def queryMins(record: collection.Map[String, Any]): Map[String, Double] =
    record.get("queries").collect { case qs: collection.Map[String, Any] @unchecked =>
      qs.collect { case (k, n: Number) => k -> n.doubleValue }.toMap
    }.getOrElse(Map.empty)

  /** The last stdout line: headline totals, failures and as many of the
    * slowest queries as fit in `MaxLine` chars, so a log capture that
    * keeps the last ~2000 chars holds all of it. `"partial":true` marks
    * it as a summary; the full record is in `artifact`. `times` holds
    * each query's min, -1 when it failed. */
  private[graft] def summaryLine(times: Seq[(String, Double)], total: Double,
      adjTotal: Double, cpus: Int, sf: String, drift: Double, artifact: String): String = {
    val failed = times.collect { case (k, t) if t < 0 => k }
    val slowest = times.filter(_._2 >= 0).sortBy(-_._2)
    def line(nFailed: Int, nSlow: Int) = Json.write(ListMap[String, Any](
      "metric" -> "total", "value" -> total, "unit" -> "sec", "total" -> total,
      "adjusted_total" -> Json.sec(adjTotal), "cpus" -> cpus, "sf" -> sf,
      "host_drift" -> Json.sec(drift), "n_queries" -> times.size,
      "n_failed" -> failed.size, "failed" -> failed.take(nFailed),
      "slowest" -> ListMap.from(slowest.take(nSlow).map { case (k, t) => k -> Json.sec(t) }),
      "partial" -> true, "artifact" -> artifact))
    val nFailed = (math.min(failed.size, MaxFailedNames) to 0 by -1)
      .find(line(_, 0).length <= MaxLine).getOrElse(0)
    val nSlow = (1 to slowest.size).takeWhile(line(nFailed, _).length <= MaxLine)
      .lastOption.getOrElse(0)
    line(nFailed, nSlow)
  }

  private case class Stage(id: Int, tasks: Int, taskMs: Long, gcMs: Long,
      readBytes: Long, writeBytes: Long, ops: String)

  /** Completed stages of the profiled queries, attributed by the
    * `QueryProp` local property the timed loop sets around each query —
    * the local-mode stand-in for the Spark UI's stage table (which stage
    * burns the time, and how parallel it is). */
  private class StageLog extends SparkListener {
    private val owner = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Stage)]()

    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      Option(s.properties).flatMap(p => Option(p.getProperty(QueryProp)))
        .foreach(owner.put(s.stageInfo.stageId, _))

    override def onStageCompleted(c: SparkListenerStageCompleted): Unit =
      Option(owner.remove(c.stageInfo.stageId)).foreach { name =>
        val si = c.stageInfo
        val tm = si.taskMetrics
        // the RDD operation scopes identify the physical operators this
        // stage executes (WholeStageCodegen ids, Exchange, AQEShuffleRead)
        // — si.name is just the materialization callsite, useless under AQE
        val scopes = si.rddInfos.flatMap(_.scope).map(_.name).distinct
          .mkString("|").take(90)
        stages.add(name -> Stage(si.stageId, si.numTasks, tm.executorRunTime,
          tm.jvmGCTime, tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten,
          if (scopes.nonEmpty) scopes else si.name.takeWhile(_ != '\n').take(60)))
      }

    /** The top stages of `name` by task time, over all its timed reps. */
    def table(name: String, reps: Int): String = {
      val mine = stages.asScala.collect { case (`name`, s) => s }.toSeq
      val head = f"${"stage"}%6s ${"tasks"}%6s ${"taskSec"}%8s ${"gcSec"}%6s " +
        f"${"shReadMB"}%9s ${"shWriteMB"}%10s  operators"
      val rows = mine.sortBy(-_.taskMs).take(25).map { s =>
        f"${s.id}%6d ${s.tasks}%6d ${s.taskMs / 1e3}%8.2f ${s.gcMs / 1e3}%6.2f " +
          f"${s.readBytes / 1e6}%9.1f ${s.writeBytes / 1e6}%10.1f  ${s.ops}"
      }
      val tot = mine.map(_.taskMs).sum / 1e3
      (s"== $name: top stages by task seconds ($reps reps) ==" +: head +: rows :+
        f"${mine.size} stages, $tot%.2f task-seconds").mkString("\n")
    }
  }
}
