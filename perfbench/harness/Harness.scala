package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** JVM side of the benchmark: runs one workload against the program's
  * public entry points, times it, and writes the whole record as JSON to
  * `out`. run.py builds this file, generates the inputs, turns the record
  * into metrics and checks correctness against the DuckDB oracle.
  *
  * Arguments are `key=value` pairs: workload, ops (comma list), data, work,
  * seed, seconds, trace (0|1), cores, min_passes, out; the stream workload
  * takes arrivals and refresh_every in place of ops.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val rec = new Record
    rec("jvm_start_ms") = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val run = new Run(a, rec)
    try run.go()
    finally {
      rec("stop_at_s") = run.sinceStart
      run.stop()
      rec("stopped_at_s") = run.sinceStart
      Files.writeString(Paths.get(a("out")), Json(rec.toMap))
    }
  }
}

/** Ordered string-keyed record that renders to JSON. */
final class Record {
  private val m = mutable.LinkedHashMap[String, Any]()
  def update(k: String, v: Any): Unit = m(k) = v
  def toMap: collection.Map[String, Any] = m
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case r: Record => apply(r.toMap)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Per-phase Spark counters, summed over the jobs attributed to a phase.
  * Times add up in the integer units Spark reports them in. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskFailures = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
  var shufReadB = 0L; var shufWriteB = 0L; var spillB = 0L
  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_failures" -> taskFailures, "task_run_ms" -> runMs,
    "task_cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "sched_delay_ms" -> schedMs,
    "shuffle_read_bytes" -> shufReadB, "shuffle_write_bytes" -> shufWriteB,
    "spill_bytes" -> spillB)
}

/** Attributes every Spark job, stage and task to the op and phase that
  * started it. Batch ops tag their jobs through the job group and a
  * `perfbench.phase` local property, so jobs started while a DataFrame is
  * being built count too. Streaming jobs run on the query's own thread
  * under its own group, so they are attributed by start time to the
  * micro-batch op whose window holds it. Only jobs seen while `active`
  * count. */
final class Tracer extends SparkListener {
  @volatile var active = false
  /** (opId, phase) -> counters */
  val byPhase = new java.util.concurrent.ConcurrentHashMap[(String, String), Counters]()
  private val stageKey = new java.util.concurrent.ConcurrentHashMap[Int, (String, String)]()
  /** stream op windows: (startMs, endMs, opId) */
  val windows = new java.util.concurrent.CopyOnWriteArrayList[(Long, Long, String)]()

  private def counters(k: (String, String)) =
    byPhase.computeIfAbsent(k, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
    val phase = p.flatMap(x => Option(x.getProperty("perfbench.phase")))
    val key = (group, phase) match {
      case (Some(g), Some(ph)) if g.startsWith("perfbench:") => Some((g.stripPrefix("perfbench:"), ph))
      case _ =>
        windows.asScala.find(w => e.time >= w._1 && e.time <= w._2).map(w => (w._3, "exec"))
    }
    key.foreach { k =>
      e.stageIds.foreach(s => stageKey.put(s, k))
      val c = counters(k); c.synchronized { c.jobs += 1 }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
      val c = counters(k); c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { k =>
      val c = counters(k)
      val m = e.taskMetrics
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (info != null && info.failed) c.taskFailures += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shufReadB += m.shuffleReadMetrics.totalBytesRead
          c.shufWriteB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          if (info != null) {
            val d = info.duration - m.executorRunTime - m.executorDeserializeTime -
              m.resultSerializationTime - info.gettingResultTime
            c.schedMs += math.max(0L, d)
          }
        }
      }
    }

  /** Counters of one op, merged over phases -> phase name. */
  def phasesOf(opId: String): Map[String, Counters] =
    byPhase.asScala.collect { case ((o, ph), c) if o == opId => ph -> c }.toMap
}

/** One benchmark run. */
final class Run(a: Map[String, String], rec: Record) {
  private val workload = a("workload")
  private val dataDir = a("data")
  private val work = a("work")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val cores = a("cores").toInt
  /** timed passes at least; a traced run alternates untraced and traced
    * passes and needs three of each for medians */
  private val minPasses = if (traced) 6 else a("min_passes").toInt
  private val setups = 3
  /** the timed phase stops here even short of min_passes, so a slowed-down
    * program still ends inside the run's time limit */
  private val MaxTimedS = 90.0

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()

  /** seconds since the JVM started */
  def sinceStart: Double =
    (System.currentTimeMillis() - rec.toMap("jvm_start_ms").asInstanceOf[Long]) / 1e3
  /** Traced runs order passes U T T U U T ..., so a pass-to-pass trend
    * (the JIT still settling) weighs on both kinds alike. */
  private def tracedPass(p: Int) = traced && (p % 4 == 1 || p % 4 == 2)
  private def now = System.nanoTime()
  private def secs(t0: Long) = (now - t0) / 1e9

  /** The run's one SparkSession; its warehouse lives in the run's
    * temporary directory. */
  private def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (traced) {
      tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
    }
    rec("session_ready_at_s") = sinceStart
  }

  /** Forget everything a set-up made: drop the session memos and every
    * landed catalog table, so the next set-up rebuilds them all. */
  private def resetSetup(): Unit = {
    graft.SessionMemos.clearAll()
    spark.catalog.listTables().collect().foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Bytes under the warehouse plus block-manager bytes held by cached and
    * checkpointed RDDs. */
  private def retainedMb(): Double = {
    val wh = Paths.get(s"$work/warehouse")
    val landed =
      if (!Files.exists(wh)) 0L
      else Files.walk(wh).iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
    val blocks = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    (landed + blocks) / 1e6
  }

  private def drainListener(): Unit =
    if (traced) org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

  def go(): Unit = {
    rec("workload") = workload
    rec("seed") = seed
    rec("cores") = cores
    rec("nproc") = Runtime.getRuntime.availableProcessors()
    rec("heap_mb") = Runtime.getRuntime.maxMemory() / (1L << 20)
    rec("trace") = traced
    workload match {
      case "ingest_stream" => new StreamWorkload().go()
      case _ => new BatchWorkload(a("ops").split(",").toSeq).go()
    }
    rec("spans") = spans
  }

  // ------------------------------------------------------------ batch

  final class BatchWorkload(names: Seq[String]) {
    private val registry = graft.SparkEntry.queries
    private val oracles = graft.SparkEntry.oracleSql
    names.foreach(n => require(registry.contains(n), s"unknown query $n"))
    /** module = package of the registry object whose defs built the query */
    private def moduleOf(n: String): String = {
      val cls = registry(n).getClass.getName.split('.')
      if (cls.length > 2 && cls(0) == "graft") cls(1) else "other"
    }

    private def runOp(n: String, opId: String, trace: Boolean): Double = {
      val sc = spark.sparkContext
      val fn = registry(n)
      val t0 = now
      if (!trace) {
        fn(spark, dataDir).write.format("noop").mode("overwrite").save()
        return secs(t0)
      }
      sc.setJobGroup("perfbench:" + opId, n, interruptOnCancel = false)
      try {
        sc.setLocalProperty("perfbench.phase", "build")
        val tb = now
        val df = fn(spark, dataDir)
        val build = secs(tb)
        sc.setLocalProperty("perfbench.phase", "plan")
        val tp = now
        df.queryExecution.executedPlan
        val plan = secs(tp)
        sc.setLocalProperty("perfbench.phase", "exec")
        val te = now
        df.write.format("noop").mode("overwrite").save()
        val exec = secs(te)
        val wall = secs(t0)
        spans += Map("op" -> opId, "name" -> n, "module" -> moduleOf(n),
          "wall_s" -> wall, "build_s" -> build, "plan_s" -> plan, "exec_s" -> exec)
        wall
      } finally {
        sc.setLocalProperty("perfbench.phase", null)
        sc.clearJobGroup()
      }
    }

    /** Order-independent digest of a result, in run.py's canonical form. */
    private def digest(df: DataFrame): (Long, String) = {
      val cols = df.columns.zipWithIndex.sortBy(_._1)
      val rows = df.collect()
      val hashes = rows.map { r =>
        val s = cols.map { case (_, i) => Canon(r, i) }.mkString("\u0001")
        Canon.md5(s)
      }.sorted
      val header = cols.map(_._1).mkString("\u0001")
      (rows.length.toLong, Canon.sha256(header + "\n" + hashes.mkString("\n")))
    }

    def go(): Unit = {
      val results = mutable.LinkedHashMap[String, Map[String, Any]]()
      val failures = mutable.ArrayBuffer[Map[String, Any]]()
      val setupRounds = mutable.ArrayBuffer[Double]()
      var setupOps = Seq.empty[String]
      val landings = mutable.LinkedHashMap[String, Double]()
      val memos = mutable.LinkedHashMap[String, Double]()

      // Round 1 runs every op once, cold, keeping each result's digest for
      // the correctness check, and finds the set-up ops: those that land a
      // table or build a memo. Each later round drops every memo and landed
      // table and runs every op again, so the timed passes start warm. A
      // round's set-up time is what its set-up ops took.
      startSession()
      graft.io.Layout.drainLandingSecs(); graft.SessionMemos.drainBuildSecs()
      val firstS = mutable.Map[String, Double]()
      names.foreach { n =>
        val t0 = now
        try {
          val df = registry(n)(spark, dataDir)
          val build = secs(t0)
          val (rows, dg) = digest(df)
          firstS(n) = secs(t0)
          results(n) = Map("rows" -> rows, "digest" -> dg, "module" -> moduleOf(n),
            "oracle" -> oracles.get(n), "first_build_s" -> build, "first_s" -> firstS(n))
        } catch { case e: Throwable =>
          failures += Map("op" -> n, "phase" -> "first", "error" -> e.toString)
          results(n) = Map("rows" -> -1L, "error" -> e.toString,
            "module" -> moduleOf(n), "oracle" -> oracles.get(n))
        }
        val l = graft.io.Layout.drainLandingSecs()
        val m = graft.SessionMemos.drainBuildSecs()
        if (l.nonEmpty || m.nonEmpty) setupOps :+= n
      }
      setupRounds += setupOps.flatMap(firstS.get).sum
      rec("retained_mb") = retainedMb()
      for (_ <- 2 to setups) {
        resetSetup()
        landings.clear(); memos.clear()
        var setupS = 0.0
        names.foreach { n =>
          try {
            val s = runOp(n, s"setup:$n", trace = false)
            if (setupOps.contains(n)) setupS += s
          } catch { case e: Throwable =>
            failures += Map("op" -> n, "phase" -> "setup", "error" -> e.toString)
          }
          graft.io.Layout.drainLandingSecs()
            .foreach { case (k, v) => landings(k.replaceAll("_[0-9a-f]{32}$", "")) = v }
          memos ++= graft.SessionMemos.drainBuildSecs()
        }
        setupRounds += setupS
      }
      rec("setup_rounds_s") = setupRounds
      rec("setup_ops") = setupOps
      rec("landings_s") = landings
      rec("memo_builds_s") = memos
      rec("landed_tables") = landings.size
      rec("memo_builds") = memos.size
      rec("broadcast_approvals") = graft.Dist.approvedRdds(spark.sparkContext).size
      rec("results") = results

      // timed passes, each over every op in a seeded order; a traced run
      // interleaves untraced and traced passes (see tracedPass) so it can
      // report the tracing overhead
      if (traced) tracer.active = true
      val rng = new scala.util.Random(seed)
      rec("first_op_at_s") = sinceStart
      val passes = mutable.ArrayBuffer[Map[String, Any]]()
      val ops = mutable.ArrayBuffer[Map[String, Any]]()
      val start = now
      var p = 0
      def enough = {
        val el = secs(start)
        (el >= seconds && p >= minPasses) || el >= MaxTimedS
      }
      while (!enough) {
        val tracePass = tracedPass(p)
        val order = rng.shuffle(names)
        val tp = now
        var failed = 0
        order.foreach { n =>
          val opId = s"p$p:$n"
          try {
            val s = runOp(n, opId, tracePass)
            ops += Map("pass" -> p, "name" -> n, "module" -> moduleOf(n), "s" -> s,
              "traced" -> tracePass)
          } catch { case e: Throwable =>
            failed += 1
            failures += Map("op" -> n, "phase" -> s"pass$p", "error" -> e.toString)
            ops += Map("pass" -> p, "name" -> n, "module" -> moduleOf(n), "s" -> null,
              "traced" -> tracePass, "error" -> e.toString)
          }
        }
        passes += Map("pass" -> p, "s" -> secs(tp), "traced" -> tracePass, "failed" -> failed)
        p += 1
      }
      rec("timed_s") = secs(start)
      rec("passes") = passes
      rec("ops") = ops
      rec("failures") = failures
      if (traced) {
        drainListener()
        tracer.active = false
        rec("phases") = spans.map(_("op").toString).distinct.map { id =>
          id -> tracer.phasesOf(id).map { case (ph, c) => ph -> c.toMap }
        }.toMap
      }
    }
  }

  // ----------------------------------------------------------- stream

  /** Seeded arrivals screened by the landed precedence door; every
    * `refresh_every` micro-batches the ingested docs join the corpus,
    * the catalog re-lands and the query restarts from its checkpoint. */
  final class StreamWorkload {
    import graft.streaming.Streaming
    import graft.streaming.Streaming.UrlDocIngestRow
    private val refreshEvery = a("refresh_every").toInt
    private val corpusDir = s"$work/corpus"
    private val ckpt = s"$work/checkpoint"
    private val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    private val arrivals = Arrivals.load(a("arrivals"))
    private var nextBatch = 0
    private var cat: Streaming.IngestCatalog = _
    private var stream: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[UrlDocIngestRow] = _
    private var query: StreamingQuery = _
    private var lastProgressId = -1L
    private val progress = mutable.ArrayBuffer[Map[String, Any]]()
    private val corpusFiles = mutable.ArrayBuffer[String]()

    private def corpusFrame(files: Seq[String]) = spark.read.parquet(files: _*)

    private def land(): Unit = {
      cat = Streaming.ensureIngestCatalog(spark, corpusDir, corpusFrame(corpusFiles.toSeq))
    }

    private def startQuery(): Unit = {
      val sink = emitted
      query = Streaming.ingestPrecedenceStreamLanded(spark, stream.toDF(), cat)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach(r => sink.add((r.getLong(0), r.getString(1))))
        }
        .start()
    }

    private def newStream(): Unit = {
      val s = spark
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[UrlDocIngestRow]
    }

    /** Progress of every trigger since the last call (lastProgress is
      * the no-data trigger that follows each batch). */
    private def readProgress(opId: String): Unit =
      query.recentProgress.filter(_.batchId > lastProgressId).foreach { pr =>
        lastProgressId = pr.batchId
        val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.toMap
        val st = pr.stateOperators
        progress += Map("op" -> opId, "batch" -> pr.batchId, "in" -> pr.numInputRows,
          "add_batch_s" -> d.getOrElse("addBatch", 0.0),
          "query_planning_s" -> d.getOrElse("queryPlanning", 0.0),
          "wal_commit_s" -> (d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)),
          "trigger_s" -> d.getOrElse("triggerExecution", 0.0),
          "state_rows" -> st.map(_.numRowsTotal).sum,
          "state_bytes" -> st.map(_.memoryUsedBytes).sum)
      }

    private def addBatch(rows: Seq[UrlDocIngestRow]): Unit = {
      stream.addData(rows)
      query.processAllAvailable()
    }

    def go(): Unit = {
      val setupRounds = mutable.ArrayBuffer[Double]()
      val landings = mutable.LinkedHashMap[String, Double]()
      // A set-up is the corpus catalog landing and the query start. Round 1
      // then runs the warm-up batches and the last round one more; each
      // later round first drops the landed tables and the checkpoint, so
      // it lands and starts cold.
      startSession()
      val base = s"$corpusDir/part-base.parquet"
      spark.read.parquet(s"$dataDir/documents.parquet")
        .selectExpr("doc_id", s"concat('https://', source, '${Arrivals.CorpusHost}', doc_id) AS url",
          "text")
        .coalesce(1).write.parquet(base)
      corpusFiles += base
      for (round <- 1 to setups) {
        if (round > 1) { query.stop(); resetSetup(); deleteTree(Paths.get(ckpt)) }
        graft.io.Layout.drainLandingSecs()
        val t0 = now
        land()
        newStream()
        startQuery()
        setupRounds += secs(t0)
        landings.clear()
        graft.io.Layout.drainLandingSecs()
          .foreach { case (k, v) => landings(k.replaceAll("_[0-9a-f]{32}$", "")) = v }
        if (round == 1) {
          arrivals.warmup.foreach(b => addBatch(b.map(_.row)))
          rec("retained_mb") = retainedMb()
        }
      }
      addBatch(arrivals.warmup.last.map(_.row))
      lastProgressId = query.lastProgress match { case null => -1L; case p => p.batchId }
      rec("setup_rounds_s") = setupRounds
      rec("landings_s") = landings
      rec("landed_tables") = landings.size
      rec("memo_builds") = 0
      rec("memo_builds_s") = Map.empty[String, Double]
      rec("broadcast_approvals") = graft.Dist.approvedRdds(spark.sparkContext).size
      rec("first_op_at_s") = sinceStart

      val cycles = mutable.ArrayBuffer[Map[String, Any]]()
      val ops = mutable.ArrayBuffer[Map[String, Any]]()
      val failures = mutable.ArrayBuffer[Map[String, Any]]()
      val cycleOf = mutable.LinkedHashMap[Int, Int]() // batch -> cycle
      val corpusAt = mutable.ArrayBuffer[Seq[String]]()
      if (traced) tracer.active = true
      val start = now
      var c = 0
      def enough = {
        val el = secs(start)
        (el >= seconds && c >= minPasses) || el >= MaxTimedS || nextBatch + refreshEvery > arrivals.timed.length
      }
      while (!enough) {
        val traceCycle = tracedPass(c)
        val tc = now
        corpusAt += corpusFiles.toSeq
        (1 to refreshEvery).foreach { _ =>
          val b = nextBatch; nextBatch += 1
          cycleOf(b) = c
          val opId = s"b$b"
          val t0 = System.currentTimeMillis()
          if (traceCycle) tracer.windows.add((t0, Long.MaxValue, opId))
          val tb = now
          try {
            addBatch(arrivals.timed(b).map(_.row))
            val s = secs(tb)
            ops += Map("batch" -> b, "cycle" -> c, "s" -> s, "docs" -> arrivals.timed(b).length,
              "traced" -> traceCycle)
          } catch { case e: Throwable =>
            failures += Map("op" -> opId, "phase" -> "batch", "error" -> e.toString)
            ops += Map("batch" -> b, "cycle" -> c, "s" -> null, "error" -> e.toString,
              "traced" -> traceCycle)
          }
          if (traceCycle) tracer.windows.set(tracer.windows.size - 1,
            (t0, System.currentTimeMillis(), opId))
          readProgress(opId)
        }
        // refresh: the docs ingested so far join the corpus, the catalog
        // re-lands and the query restarts from its checkpoint
        val tr = now
        query.stop()
        readProgress(s"r$c")
        val ingested = emitted.asScala.filter(_._2 == "ingested").map(_._1).toSet
        val fresh = (0 until nextBatch).flatMap(arrivals.timed(_))
          .filter(d => ingested.contains(d.row.doc_id))
          .filterNot(d => appended.contains(d.row.doc_id))
        fresh.foreach(d => appended += d.row.doc_id)
        val file = s"$corpusDir/part-c$c.parquet"
        val s = spark
        import s.implicits._
        fresh.map(d => (d.row.doc_id, d.row.url, d.row.text)).toDF("doc_id", "url", "text")
          .coalesce(1).write.parquet(file)
        corpusFiles += file
        land()
        startQuery()
        val refresh = secs(tr)
        cycles += Map("pass" -> c, "s" -> secs(tc), "refresh_s" -> refresh,
          "appended" -> fresh.length, "traced" -> traceCycle)
        c += 1
      }
      val timed = secs(start)
      if (traced) { drainListener(); tracer.active = false }
      rec("rows_out") = emitted.asScala.count(_._1 >= Arrivals.TimedIdBase)
      rec("timed_s") = timed
      rec("passes") = cycles
      rec("ops") = ops
      rec("progress") = progress
      val l = graft.io.Layout.drainLandingSecs()
      rec("refresh_landings_s") = l

      // flush: a far-future row finalizes every open window (untimed)
      addBatch(Seq(UrlDocIngestRow(-1L, new java.sql.Timestamp(arrivals.horizonMs),
        "https://flush.example/", "flush")))
      query.stop()
      checkStream(cycleOf, corpusAt.toSeq, failures)
      rec("failures") = failures
      if (traced)
        rec("phases") = ops.map(o => s"b${o("batch")}").map { id =>
          id -> tracer.phasesOf(id).map { case (ph, cc) => ph -> cc.toMap }
        }.toMap
    }

    private val appended = mutable.Set[Long]()

    /** Each doc must get exactly one status, equal to its planted class
      * and to the batch door's verdict on the same rows and corpus. */
    private def checkStream(cycleOf: collection.Map[Int, Int], corpusAt: Seq[Seq[String]],
        failures: mutable.ArrayBuffer[Map[String, Any]]): Unit = {
      val s = spark
      import s.implicits._
      val got = emitted.asScala.toSeq.filter(_._1 >= 0).groupBy(_._1)
      // one batch-door run per cycle, against that cycle's corpus; the
      // cycles run side by side
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val batchGot = cycleOf.values.toSeq.distinct.sorted.map { c =>
        val docs = cycleOf.collect { case (b, cc) if cc == c => b }.toSeq.sorted
          .flatMap(arrivals.timed(_)).map(d => (d.row.doc_id, d.row.ts, d.row.url, d.row.text))
        val frame = docs.toDF("doc_id", "ts", "url", "text")
        Future(Streaming.ingestPrecedenceStream(frame, corpusFrame(corpusAt(c)))
          .collect().map(r => r.getLong(0) -> r.getString(1)))
      }.flatMap(f => Await.result(f, scala.concurrent.duration.Duration.Inf)).toMap
      var docsChecked = 0; var docsFailed = 0
      val badBatches = mutable.LinkedHashMap[Int, String]()
      cycleOf.keys.toSeq.sorted.foreach { b =>
        arrivals.timed(b).foreach { d =>
          docsChecked += 1
          val id = d.row.doc_id
          val st = got.getOrElse(id, Nil).map(_._2)
          val why =
            if (st.length != 1) Some(s"doc $id got ${st.length} statuses")
            else if (st.head != d.planted) Some(s"doc $id ${st.head} != planted ${d.planted}")
            else if (!batchGot.get(id).contains(st.head))
              Some(s"doc $id stream ${st.head} != batch ${batchGot.get(id)}")
            else None
          why.foreach { w => docsFailed += 1; if (!badBatches.contains(b)) badBatches(b) = w }
        }
      }
      badBatches.foreach { case (b, w) =>
        failures += Map("op" -> s"b$b", "phase" -> "check", "error" -> w)
      }
      rec("docs_checked") = docsChecked
      rec("docs_failed") = docsFailed
      rec("failed_batches") = badBatches.keys.toSeq
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
}

/** One planted arrival: the row and the status it must receive. */
final case class Arrival(row: graft.streaming.Streaming.UrlDocIngestRow, planted: String)

/** Arrivals drawn by run.py, as tab-separated lines
  * `section batch doc_id ts_ms url planted text`. */
final case class Arrivals(warmup: Seq[Seq[Arrival]], timed: IndexedSeq[Seq[Arrival]],
    horizonMs: Long)

object Arrivals {
  /** base-corpus URLs are https://<source><CorpusHost><doc_id>, as in
    * run.py's generator */
  val CorpusHost = ".example/doc/"
  /** doc ids of timed arrivals start here (run.py's generator) */
  val TimedIdBase = 2000000000L

  def load(path: String): Arrivals = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty)
    val parsed = lines.map(_.split("\t", 7)).map { f =>
      (f(0), f(1).toInt, Arrival(graft.streaming.Streaming.UrlDocIngestRow(
        f(2).toLong, new java.sql.Timestamp(f(3).toLong), f(4), f(6)), f(5)))
    }
    def group(sec: String) = parsed.filter(_._1 == sec).groupBy(_._2).toSeq.sortBy(_._1)
      .map(_._2.map(_._3).toSeq).toIndexedSeq
    val all = parsed.map(_._3.row.ts.getTime)
    Arrivals(group("warmup"), group("timed"), all.max + 48L * 3600 * 1000)
  }
}

/** Canonical value rendering shared with run.py's oracle digest: exact
  * decimal expansion for floating point, epoch micros for timestamps. */
object Canon {
  def apply(r: Row, i: Int): String = if (r.isNullAt(i)) "N" else r.get(i) match {
    case b: Boolean => if (b) "b1" else "b0"
    case n: Byte => "i" + n
    case n: Short => "i" + n
    case n: Int => "i" + n
    case n: Long => "i" + n
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case d: java.math.BigDecimal => "d" + dec(d)
    case d: scala.math.BigDecimal => "d" + dec(d.bigDecimal)
    case s: String => "s" + s.codePointCount(0, s.length) + ":" + s
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case b: Array[Byte] => "x" + b.map("%02x".format(_)).mkString
    case o => "?" + o.toString
  }
  private def dbl(d: Double): String =
    if (d.isNaN) "fnan" else if (d.isInfinite) (if (d > 0) "f+inf" else "f-inf")
    else if (d == 0.0) "f0" else "f" + dec(new java.math.BigDecimal(d))
  private def dec(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
  private def hex(algo: String, s: String) =
    java.security.MessageDigest.getInstance(algo).digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  def md5(s: String): String = hex("MD5", s)
  def sha256(s: String): String = hex("SHA-256", s)
}
