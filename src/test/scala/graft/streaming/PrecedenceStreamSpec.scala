package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec

/** The composed ingest PRECEDENCE census (q233's ordering) on the stream:
  * the four doors are individually stream-proven, but the first-match
  * ordering dup_url ≻ exact_dup ≻ near_dup ≻ contained ≻ ingested was
  * only batch-gated before this. The fixture plants a doc in EVERY
  * overlap class (a URL re-discovery that is also a verbatim copy, a
  * verbatim copy under a fresh URL, a one-token mutation, a snippet, a
  * novel doc), so a wrong precedence — not just a wrong screen — moves a
  * status. Stream and batch must agree doc-by-doc, and the job may hold
  * no join state. */
class PrecedenceStreamSpec extends SparkSpec {

  private def toks(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  private def rowsOf(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  /** The physical plan of a streaming query's latest micro-batch. */
  private def lastBatchPlan(q: StreamingQuery): SparkPlan =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan

  test("streamed precedence census ≡ batch, all five classes exercised, no join state") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val textA = toks("aa", 30); val textB = toks("bb", 30)
    val textC = toks("cc", 30); val textD = toks("dd", 30)
    val corpus = Seq(
      (1L, "https://x.example/p1", textA),
      (2L, "https://x.example/p2", textB),
      (3L, "https://x.example/p3", textC),
      (4L, "https://x.example/p4", textD)
    ).toDF("doc_id", "url", "text")

    val mutatedC = (textC.split(" ").dropRight(1) :+ "zzplanted").mkString(" ")
    // one-token mutation: |∩| = 29 of |∪| = 31 → jaccard ≈ 0.935 ≥ 0.9
    assert(10000L * 29 / 31 >= 9000)
    val halfD = textD.split(" ").take(15).mkString(" ")
    val incoming = Seq(
      // URL re-discovery AND verbatim copy: every screen fires → dup_url
      (101L, "https://x.example/p1", textA, "dup_url"),
      // verbatim copy under a fresh URL: e/n/c fire → exact_dup wins
      (102L, "https://x.example/q102", textB, "exact_dup"),
      // one-token mutation: near fires (contained may not) → near_dup
      (103L, "https://x.example/q103", mutatedC, "near_dup"),
      // contiguous snippet: contained fires, jaccard 0.5 → contained
      (104L, "https://x.example/q104", halfD, "contained"),
      // novel vocabulary → ingested
      (105L, "https://x.example/q105", toks("nn", 25), "ingested"))
    val expected = incoming.map { case (id, _, _, st) => (id, st) }.sorted

    // batch twin: the SAME function over a batch frame (watermark no-ops)
    val batchRows = incoming.map { case (id, u, t, _) =>
      (id, new java.sql.Timestamp(1700000000000L), u, t)
    }.toDF("doc_id", "ts", "url", "text")
    val batchGot = Streaming.ingestPrecedenceStream(batchRows, corpus)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(batchGot == expected, s"batch census wrong: $batchGot")

    val base = 1700000000000L
    val rows = incoming.zipWithIndex.map { case ((id, u, t, _), i) =>
      Streaming.UrlDocIngestRow(id, new java.sql.Timestamp(base + i * 20000L), u, t)
    }
    val stream = MemoryStream[Streaming.UrlDocIngestRow]
    val q = Streaming.ingestPrecedenceStream(stream.toDF(), corpus)
      .writeStream.format("memory").queryName("precedence_stream")
      .outputMode("append").start()
    try {
      val (a, b) = rows.splitAt(2)
      stream.addData(a.toSeq); q.processAllAvailable()
      stream.addData(b.toSeq); q.processAllAvailable()
      // horizon-advancing poison row finalizes every window
      stream.addData(Streaming.UrlDocIngestRow(-1L,
        new java.sql.Timestamp(base + 48L * 3600 * 1000),
        "https://x.example/poison", "pp1 pp2 pp3 pp4"))
      q.processAllAvailable()
      // the only state is the final (window, doc) fold — every corpus
      // join is stream-static; join state here would mean a door
      // composition re-introduced a stream-stream join
      val ops = q.recentProgress.flatMap(_.stateOperators)
        .map(_.operatorName).distinct.toSeq
      assert(ops.nonEmpty && ops.forall(o => !o.toLowerCase.contains("join")),
        s"precedence census must hold no join state, found: $ops")
    } finally q.stop()

    val streamGot = spark.table("precedence_stream").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      .filter(_._1 >= 0).sorted
    assert(streamGot.map(_._1).distinct.length == streamGot.length,
      "a doc emitted twice")
    assert(streamGot == expected,
      s"stream census $streamGot != expected $expected")
  }

  test("landed-catalog door ≡ inline door; a stream RESTART re-lands nothing") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val textA = toks("la", 30); val textB = toks("lb", 30)
    // cor 9 repeats cor 12's text: every near-dup and containment score
    // against textB ties, and the lower cor_id (9) must win
    val corpusRows = Seq(
      (11L, "https://y.example/p11", textA),
      (12L, "https://y.example/p12", textB),
      (9L, "https://y.example/p9", textB))
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingate-").toString
    corpusRows.toDF("doc_id", "url", "text").write.parquet(s"$tmp/corpus")
    // FILE-backed corpus: ensureBucketed's fingerprint is then the input
    // files' (path, length, mtime) — the metadata-only mtime lock this
    // test exists to exercise (an in-memory fixture would fall back to
    // the content-aggregate fingerprint, which re-scans on every check)
    val corpus = spark.read.parquet(s"$tmp/corpus")

    val mutatedB = (textB.split(" ").dropRight(1) :+ "qqplanted").mkString(" ")
    val incoming = Seq(
      (201L, "https://y.example/p11", textA, "dup_url"),
      (202L, "https://y.example/q202", textA, "exact_dup"),
      (203L, "https://y.example/q203", mutatedB, "near_dup"),
      (204L, "https://y.example/q204", textB.split(" ").take(15).mkString(" "),
        "contained"),
      (205L, "https://y.example/q205", toks("qq", 25), "ingested"),
      (206L, "https://y.example/q206", "", "ingested"))
    val expected = incoming.map { case (id, _, _, st) => (id, st) }.sorted
    val base = 1700000000000L
    val batchRows = incoming.map { case (id, u, t, _) =>
      (id, new java.sql.Timestamp(base), u, t)
    }.toDF("doc_id", "ts", "url", "text")

    graft.io.Layout.drainLandingSecs() // reset the global landing log
    val cat = Streaming.ensureIngestCatalog(spark, s"$tmp/corpus", corpus)
    val landed1 = graft.io.Layout.drainLandingSecs().keySet
    assert(landed1.exists(_.startsWith("graft_ingate_")),
      "first ensure must actually land the catalog")

    // landed door ≡ inline door on the batch frame (same core, landed sides)
    val inlineGot = Streaming.ingestPrecedenceStream(batchRows, corpus)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val landedGot = Streaming.ingestPrecedenceStreamLanded(spark, batchRows, cat)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(inlineGot == expected, s"inline census wrong: $inlineGot")
    assert(landedGot == expected, s"landed census diverged: $landedGot")

    // the near-dup and containment doors over the same catalog: the
    // landed doors' (doc_id, best_match, bp) rows equal the inline doors'
    // row for row, and the textB ties break to the lower cor_id
    val nearGot = rowsOf(Streaming.nearDupIngestStreamLanded(spark, batchRows, cat))
    assert(nearGot == rowsOf(Streaming.nearDupIngestStream(batchRows, corpus)),
      s"landed near door diverged: $nearGot")
    // one-token mutation: |∩| 29 of |∪| 31 → bp 9354
    assert(nearGot == Seq((201L, 11L, 10000L), (202L, 11L, 10000L), (203L, 9L, 9354L)),
      s"landed near door: $nearGot")
    val contGot = rowsOf(Streaming.containmentIngestStreamLanded(spark, batchRows, cat))
    assert(contGot == rowsOf(Streaming.containmentIngestStream(batchRows, corpus)),
      s"landed containment door diverged: $contGot")
    // 27 of 203's 28 trigrams are textB's → 9642; 204 is a textB prefix
    assert(contGot == Seq((201L, 11L, 10000L), (202L, 11L, 10000L), (203L, 9L, 9642L),
      (204L, 9L, 10000L)), s"landed containment door: $contGot")
    val index = Streaming.corpusIndex(spark, cat)

    // RESTART: a second ensure + a fresh streaming query. The fingerprint
    // lock must re-validate from file metadata and land NOTHING — at
    // 100 TB this is the difference between a restart and a corpus rescan.
    graft.SessionMemos.drainBuildSecs()
    val cat2 = Streaming.ensureIngestCatalog(spark, s"$tmp/corpus", corpus)
    assert(cat2 == cat)
    val reland = graft.io.Layout.drainLandingSecs().keySet
      .filter(_.startsWith("graft_ingate_"))
    assert(reland.isEmpty, s"restart re-landed: $reland")

    val rows = incoming.zipWithIndex.map { case ((id, u, t, _), i) =>
      Streaming.UrlDocIngestRow(id, new java.sql.Timestamp(base + i * 20000L), u, t)
    }
    val stream = MemoryStream[Streaming.UrlDocIngestRow]
    val q = Streaming.ingestPrecedenceStreamLanded(spark, stream.toDF(), cat2)
      .writeStream.format("memory").queryName("precedence_landed")
      .outputMode("append").start()
    try {
      stream.addData(rows)
      q.processAllAvailable()
      stream.addData(Streaming.UrlDocIngestRow(-1L,
        new java.sql.Timestamp(base + 48L * 3600 * 1000),
        "https://y.example/poison", "pp1 pp2 pp3 pp4"))
      q.processAllAvailable()
      val ops = q.recentProgress.flatMap(_.stateOperators)
        .map(_.operatorName).distinct.toSeq
      assert(ops.nonEmpty && ops.forall(o => !o.toLowerCase.contains("join")),
        s"landed census must hold no join state, found: $ops")
      // a micro-batch probes the broadcast index: no corpus scan, no
      // broadcast exchange re-run per trigger
      val plan = lastBatchPlan(q)
      val perTrigger = plan.collectWithSubqueries {
        case p: BroadcastExchangeExec => p
        case p: FileSourceScanExec => p
      }
      assert(perTrigger.isEmpty, s"landed micro-batch re-reads the corpus:\n$plan")
    } finally q.stop()
    assert(Streaming.corpusIndex(spark, cat2) eq index,
      "the restart must reuse the catalog generation's index")
    assert(!graft.SessionMemos.drainBuildSecs().contains("ingest_index"),
      "the restart re-indexed the catalog")
    val streamGot = spark.table("precedence_landed").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      .filter(_._1 >= 0).sorted
    assert(streamGot == expected,
      s"landed stream census $streamGot != expected $expected")
    assert(graft.io.Layout.drainLandingSecs()
        .keySet.forall(!_.startsWith("graft_ingate_")),
      "running the landed stream must not re-land the catalog")
  }

  test("a corpus refresh re-indexes: a restarted landed door flags docs matching only appended docs") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val textA = toks("ra", 30); val textN = toks("rn", 30)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ingate-refresh-").toString
    val dir = s"$tmp/corpus"
    Seq((31L, "https://z.example/p31", textA)).toDF("doc_id", "url", "text")
      .write.parquet(dir)
    val cat = Streaming.ensureIngestCatalog(spark, dir, spark.read.parquet(dir))
    val gen1 = Streaming.corpusIndex(spark, cat)

    val base = 1700000000000L
    val mutatedN = (textN.split(" ").dropRight(1) :+ "rzplanted").mkString(" ")
    val incoming = Seq(
      (301L, "https://z.example/q301", textN),
      (302L, "https://z.example/q302", mutatedN),
      (303L, "https://z.example/q303", textN.split(" ").take(15).mkString(" ")))
    def census(c: Streaming.IngestCatalog, name: String): Seq[(Long, String)] = {
      val stream = MemoryStream[Streaming.UrlDocIngestRow]
      val q = Streaming.ingestPrecedenceStreamLanded(spark, stream.toDF(), c)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        stream.addData(incoming.zipWithIndex.map { case ((id, u, t), i) =>
          Streaming.UrlDocIngestRow(id, new java.sql.Timestamp(base + i * 1000L), u, t)
        })
        q.processAllAvailable()
        stream.addData(Streaming.UrlDocIngestRow(-1L,
          new java.sql.Timestamp(base + 48L * 3600 * 1000),
          "https://z.example/poison", "pp1 pp2 pp3 pp4"))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        .filter(_._1 >= 0).sorted
    }
    assert(census(cat, "refresh_before") ==
      Seq(301L -> "ingested", 302L -> "ingested", 303L -> "ingested"))

    // refresh: textN joins the corpus as a new file under the same dir
    Seq((32L, "https://z.example/p32", textN)).toDF("doc_id", "url", "text")
      .write.mode("append").parquet(dir)
    graft.SessionMemos.drainBuildSecs()
    val cat2 = Streaming.ensureIngestCatalog(spark, dir, spark.read.parquet(dir))
    assert(cat2 == cat)
    val gen2 = Streaming.corpusIndex(spark, cat2)
    assert(gen2.id != gen1.id, "a re-landed catalog must build a new index generation")
    assert(graft.SessionMemos.drainBuildSecs().contains("ingest_index"))
    assert(census(cat2, "refresh_after") ==
      Seq(301L -> "exact_dup", 302L -> "near_dup", 303L -> "contained"),
      "the restarted door served a stale index")
  }

  test("landed doors ≡ inline doors row for row over a generated corpus") {
    val spark0 = spark
    import spark0.implicits._

    val tmp = java.nio.file.Files.createTempDirectory("graft-ingate-corpus-").toString
    val dir = s"$tmp/corpus"
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), concat(lit("https://s.example/d"), col("doc_id")).as("url"),
        col("text"))
      .write.parquet(dir)
    val corpus = spark.read.parquet(dir)
    val cat = Streaming.ensureIngestCatalog(spark, dir, corpus)
    // one variant per doc_id residue: same URL, verbatim under a new URL,
    // last token dropped, first half, word order reversed (same shingle
    // set, different trigrams), every word altered (novel)
    val words = split(col("text"), " ")
    val n = size(words)
    val batch = corpus.filter(col("doc_id") % 7 < 2)
      .select((col("doc_id") + 100000).as("doc_id"),
        lit(new java.sql.Timestamp(1700000000000L)).as("ts"),
        when(col("doc_id") % 6 === 0, col("url"))
          .otherwise(concat(lit("https://t.example/d"), col("doc_id"))).as("url"),
        (col("doc_id") % 6).as("v"), words.as("w"), n.as("n"), col("text"))
      .select(col("doc_id"), col("ts"), col("url"),
        when(col("v") <= 1, col("text"))
          .when(col("v") === 2, array_join(slice(col("w"), lit(1), greatest(col("n") - 1, lit(1))), " "))
          .when(col("v") === 3, array_join(slice(col("w"), lit(1), greatest(col("n") / 2, lit(1)).cast("int")), " "))
          .when(col("v") === 4, array_join(reverse(col("w")), " "))
          .otherwise(array_join(transform(col("w"), x => concat(x, lit("zq"))), " "))
          .as("text"))
    def statuses(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val landed = statuses(Streaming.ingestPrecedenceStreamLanded(spark, batch, cat))
    assert(landed == statuses(Streaming.ingestPrecedenceStream(batch, corpus)))
    assert(landed.map(_._2).toSet ==
      Set("dup_url", "exact_dup", "near_dup", "contained", "ingested"),
      s"fixture must exercise every class: ${landed.groupBy(_._2).map(kv => kv._1 -> kv._2.size)}")
    assert(rowsOf(Streaming.nearDupIngestStreamLanded(spark, batch, cat)) ==
      rowsOf(Streaming.nearDupIngestStream(batch, corpus)))
    assert(rowsOf(Streaming.containmentIngestStreamLanded(spark, batch, cat)) ==
      rowsOf(Streaming.containmentIngestStream(batch, corpus)))
  }
}
