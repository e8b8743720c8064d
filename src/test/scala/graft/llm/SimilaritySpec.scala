package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("minhash signature: length, domain, and permutation-identity") {
    import spark.implicits._
    val df = Seq("spark batch table scan", "spark batch table scan",
        "completely different words here")
      .toDF("text")
      .select(Similarity.minhashSignature(Similarity.hashedShingles(col("text"))).as("sig"))
    val sigs = df.collect().map(_.getSeq[Long](0))
    assert(sigs.forall(_.size == Similarity.NumPerms))
    assert(sigs.forall(_.forall(v => v >= 0 && v < Similarity.P)))
    assert(sigs(0) == sigs(1), "identical texts must have identical signatures")
    assert(sigs(0) != sigs(2), "distinct texts should differ")
  }

  test("bandKeyArray element b ≡ the bkey bandKeysFor emits for band b") {
    import spark.implicits._
    val hs = graft.Tables.documents(spark, sfDir).limit(200)
      .select(col("doc_id").as("id"), Similarity.hashedShingles(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)
    val exploded = Similarity.bandKeysFor(hs, "id")
      .select(col("id"), col("bkey")).as[(Long, Long)].collect().toSet
    val arrays = hs.select(col("id"),
        Similarity.bandKeyArray(Similarity.minhashSignature(col("hs"))).as("bk"))
      .as[(Long, Seq[Long])].collect()
    assert(arrays.nonEmpty && arrays.forall(_._2.length == Similarity.Bands))
    assert(arrays.flatMap { case (id, bk) => bk.map(id -> _) }.toSet == exploded)
  }

  test("minhash estimates Jaccard within tolerance") {
    import spark.implicits._
    // two texts sharing 6 of 8 distinct tokens: J = 6/10... compute exactly
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val b = "alpha beta gamma delta epsilon zeta iota kappa"
    val row = Seq((a, b)).toDF("a", "b")
      .select(
        Similarity.minhashSignature(Similarity.hashedShingles(col("a"))).as("sa"),
        Similarity.minhashSignature(Similarity.hashedShingles(col("b"))).as("sb"),
        (size(array_intersect(Similarity.shingles(col("a")), Similarity.shingles(col("b")))).cast("double") /
          size(array_union(Similarity.shingles(col("a")), Similarity.shingles(col("b"))))).as("jac"))
      .collect().head
    val (sa, sb, jac) = (row.getSeq[Long](0), row.getSeq[Long](1), row.getDouble(2))
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / Similarity.NumPerms
    assert(math.abs(est - jac) < 0.25, s"estimate $est vs true $jac")
  }

  test("quantize is exact for representable floats and floors negatives down") {
    import spark.implicits._
    val out = Seq(Seq(0.5f, -0.25f, 0.0f, 1.0f)).toDF("e")
      .select(Similarity.quantize(col("e")).as("q"))
      .collect().head.getSeq[Long](0)
    assert(out == Seq(524288L, -262144L, 0L, 1048576L))
  }

  test("cosine of identical vectors is 1.0; orthogonal is 0.0") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f)),
      (Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f)))
      .toDF("a", "b")
      .select((Similarity.dotQ(Similarity.quantize(col("a")), Similarity.quantize(col("b"))) /
        (sqrt(Similarity.dotQ(Similarity.quantize(col("a")), Similarity.quantize(col("a")))) *
         sqrt(Similarity.dotQ(Similarity.quantize(col("b")), Similarity.quantize(col("b")))))).as("cos"))
    val cs = df.collect().map(_.getDouble(0))
    assert(math.abs(cs(0) - 1.0) < 1e-12 && cs(1) == 0.0)
  }

  test("lsh bucket is deterministic and within [0, 2^planes)") {
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(Similarity.lshBucket(Similarity.quantize(col("embedding"))).as("b"))
    val bs = e.collect().map(_.getLong(0))
    assert(bs.forall(b => b >= 0 && b < (1L << Similarity.NumPlanes)))
    assert(bs.distinct.size > 1, "all vectors in one bucket — planes degenerate")
  }

  test("cosine near-dup pairs are canonical (id_a < id_b) and above threshold") {
    val pairs = Similarity.cosineNearDup(spark, sfDir).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getDouble(2) >= 0.4))
  }

  test("IVF: every reported neighbor shares the probe's cell; ranks dense from 1") {
    val out = Similarity.annIvfTopk(spark, sfDir)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // per probe, ranks are 1..n without gaps
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(4)).sorted.toSeq == (1 to rs.length))
    }
  }

  test("simhash near-dup: hamming bound holds and pairs are canonical") {
    val rows = Similarity.simhashNearDup(spark, sfDir).collect()
    assert(rows.forall(r => r.getInt(2) >= 0 && r.getInt(2) <= 3))
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("q50 funnel is one conditional-aggregation pass (no union re-execution)") {
    val df = Similarity.pipelineStats(spark, sfDir)
    val unions = allPlanNodes(executedPlanOf(df))
      .collect { case u: org.apache.spark.sql.execution.UnionExec => u }
    assert(unions.isEmpty,
      "funnel plan contains a union — per-stage subtree re-execution is back")
  }

  test("q85 exact-dedup window exchanges key on text hashes, never the text payload") {
    // The is_first window must partition on xxhash64 columns: keying the
    // exchange on the raw text shuffles the corpus keyed by multi-KB
    // strings and makes the window sort compare them byte-wise — the
    // scale-killer this spec locks out. Scan EVERY hash exchange in the
    // executed plan: none may have a string-typed partition key.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = Similarity.curatedCorpus(spark, sfDir)
    val hashParts = allPlanNodes(executedPlanOf(df)).collect {
      case s: ShuffleExchangeExec
        if s.outputPartitioning.isInstanceOf[HashPartitioning] =>
        s.outputPartitioning.asInstanceOf[HashPartitioning]
    }
    assert(hashParts.nonEmpty)
    val stringKeyed = hashParts.filter(_.expressions.exists(
      _.dataType == org.apache.spark.sql.types.StringType))
    assert(stringKeyed.isEmpty,
      s"exchange keyed on a string payload: ${stringKeyed.map(_.expressions.mkString(","))}")
    // and the dedup window's own exchange is present: two long hash keys
    assert(hashParts.exists(h => h.expressions.size == 2 &&
      h.expressions.forall(_.dataType == org.apache.spark.sql.types.LongType)),
      "expected the 128-bit (two-long) dedup window exchange")
  }

  test("q87 bucketed ingest: answers equal q68; corpus rows never enter a shuffle") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeExec}
    val q68 = Similarity.incrementalDedup(spark, sfDir).collect().toSeq
    val q87 = Similarity.bucketedIncrementalDedup(spark, sfDir)
    assert(q87.collect().toSeq == q68, "layout must change the plan, not the answer")
    // Walk each shuffle's subtree WITHOUT crossing broadcast boundaries
    // (data leaving via a broadcast is not being shuffled): no corpus
    // catalog-table scan may feed a shuffle exchange — the recurring
    // ingest must probe yesterday's landed corpus exchange-free.
    def shuffledSide(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: BroadcastExchangeLike => Seq(p)
      case _: BroadcastQueryStageExec => Seq(p)
      case s: QueryStageExec => p +: shuffledSide(s.plan)
      case a: AdaptiveSparkPlanExec => p +: shuffledSide(a.executedPlan)
      case other => p +: other.children.flatMap(shuffledSide)
    }
    val plan = executedPlanOf(Similarity.bucketedIncrementalDedup(spark, sfDir))
    def isCorpusScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("graft_corpus_"))
      case _ => false
    }
    assert(allPlanNodes(plan).exists(isCorpusScan), "corpus tables not read at all?")
    val offenders = allPlanNodes(plan)
      .collect { case s: ShuffleExchangeExec => s }
      .filter(s => shuffledSide(s).exists(isCorpusScan))
    assert(offenders.isEmpty,
      s"corpus scan feeds a shuffle exchange:\n${offenders.map(_.nodeName).mkString("\n")}")
  }

  test("q203 bucketed groups: answers equal q41; groups never shuffle nor broadcast") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeExec}
    val q41 = Similarity.minhashLshPairs(spark, sfDir).collect().toSeq
    val got = Similarity.bucketedNearDupPairs(spark, sfDir).collect().toSeq
    assert(got == q41, "layout must change the plan, not the answer")
    val plan = executedPlanOf(Similarity.bucketedNearDupPairs(spark, sfDir))
    def isGroupsScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(r =>
          r.toString.contains("graft_groups_") ||
          r.toString.contains("graft_group_bands_"))
      case _ => false
    }
    assert(allPlanNodes(plan).exists(isGroupsScan), "catalog tables not read at all?")
    // The bucket-alignment invariant: RAW catalog rows never enter an
    // exchange. A groups/bands scan is "directly" under an exchange if it
    // is reachable without crossing a join (rows become join output), an
    // aggregate (rows are reduced) or a generate (rows become the
    // expanded RESULT set, which may legitimately pass the presentation
    // sort). Any such exchange means the catalog side of a join was
    // re-shuffled (bucketing broken) or driver-broadcast (the
    // corpus-growing pattern this query exists to retire).
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledJoin}
    def directScan(p: SparkPlan): Boolean = p match {
      case f if isGroupsScan(f) => true
      case _: BaseJoinExec => false
      case _: BaseAggregateExec => false
      case _: GenerateExec => false
      case a: AdaptiveSparkPlanExec => directScan(a.executedPlan)
      case s: QueryStageExec => directScan(s.plan)
      case other => other.children.exists(directScan)
    }
    val offenders = allPlanNodes(plan).filter {
      case s: ShuffleExchangeExec => s.children.exists(directScan)
      case b: BroadcastExchangeLike => b.children.exists(directScan)
      case _ => false
    }
    assert(offenders.isEmpty,
      s"raw catalog rows enter an exchange:\n${offenders.map(_.nodeName).mkString("\n")}")
    // and the self-join + 4 attaches really are sort-merge on the
    // bucketed side (no silent broadcast demotion)
    val smjWithScan = allPlanNodes(plan).collect {
      case j: ShuffledJoin if j.children.exists(directScan) => j
    }
    assert(smjWithScan.size >= 5,
      s"expected >=5 bucket-aligned joins reading the catalog, got ${smjWithScan.size}")
  }

  test("q93: no verified near-dup pair straddles splits; census is a corpus partition") {
    // rebuild the per-doc split assignment with the query's own pieces
    val (grps, groupLabels) = Similarity.clusterGroupLabels(spark, sfDir)
    val docLbl = groupLabels
      .join(broadcast(grps.select(col("gid").as("node"), col("members"))), Seq("node"))
      .select(col("lbl"), explode(col("members")).as("doc_id"))
    val perDoc = graft.Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(broadcast(docLbl), Seq("doc_id"), "left")
      .withColumn("skey", coalesce(col("lbl"), col("doc_id")))
      .withColumn("b", pmod(Similarity.hash60(col("skey").cast("string")), lit(100)))
      .withColumn("split", when(col("b") < 90, "train")
        .when(col("b") < 95, "val").otherwise("test"))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // THE property: every verified near-dup pair lands in one split
    val pairs = Similarity.lshVerifiedPairs(spark, sfDir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(perDoc(a) == perDoc(b),
        s"near-dup pair ($a, $b) straddles splits ${perDoc(a)}/${perDoc(b)}")
    }
    // and the registered census partitions the corpus exactly
    val census = Similarity.leakageSafeSplit(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(census.values.sum == perDoc.size)
    assert(census.keySet.subsetOf(Set("train", "val", "test")))
  }

  test("token-free documents never pair (empty shingle set is not jaccard 1)") {
    import spark.implicits._
    // Two empty/whitespace docs share hs = [] — the verify kernel scores
    // such a pair 0/0 → NULL and the oracle emits no signatures for it,
    // so neither the pair expansion, the clusters, nor q50's id_b
    // membership may treat the group as duplicates.
    val dir = java.nio.file.Files.createTempDirectory("graft-emptydoc").toString
    Seq(
      (1L, "", "s1"), (2L, "   \n  ", "s1"),
      (3L, "alpha beta gamma", "s1"), (4L, "alpha beta gamma", "s1"),
      (5L, "totally different words here", "s1"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val pairs = Similarity.lshVerifiedPairs(spark, dir)
      .select("id_a", "id_b", "n_shared", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(pairs == Seq((3L, 4L, 3L, 1.0)), s"got $pairs")
    val clusters = Similarity.nearDupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(clusters == Seq((3L, 2L, 4L)), s"got $clusters")
  }

  test("near-dup clusters: every verified pair lands in one cluster; reps are minima") {
    val pairs = Similarity.lshVerifiedPairs(spark, sfDir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Similarity.nearDupClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // model: union-find over the same pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val model = parent.keys.toSeq.groupBy(find)
      .map { case (_, members) => (members.min, members.size.toLong, members.max) }
      .toSeq.sortBy(_._1)
    assert(clusters.toSeq == model, "clusters disagree with union-find model")
    assert(clusters.forall { case (rep, n, maxDoc) => n >= 2 && rep < maxDoc },
      "singleton or mis-labeled cluster")
  }

  test("q67 representatives: longest member (tie: lowest id) of each union-find cluster") {
    val pairs = Similarity.lshVerifiedPairs(spark, sfDir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val lens = graft.Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "CAST(length(text) AS LONG)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val model = parent.keys.toSeq.groupBy(find).map { case (rep, members) =>
      val best = members.minBy(d => (-lens(d), d))
      (rep, best, lens(best), members.size.toLong)
    }.toSeq.sortBy(_._1)
    val got = Similarity.clusterRepresentatives(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == model, s"representatives disagree with union-find+argmax model")
  }

  test("q116 cluster top terms match a union-find + Scala c-TF-IDF model") {
    val pairs = Similarity.lshVerifiedPairs(spark, sfDir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = parent.keys.map(d => d -> find(d)).toMap
    val texts = graft.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lower(org.apache.spark.sql.functions.col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val tf = labels.toSeq.flatMap { case (doc, lbl) =>
      texts(doc).split("\\s+").filter(_.nonEmpty).map(t => (lbl, t))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nClasses = labels.values.toSet.size.toLong
    val termTf = tf.toSeq.groupBy(_._1._2).view
      .mapValues(_.map(_._2).sum).toMap
    val model = tf.toSeq.map { case ((lbl, t), n) =>
      (lbl, t, n, 1000000L * n * nClasses / termTf(t))
    }.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      xs.sortBy { case (_, t, _, s) => (-s, t) }.take(3).zipWithIndex
        .map { case ((lbl, t, n, s), i) => (lbl, t, n, s, i + 1) }
    }.sortBy(r => (r._1, r._5))
    val got = Similarity.clusterTopTerms(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSeq
    assert(got.nonEmpty && got == model,
      s"cluster top terms disagree with the model:\n$got\nvs\n$model")
  }

  test("q68 incremental dedup agrees with the full pair graph restricted to cross pairs") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val incoming = docs.filter(_._1 % 10 == 7).map(_._1).toSet
    val corpusTexts = docs.filterNot(d => incoming(d._1)).map(_._2).toSet
    val exact = docs.filter(d => incoming(d._1) && corpusTexts(d._2)).map(_._1).toSet
    val near = Similarity.lshVerifiedPairs(spark, sfDir)
      .select("id_a", "id_b").collect()
      .flatMap { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        if (incoming(a) && !incoming(b)) Some(a)
        else if (incoming(b) && !incoming(a)) Some(b)
        else None
      }.toSet
    val expected = incoming.toSeq.sorted.map { id =>
      (id, if (exact(id)) "exact" else if (near(id)) "near" else "kept")
    }
    val got = Similarity.incrementalDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == expected, "statuses disagree with the cross-pair model")
    assert(got.nonEmpty)
  }

  test("q68 plan: corpus band join is broadcast (incoming side), corpus never self-joins") {
    val joins = allPlanNodes(executedPlanOf(Similarity.incrementalDedup(spark, sfDir)))
      .collect { case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, "expected broadcast hash joins in the incremental-dedup plan")
  }

  test("q70 int8 ANN: quantized values bounded, reconstruction near the float dot, probes broadcast") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val rows = Similarity.int8AnnTopk(spark, sfDir)
    val got = rows.collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (p, n, est) = (r.getLong(0), r.getLong(1), r.getDouble(3))
      val exact = emb(p).zip(emb(n)).map { case (x, y) => x * y }.sum
      // per-element quantization error ≤ mx/127 ⇒ a loose but real bound
      val bound = 2.0 * emb(p).map(math.abs).max * emb(n).map(math.abs).max * 64 / 127.0
      assert(math.abs(est - exact) <= bound,
        s"reconstruction off: probe $p nbr $n est $est exact $exact")
    }
    val bcast = allPlanNodes(executedPlanOf(rows)).collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }
    assert(bcast.nonEmpty, "probe side should broadcast (tiny probes × streamed corpus)")
  }

  test("q75 k-means matches a sequential Lloyd model in quantized space") {
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576.0).toLong).toArray)
      .sortBy(_._1)
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def assign(cents: Map[Int, Array[Long]]): Map[Long, Int] =
      vecs.map { case (id, q) =>
        id -> cents.toSeq.map { case (cid, c) => (dist(q, c), cid) }.min._2
      }.toMap
    def update(a: Map[Long, Int]): Map[Int, Array[Long]] = {
      val byId = vecs.toMap
      a.groupBy(_._2).map { case (cid, members) =>
        val qs = members.keys.toSeq.map(byId)
        val dims = qs.head.indices.map { i =>
          math.floor(qs.map(_(i)).sum.toDouble / qs.size).toLong
        }.toArray
        cid -> dims
      }
    }
    val c0 = vecs.filter(_._1 < 8).map { case (id, q) => id.toInt -> q }.toMap
    val c1 = update(assign(c0))
    val a2 = assign(c1)
    val c2 = update(a2)
    val model = a2.groupBy(_._2).map { case (cid, m) =>
      (cid, m.size.toLong, m.keys.min, m.keys.max, c2(cid)(0))
    }.toSeq.sortBy(_._1)
    val got = Similarity.kmeans(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == model, "k-means trajectory diverges from the sequential model")
  }

  test("randomized differential: lshVerifiedPairs matches an independent Scala mirror") {
    import spark.implicits._
    // Random corpora with planted structure: exact dup groups, near-dups
    // (one token changed), and unrelated docs. The model reimplements the
    // FULL pipeline semantics (md5-hash shingles, LCG minhash, banding,
    // exact-jaccard verify) independently of the Spark expressions, so
    // any drift in kernels, banding or expansion shows up as a diff.
    val rnd = new scala.util.Random(271828)
    val vocab = (1 to 40).map(i => s"tok$i")
    def doc(n: Int) = (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0 until 30).map(_ => doc(12 + rnd.nextInt(20)))
    val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var id = 0L
    base.foreach { d =>
      docs += ((id, d)); id += 1
      if (rnd.nextBoolean()) { docs += ((id, d)); id += 1 } // exact dup
      if (rnd.nextInt(3) == 0) { // near-dup: append one token
        docs += ((id, d + " " + vocab(rnd.nextInt(vocab.size)))); id += 1
      }
    }
    docs += ((id, "")); id += 1 // token-free doc must never pair

    val dir = java.nio.file.Files.createTempDirectory("graft-lshdiff").toString
    docs.toSeq.map { case (i, t) => (i, t, "s") }.toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")

    // independent model
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    def hs(t: String): Set[Long] = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .map(tok => java.lang.Long.parseLong(md5hex(tok).take(15), 16) % Similarity.P).toSet
    def sig(h: Set[Long]): Array[Long] = (0 until Similarity.NumPerms).map { i =>
      if (h.isEmpty) Similarity.P
      else h.map(x => (Similarity.permA(i) * x + Similarity.permB(i)) % Similarity.P).min
    }.toArray
    val hsets = docs.toSeq.map { case (i, t) => i -> hs(t) }.toMap
    val sigs = hsets.map { case (i, h) => i -> sig(h) }
    val bandsOf = sigs.map { case (i, s) =>
      i -> (0 until Similarity.Bands).map(b =>
        (b, s.slice(b * Similarity.RowsPerBand, (b + 1) * Similarity.RowsPerBand).toSeq)).toSet
    }
    val allIds = docs.toSeq.map(_._1)
    val modelPairs = (for {
      a <- allIds; b <- allIds if a < b
      if (bandsOf(a) & bandsOf(b)).nonEmpty
      ha = hsets(a); hb = hsets(b)
      if ha.nonEmpty || hb.nonEmpty
      inter = (ha & hb).size
      union = ha.size + hb.size - inter
      if union > 0 && inter.toDouble / union >= 0.9
    } yield (a, b, inter.toLong, inter.toDouble / union)).toSet

    val got = Similarity.lshVerifiedPairs(spark, dir)
      .select("id_a", "id_b", "n_shared", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == modelPairs,
      s"pipeline diverges from mirror: missing=${modelPairs -- got} extra=${got -- modelPairs}")
    assert(modelPairs.nonEmpty, "fixture must contain planted duplicates")
  }

  test("q99 RRF fusion matches a Scala model; one hash exchange serves all three windows") {
    val K = Similarity.RrfK
    val docs = graft.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lower(org.apache.spark.sql.functions.col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1).split("\\s+").filter(_.nonEmpty).distinct.toSet)
    val probes = docs.filter(_._1 < 5)
    val corpus = docs.filter(_._1 >= 5)
    val model = probes.flatMap { case (pid, pt) =>
      val scored = corpus.map { case (cid, ct) =>
        val ov = (pt & ct).size.toLong
        val uni = (pt | ct).size.toLong
        (cid, ov, 1000000L * ov / uni)
      }
      val rankA = scored.sortBy { case (cid, ov, _) => (-ov, cid) }
        .zipWithIndex.map { case ((cid, _, _), i) => cid -> (i + 1) }.toMap
      val rankB = scored.sortBy { case (cid, _, j) => (-j, cid) }
        .zipWithIndex.map { case ((cid, _, _), i) => cid -> (i + 1) }.toMap
      corpus.map(_._1)
        .filter(cid => rankA(cid) <= K || rankB(cid) <= K)
        .map { cid =>
          val rrf = (if (rankA(cid) <= K) 1000000L / (60 + rankA(cid)) else 0L) +
            (if (rankB(cid) <= K) 1000000L / (60 + rankB(cid)) else 0L)
          (cid, rankA(cid), rankB(cid), rrf)
        }
        .sortBy { case (cid, _, _, rrf) => (-rrf, cid) }
        .take(Similarity.RrfTopN).zipWithIndex
        .map { case ((cid, ra, rb, rrf), i) => (pid, cid, ra, rb, rrf, i + 1) }
    }.toSeq
    val q = Similarity.rrfFusion(spark, sfDir)
    val got = q.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getInt(5))).toSeq
    assert(got.nonEmpty && got == model, "fusion must match the Scala RRF model")
    // the two source rankings must genuinely differ somewhere, or the
    // fusion degenerates to a single ranking and proves nothing
    assert(got.exists(r => r._3 != r._4), "rank_a and rank_b must diverge")
    // all three windows partition by probe_id: exactly one hash exchange
    val hashEx = shuffleExchanges(q)
      .map(_.outputPartitioning.toString).filter(_.contains("hashpartitioning"))
    assert(hashEx.size == 1, s"three windows must share one exchange, got $hashEx")
  }

  test("q85 curated corpus is exactly q50's stage-4 census") {
    val kept = Similarity.curatedCorpus(spark, sfDir).collect()
    val stage4 = Similarity.pipelineStats(spark, sfDir).collect()
      .find(_.getString(0) == "4_near_dedup").get
    assert(kept.length.toLong == stage4.getLong(1),
      "curated doc count != funnel stage-4 n_docs")
    assert(kept.map(_.getLong(1)).sum == stage4.getLong(2),
      "curated token sum != funnel stage-4 n_tokens")
    assert(kept.map(_.getLong(0)).distinct.length == kept.length)
  }

  test("ann-lsh neighbors are a subset of brute-force candidates' buckets") {
    val ann = Similarity.annLshTopk(spark, sfDir)
    assert(ann.count() > 0)
    // every reported pair shares the probe's bucket by construction;
    // ranks are 1..3 per probe
    import spark.implicits._
    val ranks = ann.groupBy("probe_id").agg(max("rnk").as("m"))
      .collect().map(_.getInt(1))
    assert(ranks.forall(_ <= 3))
  }

  test("q143 containment: prefix filtering equals brute force over all group pairs") {
    import graft.llm.Similarity
    // brute-force Scala model over the same trigram hash space
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % Similarity.P
    }
    val sets = docs.map { case (id, text) =>
      val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      id -> (if (t.length < 3) Set.empty[Long]
             else t.sliding(3).map(w => h60(w.mkString(" "))).toSet)
    }.filter(_._2.nonEmpty)
    val groups = sets.groupBy(_._2).map { case (hs, xs) =>
      (xs.map(_._1).min, hs)
    }.toSeq
    val model = (for {
      (ga, ha) <- groups; (gb, hb) <- groups
      if ga != gb && 10 * hb.size >= 9 * ha.size
      shared = (ha & hb).size
      if 10 * shared >= 9 * ha.size
    } yield (ga, gb, ha.size.toLong, hb.size.toLong, shared.toLong,
        10000L * shared / ha.size)).sortBy(t => (t._1, t._2))
    val got = Similarity.containmentPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == model, s"got ${got.size} pairs, model ${model.size}")
    assert(got.nonEmpty, "corpus must contain at least one containment pair")
    // asymmetry must be representable: bp is measured on the CONTAINED side
    assert(got.forall(r => r._6 >= 9000 && r._6 <= 10000))
  }

  test("q178 containment ingest equals brute force batch x corpus; non-degenerate") {
    import graft.llm.Similarity
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.map("%02x".format(_)).mkString.take(15), 16) % Similarity.P
    }
    val sets = docs.map { case (id, text) =>
      val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      id -> (if (t.length < 3) Set.empty[Long]
             else t.sliding(3).map(w => h60(w.mkString(" "))).toSet)
    }
    val incoming = sets.filter { case (id, hs) => id % 10 == 7 && hs.nonEmpty }
    val corpus = sets.filter { case (id, _) => id % 10 != 7 }
    val model = incoming.map { case (id, hi) =>
      val best = corpus.flatMap { case (cid, hc) =>
        val shared = (hi & hc).size
        if (10 * hc.size >= 9 * hi.size && 10 * shared >= 9 * hi.size)
          Some((10000L * shared / hi.size, cid))
        else None
      }
      best.sortBy { case (bp, cid) => (-bp, cid) }.headOption match {
        case Some((bp, cid)) => (id, "contained", Some(cid), Some(bp))
        case None => (id, "novel", None, None)
      }
    }.sortBy(_._1).toSeq
    val got = Similarity.containmentIngest(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    assert(got == model, s"got ${got.size} rows, model ${model.size}")
    // the fixture batch must exercise BOTH verdicts, or the probe is
    // vacuous on this corpus
    assert(got.exists(_._2 == "contained") && got.exists(_._2 == "novel"))
    // contained rows carry a >= 90% score against a real corpus doc
    assert(got.filter(_._2 == "contained")
      .forall(r => r._4.exists(bp => bp >= 9000 && bp <= 10000) &&
        r._3.exists(c => c % 10 != 7)))
  }

  test("q147 LSH S-curve: k counts match slice equality; precision rises to k=8") {
    import graft.llm.Similarity
    val grps = Similarity.shingleGroups(spark, sfDir)
      .filter(size(col("hs")) > 0)
      .select(col("gid"), col("hs"), Similarity.minhashSignature(col("hs")).as("sig"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSet, r.getSeq[Long](2).toIndexedSeq))
    // Scala model: matching-band count from raw signature slices
    val pairs = for {
      i <- grps.indices; j <- (i + 1) until grps.length
      (ga, ha, sa) = grps(i); (gb, hb, sb) = grps(j)
      k = (0 until Similarity.Bands).count(b =>
        (0 until Similarity.RowsPerBand).forall(r =>
          sa(b * Similarity.RowsPerBand + r) == sb(b * Similarity.RowsPerBand + r)))
      if k > 0
      inter = (ha & hb).size.toLong
      uni = ha.size + hb.size - inter
    } yield (k.toLong, 10 * inter >= 9 * uni)
    val model = pairs.groupBy(_._1).map { case (k, xs) =>
      val dup = xs.count(_._2).toLong
      (k, xs.size.toLong, dup, 10000 * dup / xs.size)
    }.toSeq.sortBy(_._1)
    val got = Similarity.lshTuningCurve(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == model && got.nonEmpty)
    // the S-curve property: precision at the highest observed k strictly
    // above precision at the lowest (on this corpus k=8 is ~9500 bp, not
    // 10000 — full-band MinHash false positives exist at a 31-word
    // vocabulary, which is precisely what this diagnostic surfaces)
    if (got.length > 1) assert(got.last._4 > got.head._4,
      s"expected rising precision, got ${got.map(r => r._1 -> r._4)}")
  }

  test("q145 cross-modal purity matches a collected-join Scala model") {
    import graft.llm.Similarity
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val labels = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val joined = docs.flatMap { case (id, lang, src) =>
      labels.get(id).map(l => (l, lang, src))
    }
    def top(xs: Seq[String]): (String, Long) = {
      val grouped = xs.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      grouped.minBy { case (f, n) => (-n, f) }.swap.swap
    }
    val model = joined.groupBy(_._1).map { case (l, xs) =>
      val n = xs.size.toLong
      val (tl, tln) = top(xs.map(_._2))
      val (ts, tsn) = top(xs.map(_._3))
      (l, n, tl, tln, 10000 * tln / n, ts, tsn, 10000 * tsn / n)
    }.toSeq.sortBy(_._1)
    val got = Similarity.crossmodalPurity(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got == model && got.nonEmpty)
    assert(got.forall(r => r._5 <= 10000 && r._8 <= 10000))
  }

  test("q139 recall audit equals set intersection of the three searches; bp math exact") {
    val exact = Similarity.cosineTopk(spark, sfDir).collect()
      .filter(_.getAs[Int]("rnk") <= 3)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.annLshTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.annIvfTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val probes = exact.map(_._1).toSeq.sorted
    val model = probes.map { p =>
      val ex = exact.filter(_._1 == p)
      val lh = ex.count(lsh.contains).toLong
      val ih = ex.count(ivf.contains).toLong
      (p, ex.size.toLong, lh, ih, 10000 * lh / ex.size, 10000 * ih / ex.size)
    }
    val got = Similarity.annRecallAudit(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == model)
    assert(got.forall(r => r._5 >= 0 && r._5 <= 10000 && r._6 >= 0 && r._6 <= 10000))
    // the audit must be non-vacuous: at least one probe shows imperfect
    // recall on at least one index (otherwise it measures nothing here)
    assert(got.exists(r => r._5 < 10000 || r._6 < 10000),
      "expected at least one imperfect recall row on the synthetic corpus")
  }

  test("q194 quantization recall audit equals set intersection; bp math exact") {
    val exact = Similarity.cosineTopk(spark, sfDir).collect()
      .filter(_.getAs[Int]("rnk") <= 3)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val i8 = Similarity.int8AnnTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqAnn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val probes = exact.map(_._1).toSeq.sorted
    val model = probes.map { p =>
      val ex = exact.filter(_._1 == p)
      val ih = ex.count(i8.contains).toLong
      val ph = ex.count(pq.contains).toLong
      (p, ex.size.toLong, ih, ph, 10000 * ih / ex.size, 10000 * ph / ex.size)
    }
    val got = Similarity.quantRecallAudit(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == model && got.nonEmpty)
    assert(got.forall(r => r._5 >= 0 && r._5 <= 10000 && r._6 >= 0 && r._6 <= 10000))
    // int8 keeps per-vector scale so it should be NEAR-exact here; the
    // 64x-compressed PQ codes are the lossy tier the audit exists to
    // measure — require the ordering that makes the comparison readable
    val meanI8 = got.map(_._5).sum / got.size
    val meanPq = got.map(_._6).sum / got.size
    assert(meanI8 >= meanPq, s"int8 mean recall $meanI8 below PQ $meanPq")
  }

  test("q192 centroid selection matches a sequential model; selection is target-seeking") {
    val rows = graft.Tables.embeddings(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(2),
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576.0).toLong).toArray))
    val seed = rows.filter(_._2 == 0).map(_._3)
    val n = seed.length
    val cent = (0 until 64).map { j =>
      math.floor(seed.map(_(j)).sum.toDouble / n).toLong }.toArray
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val cn = math.sqrt(dot(cent, cent).toDouble)
    val scored = rows.filter(_._2 != 0).map { case (id, lbl, q) =>
      (id, lbl, dot(q, cent).toDouble / (math.sqrt(dot(q, q).toDouble) * cn))
    }
    val model = scored.sortBy { case (id, _, c) => (-c, id) }
      .take(Similarity.CentroidSelectK)
      .zipWithIndex.map { case ((id, lbl, _), i) => (id, lbl, i + 1) }.toSeq
    val got = Similarity.centroidSelection(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(got == model && got.nonEmpty)
    // non-vacuous: the selected set's mean cosine strictly beats the
    // population mean, i.e. the selection actually seeks the target
    val byId = scored.map(s => s._1 -> s._3).toMap
    val selMean = got.map(g => byId(g._1)).sum / got.size
    val allMean = scored.map(_._3).sum / scored.length
    assert(selMean > allMean, s"selected mean $selMean not above population $allMean")
  }

  test("q197 contrastive mining equals a sequential band+rank model") {
    import graft.llm.Similarity.{Bands, RowsPerBand, ContrastiveNegK}
    val rows = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        Similarity.hashedShingles(col("text")).as("hs"),
        Similarity.minhashSignature(Similarity.hashedShingles(col("text"))).as("sig"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSet, r.getSeq[Long](2).toVector))
      .filter(_._2.nonEmpty)
    def bandsOf(sig: Vector[Long]): Seq[Vector[Long]] =
      (0 until Bands).map(b => sig.slice(b * RowsPerBand, (b + 1) * RowsPerBand))
    val sym = (for {
      (a, ha, sa) <- rows; (b, hb, sb) <- rows
      if a != b && bandsOf(sa).zip(bandsOf(sb)).exists { case (x, y) => x == y }
    } yield {
      val n = ha.intersect(hb).size.toLong
      (a, b, 10000L * n / (ha.size + hb.size - n))
    }).toSeq
    def top(xs: Seq[(Long, Long, Long)], k: Int) =
      xs.sortBy { case (_, p, bp) => (-bp, p) }.take(k).zipWithIndex
        .map { case ((a, p, bp), i) => (a, p, i + 1, bp) }
    val byAnchor = sym.groupBy(_._1)
    val model = byAnchor.toSeq.flatMap { case (a, xs) =>
      val pos = top(xs.filter(_._3 >= 9000), 1)
      val neg = if (pos.isEmpty) Nil else top(xs.filter(_._3 < 9000), ContrastiveNegK)
      pos.map { case (an, p, r, bp) => (an, "pos", p, r, bp) } ++
        neg.map { case (an, p, r, bp) => (an, "neg", p, r, bp) }
    }.sortBy { case (a, role, _, r, _) => (a, role, r) }
    val got = Similarity.contrastivePairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3), r.getLong(4)))
      .toSeq
    assert(got == model && got.nonEmpty)
    // structure: every anchor has exactly one positive; negatives only
    // for anchors with a positive and all strictly below the cut
    val byA = got.groupBy(_._1)
    assert(byA.values.forall(_.count(_._2 == "pos") == 1))
    assert(got.filter(_._2 == "neg").forall(_._5 < 9000))
    assert(got.filter(_._2 == "pos").forall(_._5 >= 9000))
  }

  test("q199 dup-flow matrix equals the pair-level census of q41's verified pairs") {
    def h60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    val srcOf = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Similarity.lshVerifiedPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val model = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.toSeq.map { case ((lo, hi), xs) =>
      // per-SOURCE-side doc counts: the doc on the lo source side of each
      // pair, and its hi twin (id order only when the sources tie)
      val loDocs = xs.map { case (a, b) => if (srcOf(a) <= srcOf(b)) a else b }
      val hiDocs = xs.map { case (a, b) => if (srcOf(a) <= srcOf(b)) b else a }
      (lo, hi, xs.length.toLong,
        loDocs.distinct.length.toLong, hiDocs.distinct.length.toLong,
        xs.map { case (a, b) => h60(s"$a,$b") }.foldLeft(0L)(_ ^ _))
    }.sortBy(x => (x._1, x._2))
    val got = Similarity.dupFlowMatrix(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == model && got.nonEmpty)
    // the matrix must separate within-source from cross-source mass
    assert(got.exists(r => r._1 == r._2) || got.exists(r => r._1 != r._2))
  }

  test("q200 cluster-size census equals the log2-bucket model over q55's clusters") {
    val sizes = Similarity.nearDupClusters(spark, sfDir).collect()
      .map(_.getAs[Long]("n_docs"))
    val total = sizes.sum
    val model = sizes.groupBy(s => 64L - java.lang.Long.numberOfLeadingZeros(s))
      .toSeq.map { case (b, xs) =>
        (b, xs.length.toLong, xs.sum, xs.min, xs.max, 10000 * xs.sum / total)
      }.sortBy(_._1)
    val got = Similarity.clusterSizeCensus(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == model && got.nonEmpty)
    // conservation: bucket doc counts partition the clustered docs
    assert(got.map(_._3).sum == total)
    assert(got.map(_._6).sum <= 10000)
  }

  test("q129 MMR: trajectory matches an independent greedy Scala model; selection is diverse") {
    import org.apache.spark.sql.functions._
    val rows = Similarity.mmrSelection(spark, sfDir).collect()
    assert(rows.length == Similarity.MmrK)
    assert(rows.map(_.getLong(1)).distinct.length == Similarity.MmrK, "duplicate exemplar")

    // independent model: re-derive int8 vectors and run greedy MMR in Scala
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val e = r.getSeq[Float](1)
        val mx = e.map(x => math.abs(x.toDouble)).max
        val q8 = if (mx == 0.0) e.map(_ => 0L)
                 else e.map(x => math.floor(x.toDouble / mx * 127.0).toLong)
        (r.getLong(0), q8.toArray)
      }.sortBy(_._1)
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => a(i) * b(i)).sum
    val nsq = vecs.map { case (id, q) => id -> dot(q, q) }.toMap
    val rel = vecs.map { case (id, q) => id -> q.sum }.toMap
    val byId = vecs.toMap
    def sim(a: Long, b: Long): Long = {
      val d = dot(byId(a), byId(b)); val den = nsq(a) * nsq(b)
      if (den == 0) 0L
      else if (d < 0) -((Similarity.MmrSimScale * d * d) / den)
      else (Similarity.MmrSimScale * d * d) / den
    }
    var sel = Vector.empty[Long]
    val expect = (1 to Similarity.MmrK).map { _ =>
      val pick = vecs.iterator.map(_._1).filterNot(sel.contains).map { id =>
        val ms = if (sel.isEmpty) 0L else sel.map(s => sim(id, s)).max
        val mmr = Similarity.MmrLamNum * Similarity.MmrRelScale * rel(id) -
          Similarity.MmrLamCmp * ms
        (id, ms, mmr)
      }.reduceLeft((a, b) => if (b._3 > a._3 || (b._3 == a._3 && b._1 < a._1)) b else a)
      sel :+= pick._1
      pick
    }
    for ((r, e) <- rows.zip(expect)) {
      assert(r.getLong(1) == e._1, s"rank ${r.getInt(0)}: picked ${r.getLong(1)}, model ${e._1}")
      assert(r.getLong(3) == e._2, s"rank ${r.getInt(0)}: maxsim mismatch")
      assert(r.getLong(4) == e._3, s"rank ${r.getInt(0)}: mmr mismatch")
    }
    // diversity does real work: the MMR set must differ from naive top-K-by-relevance
    val topK = vecs.map(_._1).sortBy(id => (-rel(id), id)).take(Similarity.MmrK).toSet
    assert(rows.map(_.getLong(1)).toSet != topK,
      "MMR selection degenerated to plain top-K relevance — penalty term inert")
  }

  test("q133 index maintenance: conservation, frozen-centroid argmin, rebuild trigger math") {
    import org.apache.spark.sql.functions._
    val rows = Similarity.indexMaintenance(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // every batch vector lands in exactly one cell: totals conserve
    val nBatch = graft.Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(5)) === 3).count()
    assert(rows.map(_.getLong(2)).sum == nBatch, "batch vectors lost or duplicated")
    val nBase = graft.Tables.embeddings(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum == nBase, "base assignment census drifted")
    for (r <- rows) {
      assert(r.getLong(3) == 10000L * r.getLong(2) / r.getLong(1))
      assert(r.getString(4) == (if (r.getLong(3) > Similarity.MaintGrowthBp) "rebuild" else "ok"))
    }
    // the drifted batch must not distribute like the base population —
    // otherwise the monitor is measuring nothing
    val shares = rows.map(r => (r.getLong(2).toDouble / nBatch,
      r.getLong(1).toDouble / nBase))
    assert(shares.exists { case (b, o) => math.abs(b - o) > 0.05 },
      "batch distribution indistinguishable from base — fixture drift inert")
  }

  test("q134 embedding outliers: census conserves, exactly the corrupted cohort is flagged") {
    import org.apache.spark.sql.functions._
    val rows = Similarity.embeddingOutliers(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nBase = graft.Tables.embeddings(spark, sfDir).count()
    val nCorrupt = graft.Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(25)) === 7).count()
    assert(rows.map(_.getLong(1)).sum == nBase + nCorrupt, "audit census lost vectors")
    for (r <- rows) {
      assert(r.getLong(4) >= 0 && r.getLong(4) <= r.getLong(1))
      // threshold math: a cluster whose max clears 3x the mean must flag
      if (r.getLong(3) * r.getLong(1) > 3L * r.getLong(2))
        assert(r.getLong(4) >= 1, s"cid ${r.getInt(0)}: max beyond 3x mean but zero outliers")
      else
        assert(r.getLong(4) == 0, s"cid ${r.getInt(0)}: outliers reported below the threshold")
    }
    // precision AND recall on this corpus: the flagged set is exactly the
    // injected corruption - no clean vector trips the threshold
    assert(rows.map(_.getLong(4)).sum == nCorrupt,
      s"flagged ${rows.map(_.getLong(4)).sum} != corrupted cohort $nCorrupt")
  }

  test("q136 license propagation: transition census matches a Scala model, only escalates") {
    import org.apache.spark.sql.functions._
    val rows = Similarity.licensePropagation(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // license never de-escalates: final >= own on every row
    for (r <- rows) assert(r.getLong(1) >= r.getLong(0),
      s"license de-escalated: ${r.getLong(0)} -> ${r.getLong(1)}")
    // model from the same (validated-elsewhere) cluster labels
    val (grps, groupLabels) = Similarity.clusterGroupLabels(spark, sfDir)
    val docLbl = groupLabels
      .join(grps.select(col("gid").as("node"), col("members")), Seq("node"))
      .select(col("lbl"), explode(col("members")).as("doc_id"))
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    val own = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        pmod(graft.llm.Similarity.hash60(concat(lit("lic:"), col("source"))), lit(3L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clusterLic = docLbl.toSeq.groupBy(_._2).view
      .mapValues(_.map(p => own(p._1)).max).toMap
    val model = own.toSeq
      .map { case (id, o) =>
        (o, docLbl.get(id).map(clusterLic).map(math.max(o, _)).getOrElse(o)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap == model)
    // contamination exists on this corpus, or the op is inert
    assert(rows.exists(r => r.getLong(1) > r.getLong(0) && r.getLong(2) > 0),
      "no license escalation anywhere - fixture map degenerate")
  }

  test("q183 PQ ANN matches a sequential model; ADC recall@5 vs exact L2 is real") {
    val M = Similarity.PqM; val D = Similarity.PqSubDim; val K = Similarity.PqK
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576.0).toLong).toArray)
      .sortBy(_._1)
    def subv(q: Array[Long], m: Int): Array[Long] = q.slice(m * D, m * D + D)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // one Lloyd iteration per subspace: c0 = first-K subvectors
    def assign(cents: Map[(Int, Int), Array[Long]]): Map[(Long, Int), Int] =
      vecs.flatMap { case (id, q) =>
        (0 until M).map { m =>
          val best = cents.keys.filter(_._1 == m).toSeq
            .map { case (_, c) => (d2(subv(q, m), cents((m, c))), c) }.min
          (id, m) -> best._2
        }
      }.toMap
    def update(a: Map[(Long, Int), Int]): Map[(Int, Int), Array[Long]] =
      vecs.flatMap { case (id, q) => (0 until M).map(m => ((m, a((id, m))), subv(q, m))) }
        .groupBy(_._1).view.mapValues { vs =>
          val arrs = vs.map(_._2)
          (0 until D).map(i => math.floor(
            arrs.map(_(i)).sum.toDouble / arrs.size).toLong).toArray
        }.toMap
    val c0 = (for ((id, q) <- vecs if id < K; m <- 0 until M)
      yield (m, id.toInt) -> subv(q, m)).toMap
    val c1 = update(assign(c0))
    val codes = assign(c1)
    val probes = vecs.filter(_._1 < 8)
    val model = probes.flatMap { case (pid, pq) =>
      val lut = c1.map { case ((m, c), qc) => (m, c) -> d2(subv(pq, m), qc) }
      vecs.filter(_._1 != pid).map { case (id, _) =>
        (pid, id, (0 until M).map(m => lut((m, codes((id, m))))).sum)
      }.sortBy(t => (t._3, t._2)).take(5).zipWithIndex
        .map { case ((p, n, d), i) => (p, n, d, i + 1) }
    }.toSet
    val got = Similarity.pqAnn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == model, "ADC top-5 differs from the sequential PQ model")
    // recall@5 of the 64x-compressed index against exact quantized L2:
    // PQ is approximate, but on this corpus it must find real neighbors
    val exact = probes.map { case (pid, pq) =>
      pid -> vecs.filter(_._1 != pid)
        .map { case (id, q) => (d2(pq, q), id) }.sortBy(identity).take(5)
        .map(_._2).toSet
    }.toMap
    val hits = probes.map { case (pid, _) =>
      got.filter(_._1 == pid).map(_._2).count(exact(pid))
    }.sum
    // a 4x16 codebook on near-orthogonal 64-dim vectors is a coarse
    // sieve (observed ~25% here), but it must beat random retrieval by
    // an order of magnitude or the index is inert
    val chanceHits = probes.length * 5 * 5.0 / (vecs.length - 1)
    assert(hits >= math.max(10 * chanceHits, 6),
      s"ADC recall@5 collapsed: $hits / ${probes.length * 5} (chance $chanceHits)")
  }
}
