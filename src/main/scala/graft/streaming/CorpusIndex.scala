package graft.streaming

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.SparkSession

/** One generation of the landed ingest catalog ([[Streaming.IngestCatalog]])
  * as a driver-built probe structure: the landed doors broadcast it ONCE
  * and probe it with a row-local expression per arriving document, so a
  * micro-batch runs no corpus scan and no broadcast exchange — the join
  * doors re-ran six `BroadcastExchange`s (two of them rebuilding hash
  * relations of tables that cannot change before the next re-land) on
  * every trigger, including the no-data trigger after each batch.
  *
  * Holds exactly what the join cores read, in the join cores' terms:
  *  - the canonical-URL and content-digest sets;
  *  - band key → corpus postings over the landed shingle sets (`hs_c`);
  *  - trigram hash → corpus postings over the landed gram arrays (`g_c`),
  *    inverted here from the arrays themselves (so no exploded postings
  *    table is landed).
  * Corpus docs are addressed by their POSITION in cor_id-sorted arrays, so
  * "lowest cor_id wins a tie" is "lowest position wins", and postings are
  * `Int`s rather than `Long`s.
  *
  * Verification is the join cores' contract, integer for integer: the
  * size-ratio prefilter, the sorted merge-intersect, the cross-multiplied
  * cuts (bp ≥ 9000; 10·|A ∩ B| ≥ 9·|A|), and the pigeonhole probe prefix
  * of ⌊0.1·|A|⌋ + 1 grams. Sizes are the corpus's: the index is meant for
  * corpora whose catalog the join doors already broadcast per trigger. */
final class CorpusIndex private (
    canon: java.util.HashSet[String],
    digest: java.util.HashSet[String],
    sigIds: Array[Long], sigSets: Array[Array[Long]], bands: CorpusIndex.Postings,
    gramIds: Array[Long], gramSets: Array[Array[Long]], grams: CorpusIndex.Postings)
    extends Serializable {
  import CorpusIndex._

  /** Precedence rank of one arriving doc: 0 dup_url, 1 exact_dup,
    * 2 near_dup, 3 contained, 4 ingested (the first screen that claims
    * it). Arguments are the probe columns of
    * [[Streaming.ingestPrecedenceStreamLanded]]; any may be null. */
  def rank(canonUrl: String, th: String, hs: Array[Long], bkeys: Array[Long],
      g3: Array[Long]): Int =
    if (canonUrl != null && canon.contains(canonUrl)) 0
    else if (th != null && digest.contains(th)) 1
    else if (bestNear(hs, bkeys).isDefined) 2
    else if (bestContainer(g3).isDefined) 3
    else 4

  /** `(cor_id, bp)` of the best near-dup of a doc with sorted shingle set
    * `hs` and band keys `bkeys`: the highest bp ≥ 9000 among band
    * collisions, ties to the lowest cor_id; None if none verifies. */
  def bestNear(hs: Array[Long], bkeys: Array[Long]): Option[(Long, Long)] = {
    if (hs == null || hs.isEmpty || bkeys == null) return None
    val cands = new ArrayBuilder.ofInt
    bkeys.foreach(bands.addTo(_, cands))
    val szI = hs.length.toLong
    best(cands.result(), sigIds) { p =>
      val hc = sigSets(p); val szC = hc.length.toLong
      if (math.min(szI, szC) * 10 < math.max(szI, szC) * 9) -1L
      else {
        val n = intersectCount(hs, hc)
        val bp = 10000L * n / (szI + szC - n)
        if (bp >= 9000) bp else -1L
      }
    }
  }

  /** `(cor_id, containment_bp)` of the best container of a doc with sorted
    * trigram set `g3`: the highest containment ≥ 90 % among docs sharing
    * a gram of its probe prefix, ties to the lowest cor_id; None if none
    * verifies. */
  def bestContainer(g3: Array[Long]): Option[(Long, Long)] = {
    if (g3 == null || g3.isEmpty) return None
    val szI = g3.length.toLong
    val k = math.min(szI - (9 * szI + 9) / 10 + 1, szI).toInt
    val cands = new ArrayBuilder.ofInt
    (0 until k).foreach(i => grams.addTo(g3(i), cands))
    best(cands.result(), gramIds) { p =>
      val gc = gramSets(p)
      if (10L * gc.length < 9 * szI) -1L
      else {
        val n = intersectCount(g3, gc)
        if (10 * n >= 9 * szI) 10000L * n / szI else -1L
      }
    }
  }
}

object CorpusIndex {

  /** Key → corpus-position postings in CSR form: sorted distinct `keys`,
    * the positions of `keys(k)` at `ids(starts(k) until starts(k + 1))`. */
  final class Postings private (keys: Array[Long], starts: Array[Int],
      ids: Array[Int]) extends Serializable {
    def addTo(key: Long, buf: ArrayBuilder.ofInt): Unit = {
      val k = java.util.Arrays.binarySearch(keys, key)
      if (k >= 0) { var i = starts(k); while (i < starts(k + 1)) { buf += ids(i); i += 1 } }
    }
  }

  object Postings {
    /** Postings of the pairs `(keys(i), pos(i))`, in any order. */
    def apply(keys: Array[Long], pos: Array[Int]): Postings = {
      val sorted = keys.clone()
      java.util.Arrays.sort(sorted)
      var n = 0
      sorted.indices.foreach { i =>
        if (i == 0 || sorted(i) != sorted(n - 1)) { sorted(n) = sorted(i); n += 1 }
      }
      val uniq = java.util.Arrays.copyOf(sorted, n)
      val slot = keys.map(java.util.Arrays.binarySearch(uniq, _))
      val starts = new Array[Int](n + 1)
      slot.foreach(s => starts(s + 1) += 1)
      (0 until n).foreach(k => starts(k + 1) += starts(k))
      val fill = java.util.Arrays.copyOf(starts, n)
      val ids = new Array[Int](keys.length)
      slot.indices.foreach { i => ids(fill(slot(i))) = pos(i); fill(slot(i)) += 1 }
      new Postings(uniq, starts, ids)
    }
  }

  /** Read one generation of the landed catalog into an index: one collect
    * per table, then the gram postings are inverted from the gram arrays. */
  def build(spark: SparkSession, cat: Streaming.IngestCatalog): CorpusIndex = {
    import spark.implicits._
    def set(table: String, column: String) = {
      val s = new java.util.HashSet[String]()
      spark.table(table).select(column).as[String].collect().foreach(s.add)
      s
    }
    def sets(table: String, column: String) = {
      val rows = spark.table(table).select($"cor_id", $"$column")
        .as[(Long, Array[Long])].collect().sortBy(_._1)
      (rows.map(_._1), rows.map(_._2))
    }
    val (sigIds, sigSets) = sets(cat.sigsT, "hs_c")
    val bandRows = spark.table(cat.bandsT).select($"bkey", $"cor_id")
      .as[(Long, Long)].collect()
    val bands = Postings(bandRows.map(_._1),
      bandRows.map(r => java.util.Arrays.binarySearch(sigIds, r._2)))
    val (gramIds, gramSets) = sets(cat.gramT, "g_c")
    val grams = Postings(gramSets.flatten,
      gramSets.indices.flatMap(p => Iterator.fill(gramSets(p).length)(p)).toArray)
    new CorpusIndex(set(cat.canonT, "canon"), set(cat.digestT, "th"),
      sigIds, sigSets, bands, gramIds, gramSets, grams)
  }

  /** |a ∩ b| of two sorted, duplicate-free arrays — the merge walk of
    * [[graft.functions.SortedLongIntersectCount]]. */
  private def intersectCount(a: Array[Long], b: Array[Long]): Long = {
    var i = 0; var j = 0; var n = 0L
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  /** `(ids(p), score(p))` of the candidate position with the highest
    * non-negative score, ties to the lowest position (= lowest cor_id);
    * None if every score is negative. Each distinct position scores once. */
  private def best(cands: Array[Int], ids: Array[Long])(score: Int => Long)
      : Option[(Long, Long)] = {
    java.util.Arrays.sort(cands)
    var bestP = -1; var bestS = -1L
    cands.indices.foreach { i =>
      if (i == 0 || cands(i) != cands(i - 1)) {
        val s = score(cands(i))
        if (s > bestS) { bestP = cands(i); bestS = s }
      }
    }
    if (bestP < 0) None else Some((ids(bestP), bestS))
  }
}
