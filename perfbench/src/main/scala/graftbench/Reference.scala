package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.parallel.CollectionConverters._

/** Plain-Scala references the answer checks compare against. None of
  * this calls the library: each is an independent implementation of
  * the documented semantics (same float operations in the same order
  * where the library pins them, so scores compare at 4 dp).
  */
object Reference {

  /** Spark's `round(x, 4)` on a double (HALF_UP on the decimal form). */
  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    math.sqrt(acc)
  }
  def l1(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += math.abs(a(i).toDouble - b(i).toDouble); i += 1 }
    acc
  }
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y; i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Lower-is-better key and reported score for a metric name. */
  def keyOf(metric: String, v: Array[Float], q: Array[Float]): Double = metric match {
    case "L2"  => l2(v, q)
    case "L1"  => l1(v, q)
    case "IP"  => -dot(v, q)
    case "COS" => -cosine(v, q)
  }
  def scoreOfKey(metric: String, key: Double): Double =
    if (metric == "L2" || metric == "L1") key else -key

  /** Exact top-k ids by (key, id) over the rows `pass` admits. */
  def topK(vecs: Int => Array[Float], ids: Array[Long], q: Array[Float],
           metric: String, k: Int, pass: Int => Boolean): Array[(Long, Double)] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)]
    var i = 0
    while (i < ids.length) {
      if (pass(i)) {
        val key = keyOf(metric, vecs(i), q)
        if (heap.size < k) heap.enqueue((key, ids(i)))
        else if (key < heap.head._1) { heap.dequeue(); heap.enqueue((key, ids(i))) }
      }
      i += 1
    }
    heap.toArray.sortBy(p => (p._1, p._2)).map(p => (p._2, p._1))
  }

  /** Tie-tolerant comparison of a top-k answer with the exact one.
    * Scores compare after the library's 4 dp rounding; ids may differ
    * only among candidates whose rounded score ties the k-th. Every
    * returned id's own score must round to what the answer reports.
    */
  def sameTopK(got: Seq[(Long, Double)], exact: Array[(Long, Double)],
               metric: String, scoreOf: Long => Option[Double]): Boolean = {
    val want = exact.map(p => round4(scoreOfKey(metric, p._2)))
    if (got.length != want.length) return false
    if (got.map(_._1).distinct.length != got.length) return false
    val scoresOk = got.map(_._2).zip(want).forall { case (a, b) => a == b }
    val ownOk = got.forall { case (id, s) => scoreOf(id).exists(x => round4(x) == s) }
    val boundary = if (want.isEmpty) 0.0 else want.last
    val better = (a: Double, b: Double) =>
      if (metric == "L2" || metric == "L1") a < b else a > b
    val must = exact.map(_._1).zip(want).collect { case (id, s) if better(s, boundary) => id }
    val gotIds = got.map(_._1).toSet
    scoresOk && ownOk && must.forall(gotIds)
  }

  // ------------------------------------------------------ cleaning pipeline

  private val Stop = Seq("the", "a", "and", "of", "to", "in", "is")

  /** The quality score: length term + stopword-band term + repetition
    * term, equal weights, 4 dp.
    */
  def quality(text: String): Double = {
    val toks = text.split(" ", -1)
    val n = toks.length.toDouble
    val hits = Stop.map(w => toks.count(_ == w).toDouble).reduce(_ + _)
    val sr = hits / n
    val rep = 1.0 - toks.distinct.length.toDouble / n
    round4((math.min(n / 50.0, 1.0)
      + (if (sr >= 0.01 && sr <= 0.6) 1.0 else 0.0)
      + (1.0 - math.min(rep / 0.9, 1.0))) / 3.0)
  }

  def shingles(text: String): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < 3) Set(text)
    else (0 to t.length - 3).map(p => s"${t(p)} ${t(p + 1)} ${t(p + 2)}").toSet
  }

  private def md5(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
  private def prefix60(d: Array[Byte]): Long = {
    var v = 0L
    for (i <- 0 until 7) v = (v << 8) | (d(i) & 0xffL)
    (v << 4) | ((d(7) & 0xffL) >>> 4)
  }
  private def hex(d: Array[Byte]): String = d.map(b => f"${b & 0xff}%02x").mkString

  /** Near-duplicate victims: minhash (12 md5-prefix hashes, 4 bands of
    * 3) candidate pairs, exact shingle-jaccard verify, connected
    * components; every member but the component minimum is a victim.
    */
  def victims(docs: Seq[(Long, String)], minJaccard: Double): Set[Long] = {
    val sh = docs.par.map { case (id, t) => id -> shingles(t) }.seq.toMap
    val bands = docs.par.flatMap { case (id, _) =>
      val s = sh(id)
      val mh = (0 until 12).map(j => s.iterator.map(x => prefix60(md5(s"$j|$x"))).min)
      (0 until 4).map(b => ((b, hex(md5(s"${mh(3 * b)}|${mh(3 * b + 1)}|${mh(3 * b + 2)}"))), id))
    }.seq
    val cand = bands.groupBy(_._1).values.flatMap { g =>
      val ids = g.map(_._2).sorted
      for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
    }.toSet
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    cand.foreach { case (a, b) =>
      val (sa, sb) = (sh(a), sh(b))
      val n = sa.count(sb)
      if (n.toDouble / (sa.size + sb.size - n) >= minJaccard) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
      }
    }
    parent.keys.filter(x => find(x) != x).toSet
  }

  /** `Pipeline.cleanCorpus` at minQuality 0.5, minJaccard 0.5:
    * source -> (n_docs, avg_quality).
    */
  def cleanCorpus(docs: Seq[(Long, String, String)]): Map[String, (Long, Double)] = {
    val v = victims(docs.map(d => (d._1, d._3)), 0.5)
    docs.par.map(d => (d._2, d._1, quality(d._3))).seq
      .filter(d => d._3 >= 0.5 && !v(d._2))
      .groupBy(_._1)
      .map { case (src, ds) => src -> (ds.length.toLong, ds.map(_._3).sum / ds.length) }
  }
}
