package graftbench

import java.util.SplittableRandom

/** Seeded input generation. Every value is a pure function of
  * (seed, stream, index), so the Spark-side generator (which writes the
  * tables the library reads) and the in-process reference (which the
  * answer checks use) produce identical data without shipping it.
  */
object Gen {
  val Dim = 64
  val Clusters = 64
  val Labels = 10

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), i))

  /** Cluster centres of the corpus: a mixture of Gaussians gives the
    * IVF quantizer real structure to find, as embedding corpora do.
    */
  def centres(seed: Long): Array[Array[Float]] =
    Array.tabulate(Clusters) { c =>
      val r = rng(seed, 1, c)
      Array.fill(Dim)(gauss(r).toFloat)
    }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  /** Corpus vector `id` under `version` (version 0 = initial load;
    * later versions are the upserted replacements).
    */
  def vec(seed: Long, cs: Array[Array[Float]], id: Long,
          version: Long = 0): Array[Float] = {
    val r = rng(seed, 2 + 1000 * version, id)
    val c = cs(r.nextInt(Clusters))
    Array.tabulate(Dim)(d => (c(d) + 0.6 * gauss(r)).toFloat)
  }

  /** Skewed payload: label l has weight 1/(l+1), so `=` filters range
    * from broad (label 0, ~34%) to narrow (label 9, ~3%).
    */
  def label(seed: Long, id: Long, version: Long = 0): Int = {
    val u = rng(seed, 3 + 1000 * version, id).nextDouble() * LabelNorm
    var l = 0
    var acc = 1.0
    while (acc < u && l < Labels - 1) { l += 1; acc += 1.0 / (l + 1) }
    l
  }
  private val LabelNorm = (1 to Labels).map(1.0 / _).sum

  /** A query near a random corpus point, so nearest neighbours exist. */
  def query(seed: Long, cs: Array[Array[Float]], stream: Long, i: Long,
            n: Long): Array[Float] = {
    val r = rng(seed, 100 + stream, i)
    val base = vec(seed, cs, (r.nextLong() >>> 1) % n)
    base.map(x => (x + 0.3 * gauss(r)).toFloat)
  }

  // ---------------------------------------------------------- documents

  private val Stop = Array("the", "a", "and", "of", "to", "in", "is")
  private val Sources = Array("src0", "src1", "src2", "src3", "src4")
  private val Vocab = Array.tabulate(4000)(i => "w" + Integer.toString(i, 36))

  /** One synthetic document: Zipf-ish content words mixed with
    * stopwords, with a per-document stopword rate and length so the
    * quality gate keeps some and drops some. With probability
    * `dupShare` document `i` is a near-duplicate (two words substituted)
    * of an earlier original, never of another duplicate: clusters are
    * stars, so the clustering fixpoint runs the same few rounds on
    * every seed.
    */
  def doc(seed: Long, shard: Long, i: Int, dupShare: Double): (Long, String, String) = {
    val r = rng(seed, 10000 + shard, i)
    if (i > 10 && r.nextDouble() < dupShare) {
      val words = original(seed, shard, r.nextInt(i)).split(" ")
      for (_ <- 0 until 2) words(r.nextInt(words.length)) = Vocab(r.nextInt(Vocab.length))
      (i.toLong, Sources(r.nextInt(Sources.length)), words.mkString(" "))
    } else (i.toLong, Sources(r.nextInt(Sources.length)), original(seed, shard, i))
  }

  private def original(seed: Long, shard: Long, i: Int): String = {
    val r = rng(seed, 20000 + shard, i)
    val n = 8 + r.nextInt(70)
    val stopRate = r.nextDouble() * 0.5
    Array.fill(n) {
      if (r.nextDouble() < stopRate) Stop(r.nextInt(Stop.length))
      else {
        // Zipf-like: low word ids dominate, so some documents repeat
        val u = r.nextDouble()
        Vocab((u * u * Vocab.length).toInt)
      }
    }.mkString(" ")
  }
}
