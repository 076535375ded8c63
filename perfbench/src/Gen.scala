package perfbench

import java.util.SplittableRandom

/** A scalar+vector document as the tables store it. */
final case class Doc(id: Long, tag: String, price: Double, vec: Array[Float])

/** Seeded input generators. Every value is a pure function of (seed, stream,
  * index), so executors and the driver derive identical inputs without
  * shipping them, and the same seed always gives the same inputs.
  */
object Gen {
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + stream) + i))

  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def gauss(r: SplittableRandom): Double = {
    // Box-Muller; u1 in (0, 1]
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Clustered vectors: `nClusters` centres in [-1, 1]^dim, points at
    * Gaussian distance `sigma` around a centre.
    */
  final case class VecSpace(seed: Long, dim: Int, nClusters: Int, sigma: Double) {
    val centres: Array[Array[Float]] = Array.tabulate(nClusters) { c =>
      val r = rng(seed, 1, c)
      Array.fill(dim)((r.nextDouble() * 2 - 1).toFloat)
    }

    /** Point `i` of stream `stream` (documents, updates and queries use
      * different streams).
      */
    def point(stream: Long, i: Long): Array[Float] = {
      val r = rng(seed, stream, i)
      val c = centres(r.nextInt(nClusters))
      Array.tabulate(dim)(d => (c(d) + sigma * gauss(r)).toFloat)
    }
  }

  /** Tags with shares 40/35/15/10 %: tag in (t0, t1, t2) passes 90 % of docs. */
  val Tags: Array[String] = Array("t0", "t1", "t2", "t3")
  private val tagCdf = Array(0.40, 0.75, 0.90, 1.0)

  def doc(space: VecSpace, stream: Long, id: Long, version: Long = 0L): Doc = {
    val r = rng(space.seed, 2 + stream * 1000003L + version, id)
    val u = r.nextDouble()
    val tag = Tags(tagCdf.indexWhere(u < _))
    val price = math.floor(r.nextDouble() * 10000.0) / 100.0
    Doc(id, tag, price, space.point(stream * 1000003L + version + 7, id))
  }

  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Exact top-k ids by squared L2 over the docs that pass `keep`, ties to
    * the smaller id: a plain scan of the generator's vectors, independent
    * of the engine.
    */
  def exactTopK(docs: Iterable[Doc], q: Array[Float], k: Int, keep: Doc => Boolean): Seq[Long] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)] // max-heap
    docs.foreach { d =>
      if (keep(d)) {
        val s = l2(d.vec, q)
        if (heap.size < k) heap.enqueue((s, d.id))
        else if (s < heap.head._1 || (s == heap.head._1 && d.id < heap.head._2)) {
          heap.dequeue(); heap.enqueue((s, d.id))
        }
      }
    }
    heap.toSeq.sorted.map(_._2)
  }

  /** Zipf(s) sampler over ranks 0 until n (rank 0 most likely). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
}
