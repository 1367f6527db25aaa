package perfbench

import graft.streaming.RunbookStep
import java.util.SplittableRandom

/** Seeded input generation. Every array here is a pure function of the seed
  * and the workload sizes, so the same seed gives the same inputs. */
final case class Corpus(vecs: Array[Array[Float]], labels: Array[Int])

final case class SparseDoc(dims: Array[String], weights: Array[Long])

final case class FilterQuery(qid: Long, vec: Array[Float], tags: Array[Int])

object Inputs {
  val Dim = 64
  val Clusters = 64
  val Sigma = 0.2
  val Labels = 10

  /** Unit-norm d=64 vectors from a mixture of 64 Gaussian clusters on the
    * sphere: center + sigma·N(0, I), re-normalized. `centers` are shared by
    * a workload's corpus and its held-out queries. */
  def centers(rng: SplittableRandom): Array[Array[Float]] =
    Array.fill(Clusters)(unit(Array.fill(Dim)(rng.nextGaussian().toFloat)))

  def mixture(rng: SplittableRandom, cs: Array[Array[Float]], n: Int): (Array[Array[Float]], Array[Int]) = {
    val asg = Array.fill(n)(rng.nextInt(cs.length))
    val vecs = asg.map { c =>
      val ctr = cs(c)
      unit(Array.tabulate(Dim)(i => (ctr(i) + Sigma * rng.nextGaussian()).toFloat))
    }
    (vecs, asg)
  }

  private def unit(v: Array[Float]): Array[Float] = {
    var s = 0.0
    v.foreach(x => s += x.toDouble * x)
    val inv = (1.0 / math.sqrt(s)).toFloat
    v.map(_ * inv)
  }

  def corpus(rng: SplittableRandom, cs: Array[Array[Float]], n: Int): Corpus = {
    val (vecs, _) = mixture(rng, cs, n)
    Corpus(vecs, Array.fill(n)(rng.nextInt(Labels)))
  }

  /** Does the tag set `TagFilter.withTags` derives for row `id` — its label
    * and 10 + id mod 7 — contain every query tag? */
  def hasTags(id: Int, label: Int, qtags: Array[Int]): Boolean = {
    val mod7 = 10 + id % 7
    qtags.forall(t => t == label || t == mod7)
  }

  /** Half the queries carry two tags (label and a mod-7 tag, ~1/70
    * selectivity), half carry one frequent mod-7 tag (~1/7). */
  def filterQueries(rng: SplittableRandom, cs: Array[Array[Float]], nq: Int): Array[FilterQuery] = {
    val (vecs, _) = mixture(rng, cs, nq)
    Array.tabulate(nq) { q =>
      val mod7 = 10 + ((q * 3 + 1) % 7)
      val tags = if (q < nq / 2) Array(rng.nextInt(Labels), mod7) else Array(mod7)
      FilterQuery(q.toLong, vecs(q), tags)
    }
  }

  /** Zipf(s = 1.1) term draws over a vocabulary of ~tokens/200 terms (the
    * tools/gen_bench_sf.py recipe), hash-shuffled rank → term, tf weights.
    * Returns `n` documents; callers draw docs and queries from one stream. */
  def sparseDocs(rng: SplittableRandom, n: Int, vocab: Int): Array[SparseDoc] = {
    val cdf = new Array[Double](vocab)
    var acc = 0.0
    var r = 0
    while (r < vocab) { acc += 1.0 / math.pow(r + 1, 1.1); cdf(r) = acc; r += 1 }
    val perm = Array.range(0, vocab)
    var i = vocab - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1 }
    Array.fill(n) {
      val len = 8 + rng.nextInt(41)
      val tf = scala.collection.mutable.TreeMap.empty[Int, Long]
      var t = 0
      while (t < len) {
        val u = rng.nextDouble() * acc
        var p = java.util.Arrays.binarySearch(cdf, u)
        if (p < 0) p = -p - 1
        val term = perm(math.min(p, vocab - 1))
        tf(term) = tf.getOrElse(term, 0L) + 1L
        t += 1
      }
      SparseDoc(tf.keysIterator.map(k => s"t$k").toArray, tf.valuesIterator.toArray)
    }
  }

  /** Vocabulary size for `n` docs of mean length 28: tokens / 200, floored. */
  def vocabFor(n: Int): Int = math.max(256, math.min(50000, n * 28 / 200))

  /** Stream corpus in cluster order: ids are contiguous per cluster, so an
    * insert range is a slice of the distribution (the clustered runbooks'
    * data drift). */
  def clusteredCorpus(rng: SplittableRandom, cs: Array[Array[Float]], n: Int): Array[Array[Float]] = {
    val (vecs, asg) = mixture(rng, cs, n)
    vecs.indices.sortBy(i => (asg(i), i)).map(vecs).toArray
  }

  /** The delete-runbook shape over `chunks` equal id ranges: each chunk is
    * inserted and followed by a search; after the searches of the last
    * deletes·2 odd-numbered inserts the two oldest live chunks are deleted;
    * one final search. At 32 chunks this is the documented 32 inserts, 10
    * deletes and 33 searches; max_pts is 60% of n. */
  def deleteRunbook(n: Int, chunks: Int): (Seq[RunbookStep], Long) = {
    val deletes = (chunks * 10 + 16) / 32
    val firstDelete = chunks - 2 * deletes + 1
    def at(c: Int): Long = c.toLong * n / chunks
    val steps = Seq.newBuilder[RunbookStep]
    for (i <- 0 until chunks) {
      steps += RunbookStep("insert", at(i), at(i + 1))
      steps += RunbookStep("search")
      if (i >= firstDelete && (i - firstDelete) % 2 == 0) {
        val j = (i - firstDelete) / 2
        steps += RunbookStep("delete", at(2 * j), at(2 * j + 2))
      }
    }
    steps += RunbookStep("search")
    (steps.result(), n.toLong * 6 / 10)
  }
}
