package perfbench

/** Exact answers computed by brute force in the benchmark, independent of
  * the library's kernels and layouts. Distances use the same double
  * accumulation as the library's scan kernel, and ranking is (dist asc,
  * id asc) for vectors and (score desc, id asc) for sparse MIPS. */
object Truth {

  private def par[T: scala.reflect.ClassTag](n: Int)(f: Int => T): Array[T] = {
    val out = new Array[T](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => out(i) = f(i))
    out
  }

  def l2(q: Array[Float], v: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < q.length) { val d = q(i).toDouble - v(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  /** Top-k ids per query over the rows `keep` admits. */
  def knn(qs: Array[Array[Float]], vecs: Array[Array[Float]], k: Int)
         (keep: (Int, Int) => Boolean): Array[Array[Long]] =
    par(qs.length) { qi =>
      val q = qs(qi)
      val bd = Array.fill(k)(Double.MaxValue)
      val bi = Array.fill(k)(Long.MaxValue)
      var r = 0
      while (r < vecs.length) {
        if (keep(qi, r)) {
          val d = l2(q, vecs(r))
          if (d < bd(k - 1) || (d == bd(k - 1) && r < bi(k - 1))) {
            var p = k - 1
            while (p > 0 && (bd(p - 1) > d || (bd(p - 1) == d && bi(p - 1) > r))) {
              bd(p) = bd(p - 1); bi(p) = bi(p - 1); p -= 1
            }
            bd(p) = d; bi(p) = r
          }
        }
        r += 1
      }
      bi.filter(_ != Long.MaxValue)
    }

  /** Exact sparse MIPS top-k ids per query. */
  def mips(qs: Array[SparseDoc], docs: Array[SparseDoc], k: Int): Array[Array[Long]] = {
    val post = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[(Int, Long)]]
    docs.indices.foreach { d =>
      val doc = docs(d)
      doc.dims.indices.foreach(j =>
        post.getOrElseUpdate(doc.dims(j), scala.collection.mutable.ArrayBuffer.empty) += ((d, doc.weights(j))))
    }
    par(qs.length) { qi =>
      val score = scala.collection.mutable.LongMap.empty[Long]
      val q = qs(qi)
      q.dims.indices.foreach { j =>
        post.get(q.dims(j)).foreach(_.foreach { case (d, v) =>
          score(d.toLong) = score.getOrElse(d.toLong, 0L) + q.weights(j) * v
        })
      }
      score.toArray.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
    }
  }

  /** Mean over queries of |got ∩ truth| / |truth|; `got` is (qid, id). */
  def recall(got: Seq[(Long, Long)], truth: Array[Array[Long]]): Double = {
    val byQ = got.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val per = truth.indices.map { q =>
      val t = truth(q)
      if (t.isEmpty) 1.0
      else t.count(byQ.getOrElse(q.toLong, Set.empty[Long])).toDouble / t.length
    }
    per.sum / per.length
  }
}
