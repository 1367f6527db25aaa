package graft.index

import org.apache.spark.rdd.RDD
import scala.reflect.ClassTag

/** The one serving skeleton behind every eager resident probe batch
  * ([[ResidentScan]], [[ResidentAdc]], [[ResidentIvfAdc]],
  * [[ResidentIvfSq8]], [[ResidentBinary]], [[ResidentPostings]],
  * [[HnswResident]], [[HnswRouted]], [[ResidentTagRegistry]]). The index
  * stays pinned and each query batch is probed against it — the reference
  * loads or builds once, then only queries (faiss.py:196-205).
  *
  * Contract of [[batch]]:
  *  - ONE payload broadcast per batch: the queries plus every per-batch
  *    knob the kernel needs (routes, tombstones, delta rows, LUTs);
  *  - ONE narrow job: the family's static per-shard kernel flatMaps over
  *    the pinned shard RDD, emitting its per-shard candidates;
  *  - the caller's merge ([[ProbeMerge.topK]], [[ProbeMerge.topKByScore]]
  *    or MaxSim's reduce) consumes the candidate RDD;
  *  - the payload is destroyed in `finally`, so a failed batch (a kernel
  *    that throws, a stripe abandoned by [[ProbeSlices]]' fail-fast path)
  *    releases what it acquired exactly like a successful one.
  *
  * Families keep only their kernel and their fan-in bound (`estRows`).
  * Kernels live in companion objects and read everything from the
  * payload, so a task closure never captures driver-side state. */
private[index] object ResidentServe {

  /** Materialize freshly persisted shards (the load's one job) and return
    * the vector width they serve — `dimOf` gives a shard's row width, -1
    * for an empty shard; -1 overall is an empty index. */
  def pin[S](shards: RDD[S])(dimOf: S => Int): Int =
    shards.map(dimOf).fold(-1)(math.max)

  /** The serving boundary's dimension check: every query width must equal
    * the index's `d`, checked on the driver before any routing, LUT or
    * payload is built — a wrong-width query fails loudly instead of being
    * ranked on a truncated prefix. An empty index (d < 0) ranks nothing,
    * so it accepts any width. */
  def requireDim(d: Int, widths: Iterator[Int]): Unit =
    if (d >= 0) widths.zipWithIndex.foreach { case (w, i) =>
      require(w == d, s"query $i has dimension $w but the index serves d = $d")
    }

  /** Run one serving batch: broadcast `payload`, flatMap `kernel` over the
    * pinned `shards` and hand the candidate RDD to `merge`; the payload is
    * destroyed whether the batch succeeds or throws. */
  def batch[S, P: ClassTag, C: ClassTag, R](shards: RDD[S], payload: P)
                                           (kernel: (S, P) => Iterator[C])
                                           (merge: RDD[C] => R): R = {
    val bc = shards.sparkContext.broadcast(payload)
    try merge(shards.flatMap(s => kernel(s, bc.value)))
    finally bc.destroy()
  }

  /** Squared L2, or negated inner product under `ip`, in double
    * accumulation over the query's `d` components — the same arithmetic as
    * the codegen kernels. [[requireDim]] guarantees the width at the
    * boundary, so there is no `min(length)` truncation here. */
  def dist(qv: Array[Float], v: Array[Float], ip: Boolean): Double = {
    val d = qv.length
    var acc = 0.0
    var i = 0
    if (ip) {
      while (i < d) { acc += qv(i).toDouble * v(i).toDouble; i += 1 }
      -acc
    } else {
      while (i < d) {
        val t = qv(i).toDouble - v(i).toDouble; acc += t * t; i += 1
      }
      acc
    }
  }
}

/** Bounded (dist asc, id asc) top-`cap` insertion buffer — the one copy
  * every resident kernel and [[ProbeMerge.selectTopK]] rank through. `cap`
  * is small (k, or a refine budget), so insertion beats a heap on constant
  * factors. `withVecs` carries each kept entry's float row along for an
  * in-shard exact refine. Entries 0 until `size` are sorted. */
private[index] final class TopKBuffer(cap: Int, withVecs: Boolean = false) {
  val dist = new Array[Double](cap)
  val id = new Array[Long](cap)
  val vec: Array[Array[Float]] =
    if (withVecs) new Array[Array[Float]](cap) else null
  var size = 0

  def offer(d: Double, i: Long, v: Array[Float] = null): Unit =
    if (size < cap || (cap > 0 && (d < dist(size - 1) ||
        (d == dist(size - 1) && i < id(size - 1))))) {
      var pos = math.min(size, cap - 1)
      while (pos > 0 && (dist(pos - 1) > d ||
             (dist(pos - 1) == d && id(pos - 1) > i))) {
        dist(pos) = dist(pos - 1); id(pos) = id(pos - 1)
        if (withVecs) vec(pos) = vec(pos - 1)
        pos -= 1
      }
      dist(pos) = d; id(pos) = i
      if (withVecs) vec(pos) = v
      if (size < cap) size += 1
    }

  /** The in-shard refine of a `withVecs` buffer: re-score every kept row
    * exactly against `qv` and emit only the k best as (qid, id, dist)
    * candidate rows ([[ProbeMerge.selectTopK]] — k, not `cap`, is the
    * per-shard emission bound). */
  def refine(qid: Long, qv: Array[Float], ip: Boolean,
             k: Int): Iterator[(Long, Long, Double)] = {
    val exact = Array.tabulate(size)(j => ResidentServe.dist(qv, vec(j), ip))
    ProbeMerge.selectTopK(id, exact, size, k).iterator
      .map { case (i, d) => (qid, i, d) }
  }

  /** The kept entries as (qid, id, dist) candidate rows, rank order. */
  def rows(qid: Long): Iterator[(Long, Long, Double)] =
    Iterator.range(0, size).map(j => (qid, id(j), dist(j)))
}
