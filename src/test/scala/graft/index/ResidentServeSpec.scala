package graft.index

import graft.{SparkSuite, Tables}
import graft.operators.{Sparse, TagFilter}
import org.apache.spark.{GraftBlocks, SparkException}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

class ResidentServeSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  lazy val emb = Tables.embeddings(spark, sfDir).cache()
  lazy val base = emb.select($"vec_id".as("id"), $"embedding".as("vec")).cache()

  /** The id the next broadcast will exceed. */
  private def broadcastMark(): Long = {
    val b = spark.sparkContext.broadcast(0)
    b.destroy()
    b.id
  }

  private def assertReleased(mark: Long): Unit =
    eventually(timeout(30.seconds), interval(100.millis)) {
      val held = GraftBlocks.heldBroadcastsAfter(spark.sparkContext, mark)
      assert(held.isEmpty, s"broadcasts still held on the driver: $held")
    }

  test("a failed batch releases its payload: a kernel that throws on one shard") {
    val shards = spark.sparkContext.parallelize(0 until 4, 4)
    val payload = Array.fill(64)(7L)
    // the block probe sees a broadcast that is still held
    val mark0 = broadcastMark()
    val held = spark.sparkContext.broadcast(payload)
    assert(GraftBlocks.heldBroadcastsAfter(spark.sparkContext, mark0) === Set(held.id))
    held.destroy()
    assertReleased(mark0)
    // a successful batch returns the merge's result and releases
    assert(ResidentServe.batch(shards, payload)(ResidentServeSpec.sumShard)(
      _.collect().length) === 4)
    val mark = broadcastMark()
    val e = intercept[SparkException] {
      ResidentServe.batch(shards, payload)(ResidentServeSpec.failOnTwo)(
        _.collect())
    }
    assert(e.getMessage.contains("shard 2 failed"))
    assertReleased(mark)
  }

  test("a failed batch releases its payload: postings rerank without a forward index") {
    val tf = Sparse.fromTermFreq(Tables.documents(spark, sfDir))
    val served = ResidentPostings.load(tf, m = 16, numPartitions = 2)
    try {
      val qs = Array((0L, Array("the", "of"), Array(1L, 2L)))
      val mark = broadcastMark()
      val e = intercept[SparkException] {
        served.probeBatch(qs, k = 10, rerank = 20)
      }
      assert(e.getMessage.contains("needs the forward index"))
      assertReleased(mark)
    } finally served.unload()
  }

  test("every vector family rejects a wrong-dimension query on the driver") {
    val good = base.select($"vec").as[Array[Float]].head()
    // d + 64 components: a wider float query AND a wider packed code
    val bad = good ++ Array.fill(64)(0.5f)
    def pack(v: Array[Float]): Array[Long] = {
      val w = new Array[Long]((v.length + 63) >>> 6)
      v.indices.foreach(i => if (v(i) > 0f) w(i >>> 6) |= 1L << (i & 63))
      w
    }
    def tmp(name: String) = java.nio.file.Files.createTempDirectory(name)
      .resolve("idx").toString
    val tagged = TagFilter.withTags(emb).cache()
    val ivf = IvfIndex.build(base, c = 4, iters = 2)
    val (mins, spans) = Sq8.train(base)
    val cb = Pq.train(base, m = 4, ksub = 16, iters = 2)
    val routedPath = tmp("graft-serve-routed")
    HnswRouted.buildAndSave(base, routedPath, c = 4, kmIters = 2)
    val regPath = tmp("graft-serve-reg")
    TagSubindexes.build(tagged, regPath, minFreqBp = 500, numPartitions = 2)

    val scan = ResidentScan.load(tagged, numPartitions = 2)
    val adc = ResidentAdc.load(base, cb, numPartitions = 2)
    val ivfAdc = ResidentIvfAdc.load(base, ivf, cb, numPartitions = 2)
    val ivfSq8 = ResidentIvfSq8.load(base, ivf, mins, spans, numPartitions = 2)
    val bin = ResidentBinary.load(base, numPartitions = 2, pinFloats = true)
    val hnsw = HnswKnn.buildResident(base, numPartitions = 2)
    val routed = HnswRouted.loadResident(spark, routedPath)
    val reg = TagSubindexes.loadResident(spark, regPath)
    try {
      val families: Seq[(String, Array[Float] => Any)] = Seq(
        "scan" -> (v => scan.probeBatch(Array((0L, v, Array.empty[Int], 0L)), 10)),
        "scan ranges" -> (v =>
          scan.probeBatchRanges(Array((0L, v)), 10, Array((0L, 1000L)))),
        "adc" -> (v => adc.probeBatch(Array((0L, v)), 10, rerank = 20)),
        "ivf-adc" -> (v => ivfAdc.probeBatch(Array((0L, v)), 10, nprobe = 2,
          rerank = 20)),
        "ivf-sq8 client-routed" -> (v =>
          ivfSq8.probeBatch(Array((0L, v)), 10, nprobe = 2, rerank = 20)),
        "ivf-sq8 shard-routed" -> (v => ivfSq8.probeBatchMass(Array((0L, v)),
          10, minMass = 0.5, rerank = 20, shardRoute = Some(true))),
        "binary" -> (v => bin.probeBatch(Array((0L, pack(v))), 10)),
        "binary rerank" -> (v =>
          bin.probeBatchRerank(Array((0L, pack(v), v)), 10, c = 20)),
        "binary rerank, float side" -> (v => bin.probeBatchRerank(
          Array((0L, pack(v.take(good.length)), v)), 10, c = 20)),
        "hnsw resident" -> (v => hnsw.probeBatch(Array((0L, v)), 10)),
        "hnsw routed" -> (v => routed.probeBatch(Array((0L, v)), 10)),
        "tag registry" -> (v =>
          reg.probeGroupsBatch(Map(reg.keys.head -> Array((0L, v))), 10, 64)))
      families.foreach { case (name, probe) =>
        probe(good) // the matching width serves
        val e = intercept[IllegalArgumentException](probe(bad))
        assert(e.getMessage.contains("dimension"), s"$name: ${e.getMessage}")
      }
    } finally {
      Seq(() => scan.unload(), () => adc.unload(), () => ivfAdc.unload(),
        () => ivfSq8.unload(), () => bin.unload(), () => hnsw.unload(),
        () => routed.unload(), () => reg.unload()).foreach(_())
      tagged.unpersist()
    }
  }
}

object ResidentServeSpec {
  def failOnTwo(shard: Int, p: Array[Long]): Iterator[Long] =
    if (shard == 2) throw new IllegalStateException("shard 2 failed")
    else p.iterator

  def sumShard(shard: Int, p: Array[Long]): Iterator[Long] =
    Iterator.single(p.sum + shard)
}
