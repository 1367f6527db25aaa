package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Diagnostic main for the sf0.1 serving-batch submit floor (VERDICT r12
  * item 7): at 32 cores most serving families plateau near ~13.5k q/s =
  * ~37 ms per 500-query batch regardless of kernel, and 4× cores buys
  * ≈1× — the signature of a FIXED per-batch cost, not compute. This main
  * decomposes one flat-graph probe batch into its fixed-cost parts and
  * times each in isolation (medians over many reps, steady state):
  *
  *   empty_job        — rdd.count() on the resident 8-partition RDD
  *                      (job submit + schedule + 8 no-op tasks + collect)
  *   bc_create_destroy— broadcast a 500×64-float query array, blocking
  *                      destroy (what probeBatch pays once per stripe)
  *   bc_create_only   — same broadcast, destroy deferred
  *   probe_unsliced   — HnswResident.probeBatch(500q), ONE job
  *   probe_striped_s  — ProbeSlices.striped at the bench's auto() count
  *
  * Interpretation: if empty_job × stripes + bc × 3·stripes ≈ the striped
  * batch wall, the floor is scheduling/broadcast bookkeeping and the fix
  * is fewer jobs / fewer broadcasts per batch, not a faster kernel. */
object ProbeFloor {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .appName("probe-floor")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val n = emb.count()
    val base = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val serveShards = math.max(8, math.min(cpus.toInt, (n / 16384L).toInt))
    val resident = index.HnswKnn.buildResident(base,
      numPartitions = serveShards)
    val nq = 500
    val qs = base.where(col("id") < nq)
      .select(col("id"), col("vec")).as[(Long, Array[Float])].collect()
    val rdd = spark.sparkContext.range(0, serveShards, 1,
      serveShards)

    def med(name: String, reps: Int)(f: => Unit): Double = {
      f; f // warm
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.sorted
      val m = ts(ts.length / 2)
      println(f"$name%-22s median ${m}%8.2f ms  (min ${ts.head}%.2f max ${ts.last}%.2f, n=$reps)")
      m
    }

    val slices = index.ProbeSlices.auto(serveShards, cpus.toInt, nq)
    println(s"n=$n serveShards=$serveShards cpus=$cpus slices=$slices nq=$nq")

    med("empty_job", 50) { rdd.count() }
    med("bc_create_destroy", 50) {
      val b = spark.sparkContext.broadcast(qs); b.destroy()
    }
    med("bc_create_only", 50) {
      val b = spark.sparkContext.broadcast(qs); b.unpersist(false)
    }
    med("bc_empty_destroy", 50) {
      val b = spark.sparkContext.broadcast(Set.empty[Long]); b.destroy()
    }
    for (ef <- Seq(8, 32)) {
      med(s"probe_unsliced_ef$ef", 30) {
        require(resident.probeBatch(qs, k = 10, efSearch = ef).nonEmpty)
      }
      med(s"probe_striped_${slices}_ef$ef", 30) {
        require(index.ProbeSlices.striped(qs, slices)(
          st => resident.probeBatch(st, k = 10, efSearch = ef))(
          r => (r._1, r._4)).nonEmpty)
      }
    }
    resident.unload()
    spark.stop()
  }
}
