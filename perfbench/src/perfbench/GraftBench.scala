package perfbench

import graft.index.{HnswKnn, HnswResident, ProbeSlices, ResidentPostings, ResidentScan, ResidentTagRegistry, TagSubindexes}
import graft.operators.{Sparse, TagFilter}
import graft.streaming.RunbookExecutor
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** One workload: the serving corpus size, the runbook corpus size and the
  * number of id chunks its runbook inserts. */
final case class Workload(name: String, serveN: Int, streamN: Int, chunks: Int)

/** Closed-loop client over graft's resident serving entry points and its
  * runbook executor. Usage:
  * {{{
  * GraftBench --workload serve-2k --seed 1 --seconds 10 --trace 0 \
  *   --cores 4 --workdir .bench_build/run
  * }}}
  * Prints one JSON line last: end-to-end metrics with `--trace 0`,
  * per-layer metrics with `--trace 1`. Exit 1 on a correctness failure. */
object GraftBench {
  val K = 10
  val FilterNq = 500
  val AnnNq = 500
  val SparseNq = 200
  val StreamNq = 200
  val PlannerThresholdBp = 1200L // Bench's planner cut: label ~1000 bp, mod-7 tag ~1428 bp
  val SetupReps = 3
  val WarmupSec = 5.0
  val ParitySample = 16 // queries checked row for row against the dataflow forms
  // knobs at the matched-recall point: the smallest grid value whose recall
  // cleared 0.9 with a 0.02 margin on every seed tried; fixed here, checked
  // every run (efSearch 10 left the runbook checkpoints at 0.92)
  val RecallFloor = 0.9
  val EfConstruction = 100
  val EfSearch = 16 // every graph probe: ann, tag subindexes, runbook searches
  val SparseBudget = 64L
  val SparseRerank = 320

  val workloads: Map[String, Workload] = Seq(
    Workload("serve-2k", serveN = 2000, streamN = 2000, chunks = 8),
    Workload("stream-20k", serveN = 6000, streamN = 20000, chunks = 12),
  ).map(w => w.name -> w).toMap

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = workloads.getOrElse(opts.getOrElse("workload", ""),
      throw new IllegalArgumentException(s"--workload must be one of ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = opts.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt
    val workdir = opts("workdir")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.local.dir", s"$workdir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workdir/warehouse")
      .getOrCreate()
    val code =
      try new GraftBench(spark, w, seed, seconds, traced, cores, workdir).run()
      finally spark.stop()
    sys.exit(code)
  }
}

final class GraftBench(spark: SparkSession, w: Workload, seed: Long,
                       seconds: Double, traced: Boolean, cores: Int,
                       workdir: String) {
  import GraftBench._
  import spark.implicits._

  private val sc = spark.sparkContext
  private val trace = new Trace(sc)
  private val shards = 2 * cores
  private val e2e = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  private val info = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val checks = ArrayBuffer.empty[String] // failed correctness checks
  private var attempted = 0L
  private var failed = 0L

  // ---- inputs -------------------------------------------------------------

  private val root = new SplittableRandom(seed)
  private val centers = Inputs.centers(root.split())
  private val serveSeed = root.nextLong()
  private val streamSeed = root.nextLong()

  final case class ServeInputs(corpus: Corpus, filterQs: Array[FilterQuery],
                               annQs: Array[Array[Float]], docs: Array[SparseDoc],
                               sparseQs: Array[SparseDoc])

  /** Regenerated per setup rep from the same seed: identical each time. */
  private def genServe(): ServeInputs = {
    val r = new SplittableRandom(serveSeed)
    val corpus = Inputs.corpus(r.split(), centers, w.serveN)
    val fq = Inputs.filterQueries(r.split(), centers, FilterNq)
    val (aq, _) = Inputs.mixture(r.split(), centers, AnnNq)
    val vocab = Inputs.vocabFor(w.serveN)
    val all = Inputs.sparseDocs(r.split(), w.serveN + SparseNq, vocab)
    ServeInputs(corpus, fq, aq, all.take(w.serveN), all.drop(w.serveN))
  }

  final case class Serving(in: ServeInputs, tagged: DataFrame, freqBp: Map[Int, Long],
                           scan: ResidentScan, registry: ResidentTagRegistry,
                           hnsw: HnswResident, postings: ResidentPostings,
                           filterRows: Array[(Long, Array[Float], Array[Int], Long)],
                           mb: Map[String, Double]) {
    def unload(): Unit = { scan.unload(); registry.unload(); hnsw.unload(); postings.unload() }
  }

  private def cachedMb(before: Set[Int]): Double = {
    val ids = sc.getPersistentRDDs.keySet -- before
    sc.getRDDStorageInfo.filter(i => ids(i.id)).map(_.memSize).sum / 1048576.0
  }

  private def timedSec[T](times: ArrayBuffer[(String, Double)], name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    times += name -> (System.nanoTime() - t0) / 1e9
    out
  }

  /** One full serving set-up: generate, load, build every resident index. */
  private def setupServing(rep: Int, times: ArrayBuffer[(String, Double)]): Serving = {
    val in = timedSec(times, "setup.gen_s")(genServe())
    val mb = scala.collection.mutable.Map.empty[String, Double]
    def built[T](call: String, index: String)(body: => T): T = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = timedSec(times, s"$call.s")(body)
      mb(index) = cachedMb(before)
      out
    }
    val emb = sc.parallelize(in.corpus.vecs.indices.map(i =>
      (i.toLong, in.corpus.vecs(i), in.corpus.labels(i))), shards)
      .toDF("vec_id", "embedding", "label")
    val tagged = TagFilter.withTags(emb)
    val freqBp = timedSec(times, "filter.planner.tagStats.s")(
      TagFilter.tagStats(tagged).select(col("tag").cast("int"), col("freq_bp").cast("long"))
        .as[(Int, Long)].collect().toMap)
    val scan = built("index.ResidentScan.load", "index.ResidentScan")(ResidentScan.load(tagged, numPartitions = shards))
    val path = s"$workdir/subindex-$rep"
    timedSec(times, "index.TagSubindexes.build.s")(
      TagSubindexes.build(tagged, path, minFreqBp = PlannerThresholdBp, efConstruction = EfConstruction,
        numPartitions = 2))
    val registry = built("index.TagSubindexes.loadResident", "index.TagSubindexes")(
      TagSubindexes.loadResident(spark, path))
    val hnsw = built("index.HnswKnn.buildResident", "index.HnswResident")(
      HnswKnn.buildResident(tagged.select("id", "vec"), m = 16, efConstruction = EfConstruction,
        numPartitions = shards))
    val tf = sc.parallelize(in.docs.indices.flatMap { d =>
      val doc = in.docs(d)
      doc.dims.indices.map(j => (d.toLong, doc.dims(j), doc.weights(j)))
    }, shards).toDF("id", "dim", "v")
    val postings = built("index.ResidentPostings.load", "index.ResidentPostings")(
      ResidentPostings.load(tf, m = w.serveN, numPartitions = shards, forward = true))
    val filterRows = timedSec(times, "filter.querySig.s")(
      TagFilter.withSignature(
        in.filterQs.toSeq.map(q => (q.qid, q.vec, q.tags)).toDF("qid", "qvec", "qtags"), "qtags")
        .select(col("qid").cast("long"), col("qvec"), col("qtags"), col("sig").cast("long"))
        .as[(Long, Array[Float], Array[Int], Long)].collect().sortBy(_._1))
    Serving(in, tagged, freqBp, scan, registry, hnsw, postings, filterRows, mb.toMap)
  }

  // ---- serving batches ----------------------------------------------------

  type Rows = Array[(Long, Long, Double, Long)]

  private def filterBatch(s: Serving): (Rows, Rows, Int) = {
    val (scanQs, groups) = trace.span("filter.planner.route") {
      val (a, b) = s.filterRows.partition { case (_, _, tags, _) =>
        tags.map(t => s.freqBp.getOrElse(t, 0L)).min < PlannerThresholdBp
      }
      // graph-branch queries carry one frequent tag; its subindex exists
      // because the registry is built at the planner threshold
      (a, b.groupBy(_._3.head.toString).map { case (key, qs) => key -> qs.map(q => (q._1, q._2)) })
    }
    val a = trace.span("index.ResidentScan.probeBatch")(s.scan.probeBatch(scanQs, K))
    val slices = ProbeSlices.auto(s.registry.numElements, cores, s.filterRows.length - scanQs.length)
    val b = trace.span("index.TagSubindexes.probeGroupsBatch")(
      s.registry.probeGroupsBatch(groups, K, EfSearch, slices = slices))
    (a, b, scanQs.length)
  }

  private def annBatch(s: Serving): Rows = {
    val qs = s.in.annQs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val slices = ProbeSlices.auto(s.hnsw.numPartitions, cores, qs.length)
    trace.span("index.ProbeSlices.striped")(ProbeSlices.striped(qs, slices)(st =>
      trace.span("index.HnswResident.probeBatch")(s.hnsw.probeBatch(st, K, EfSearch)))(r => (r._1, r._4)))
  }

  private def sparseBatch(s: Serving, qs: Array[(Long, Array[String], Array[Long])]): Array[(Long, Long, Long, Long)] = {
    val slices = ProbeSlices.auto(s.postings.numShards, cores, qs.length)
    trace.span("index.ProbeSlices.striped")(ProbeSlices.striped(qs, slices)(st =>
      trace.span("index.ResidentPostings.probeBatch")(
        s.postings.probeBatch(st, K, budget = SparseBudget, rerank = SparseRerank)))(r => (r._1, r._4)))
  }

  // ---- helpers ------------------------------------------------------------

  private def check(ok: Boolean, what: => String): Unit = if (!ok) checks += what

  private def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }
  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else quantile(xs, 0.5)

  /** Highest percentile (in steps of 1) that leaves at least 10 samples
    * beyond it, with the sample count — the tail this run can support. */
  private def tailNote(xs: Seq[Double]): String = {
    val n = xs.length
    val p = (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10).getOrElse(50)
    f"""{"n":$n,"p95_beyond":${n - math.ceil(0.95 * n).toInt},"tail_p":$p,"tail_ms":${quantile(xs, p / 100.0)}%.4f}"""
  }

  private def readProcStat(): Array[Long] = {
    val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
    line.split("\\s+").drop(1).map(_.toLong)
  }

  // ---- the run ------------------------------------------------------------

  private val phases = ArrayBuffer.empty[String]
  private var phase0 = System.nanoTime()
  private def phase(name: String): Unit = {
    val now = System.nanoTime()
    phases += f""""$name":${(now - phase0) / 1e9}%.2f"""
    phase0 = now
  }

  def run(): Int = {
    val stat0 = readProcStat()
    phase("session")
    // set-up: repeated, the median is setup_s; the last rep is served
    val setupTimes = ArrayBuffer.empty[ArrayBuffer[(String, Double)]]
    val setupWall = ArrayBuffer.empty[Double]
    var serving: Serving = null
    for (rep <- 0 until SetupReps) {
      if (serving != null) serving.unload()
      val times = ArrayBuffer.empty[(String, Double)]
      val t0 = System.nanoTime()
      serving = setupServing(rep, times)
      timedSec(times, "streaming.source.load.s")(streamSource().unpersist())
      setupWall += (System.nanoTime() - t0) / 1e9
      setupTimes += times
    }
    val s = serving
    val in = s.in
    phase("setup")

    // truth: brute force, untimed
    val annTruth = Truth.knn(in.annQs, in.corpus.vecs, K)((_, _) => true)
    val filterTruth = Truth.knn(in.filterQs.map(_.vec), in.corpus.vecs, K)((qi, r) =>
      Inputs.hasTags(r, in.corpus.labels(r), in.filterQs(qi).tags))
    val sparseTruth = Truth.mips(in.sparseQs, in.docs, K)
    val sparseRows = in.sparseQs.zipWithIndex.map { case (d, i) => (i.toLong, d.dims, d.weights) }

    phase("truth")
    verifyParity(s, sparseRows)
    phase("verify")

    // serving loop: closed loop, one client, round-robin filter → ann → sparse
    final case class Sample(kind: String, ms: Double, gcMs: Long, key: String, startMs: Double, endMs: Double)
    val samples = ArrayBuffer.empty[Sample]
    var answered = 0L
    var recallF, recallA, recallS = Double.NaN
    var scanShare = 0.0
    var round = 0
    def one(kind: String, timed: Boolean)(body: => Int): Unit = {
      val key = if (traced && timed && round % 2 == 1) s"$kind:$round" else null
      val gc0 = Trace.gcMs()
      val t0 = trace.nowMs
      attempted += 1
      val got = try trace.batch(key)(body) catch {
        case e: Exception =>
          failed += 1; System.err.println(s"perfbench: $kind batch failed: $e"); 0
      }
      val t1 = trace.nowMs
      if (timed) {
        samples += Sample(kind, t1 - t0, Trace.gcMs() - gc0, key, t0, t1)
        answered += got
      }
    }
    def roundOf(timed: Boolean): Unit = {
      one("filter", timed) {
        val (a, b, nScan) = filterBatch(s)
        if (recallF.isNaN) {
          recallF = Truth.recall((a ++ b).toSeq.map(r => (r._1, r._2)), filterTruth)
          scanShare = nScan.toDouble / FilterNq
          info("filter.branch_split") = s"""{"scan":$nScan,"graph":${FilterNq - nScan}}"""
        }
        (a ++ b).map(_._1).distinct.length
      }
      one("ann", timed) {
        val r = annBatch(s)
        if (recallA.isNaN) recallA = Truth.recall(r.toSeq.map(x => (x._1, x._2)), annTruth)
        r.map(_._1).distinct.length
      }
      one("sparse", timed) {
        val r = sparseBatch(s, sparseRows)
        if (recallS.isNaN) recallS = Truth.recall(r.toSeq.map(x => (x._1, x._2)), sparseTruth)
        r.map(_._1).distinct.length
      }
      round += 1
    }
    // JIT warm-up: the first rounds of a fresh JVM run up to 2x slower
    val warm0 = System.nanoTime()
    while (round < 4 || System.nanoTime() - warm0 < WarmupSec * 1e9) roundOf(timed = false)
    if (traced) sc.addSparkListener(trace.listener)
    phase("warmup")
    val loop0 = System.nanoTime()
    while ((System.nanoTime() - loop0) / 1e9 < seconds) roundOf(timed = true)
    val loopSec = (System.nanoTime() - loop0) / 1e9

    check(recallF >= RecallFloor, f"filter recall $recallF%.4f below $RecallFloor")
    check(recallA >= RecallFloor, f"ann recall $recallA%.4f below $RecallFloor")
    check(recallS >= RecallFloor, f"sparse recall $recallS%.4f below $RecallFloor")
    val residentServeMb = s.mb.values.sum

    phase("serve")
    val replay = replayRunbook()
    phase("replay")
    val stat1 = readProcStat()

    // ---- report -----------------------------------------------------------
    val plain = samples.filter(_.key == null)
    def e(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)
    def l(name: String, v: Double, unit: String): Unit = layer(name) = (v, unit)
    for (kind <- Seq("filter", "ann", "sparse")) {
      val xs = plain.filter(_.kind == kind).map(_.ms).toSeq
      e(s"$kind.batch_ms.p50", median(xs), "ms")
      info(s"$kind.batch_ms.samples") = tailNote(xs)
      info(s"$kind.batch_ms.series") = xs.map(x => f"$x%.0f").mkString(" ")
    }
    e("filter.recall", recallF, "fraction")
    e("ann.recall", recallA, "fraction")
    e("sparse.recall", recallS, "fraction")
    // means, not medians: a runbook's steps of one kind take a fixed mix of
    // executor paths (absorb vs. rebuild, with or without consolidation),
    // and the median of a few such steps jumps between those modes
    def mean(xs: Seq[Double]): Double = xs.sum / xs.length
    e("insert_ms.mean", mean(replay.opMs("insert")), "ms")
    e("delete_ms.mean", mean(replay.opMs("delete")), "ms")
    e("search_ms.mean", mean(replay.opMs("search") ++ replay.opMs("search_rebuild")), "ms")
    e("search.recall", replay.recall, "fraction")
    e("replay_s", replay.wallSec, "s")
    check(replay.recall >= RecallFloor, f"checkpoint recall ${replay.recall}%.4f below $RecallFloor")
    e("qps", answered / loopSec, "1/s")
    e("setup_s", median(setupWall.toSeq), "s")
    e("resident_mb", residentServeMb + replay.graphMb, "MB")

    if (traced) {
      trace.drain()
      sc.removeSparkListener(trace.listener)
      val tr = samples.filter(_.key != null)
      for (kind <- Seq("filter", "ann", "sparse")) {
        val bs = tr.filter(_.kind == kind)
        val perBatch = bs.map { b =>
          val jobs = trace.jobsOf(b.key)
          val tasks = trace.tasksOf(jobs.map(_.jobId).toSet)
          val firstLaunch = tasks.groupBy(_.jobId).map { case (j, ts) => j -> ts.map(_.launchMs).min }
          val submitToLaunch = jobs.map(j => firstLaunch.get(j.jobId).map(_ - j.submitMs).getOrElse(0L)).sum
          val taskCover = Trace.covered(tasks.map(t => (t.launchMs.toDouble, t.finishMs.toDouble)), b.startMs, b.endMs)
          val busy = tasks.map(t => (t.finishMs - t.launchMs).toDouble).sum
          val resultB = tasks.map(_.resultBytes).sum
          val spans = trace.spansOf(b.key)
          def spanMs(n: String) = spans.filter(_.name == n).map(_.ms).sum
          val answerRows = K.toDouble * (kind match { case "filter" => FilterNq case "ann" => AnnNq case _ => SparseNq })
          val blocking = kind match {
            case "filter" => spanMs("filter.planner.route") + spanMs("index.ResidentScan.probeBatch") +
              spanMs("index.TagSubindexes.probeGroupsBatch")
            case _ => spanMs("index.ProbeSlices.striped")
          }
          Map(
            "jobs" -> jobs.length.toDouble, "tasks" -> tasks.length.toDouble,
            "submit_to_launch_ms" -> submitToLaunch.toDouble,
            "task_run_ms.sum" -> tasks.map(_.runMs).sum.toDouble,
            "task_run_ms.max" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.runMs).max.toDouble),
            "task_deser_ms.sum" -> tasks.map(_.deserMs).sum.toDouble,
            "result_kb" -> resultB / 1024.0,
            "answer_to_result_bytes" -> (if (resultB == 0) 0.0 else answerRows / resultB),
            "driver_ms" -> (b.ms - taskCover),
            "driver_frac" -> (b.ms - taskCover) / b.ms,
            "busy_frac" -> busy / (b.ms * cores),
            "span_cover_frac" -> blocking / b.ms,
            "route_ms" -> spanMs("filter.planner.route"),
            "scan_ms" -> spanMs("index.ResidentScan.probeBatch"),
            "sub_ms" -> spanMs("index.TagSubindexes.probeGroupsBatch"),
            "striped_self_ms" -> (spanMs("index.ProbeSlices.striped") - Trace.covered(
              spans.filter(sp => sp.name == "index.HnswResident.probeBatch" ||
                sp.name == "index.ResidentPostings.probeBatch").map(sp => (sp.startMs, sp.endMs)),
              b.startMs, b.endMs)),
            "stripe_ms" -> median(spans.filter(sp => sp.name == "index.HnswResident.probeBatch" ||
              sp.name == "index.ResidentPostings.probeBatch").map(_.ms)),
          )
        }
        def pm(key: String): Double = median(perBatch.map(_(key)).toSeq)
        val units = Map("jobs" -> "count", "tasks" -> "count", "result_kb" -> "KB",
          "answer_to_result_bytes" -> "rows/B", "driver_frac" -> "fraction", "busy_frac" -> "fraction")
        for (key <- Seq("jobs", "tasks", "submit_to_launch_ms", "task_run_ms.sum", "task_run_ms.max",
          "task_deser_ms.sum", "result_kb", "answer_to_result_bytes", "driver_ms", "driver_frac", "busy_frac"))
          l(s"spark.$kind.$key", pm(key), units.getOrElse(key, "ms"))
        l(s"trace.$kind.span_cover_frac", pm("span_cover_frac"), "fraction")
        l(s"jvm.gc_ms.$kind.mean", if (bs.isEmpty) 0.0 else bs.map(_.gcMs.toDouble).sum / bs.length, "ms")
        kind match {
          case "filter" =>
            l("filter.planner.route_ms", pm("route_ms"), "ms")
            l("index.ResidentScan.probeBatch.ms", pm("scan_ms"), "ms")
            l("index.TagSubindexes.probeGroupsBatch.ms", pm("sub_ms"), "ms")
          case "ann" =>
            l("index.HnswResident.probeBatch.ms", pm("stripe_ms"), "ms")
            l("index.ProbeSlices.striped.self_ms.ann", pm("striped_self_ms"), "ms")
          case _ =>
            l("index.ResidentPostings.probeBatch.ms", pm("stripe_ms"), "ms")
            l("index.ProbeSlices.striped.self_ms.sparse", pm("striped_self_ms"), "ms")
        }
      }
      l("filter.planner.scan_share", scanShare, "fraction")
      val p50 = (ss: Seq[Sample]) => Seq("filter", "ann", "sparse").map(k => median(ss.filter(_.kind == k).map(_.ms))).sum
      l("trace.overhead_frac", p50(tr.toSeq) / p50(plain.toSeq) - 1.0, "fraction")
      for (op <- Seq("insert", "delete", "search", "search_rebuild"))
        l(s"streaming.RunbookExecutor.applyStep.$op.ms", median(replay.opMs(op)), "ms")
      l("streaming.RunbookExecutor.graphBuilds", replay.graphBuilds.toDouble, "count")
      for (op <- Seq("insert", "delete", "search"))
        l(s"spark.$op.jobs", median(replay.opJobs.filter(_._1 == op).map(_._2.toDouble)), "count")
      l("streaming.graph.mb", replay.graphMb, "MB")
      val setupKeys = setupTimes.head.map(_._1).distinct
      for (key <- setupKeys)
        l(key, median(setupTimes.map(_.filter(_._1 == key).map(_._2).sum).toSeq), "s")
      s.mb.foreach { case (k, v) => l(s"$k.mb", v, "MB") }
    }

    // host state, so an unsteady run can be attributed
    val d = stat1.zip(stat0).map { case (a, b) => a - b }
    val total = d.take(8).sum.toDouble
    val loadAvg = scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ").take(3).mkString(",")
    info("host") = f"""{"cores":$cores,"steal_pct":${if (total > 0) 100.0 * d(7) / total else 0.0}%.2f,""" +
      f""""loadavg":"$loadAvg","heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576}}"""
    info("inputs") = s"""{"seed":$seed,"serve_n":${w.serveN},"stream_n":${w.streamN},"d":${Inputs.Dim},""" +
      s""""clusters":${Inputs.Clusters},"sigma":${Inputs.Sigma},"filter_nq":$FilterNq,"ann_nq":$AnnNq,""" +
      s""""sparse_nq":$SparseNq,"stream_nq":$StreamNq,"vocab":${Inputs.vocabFor(w.serveN)},""" +
      s""""sparse_postings":${in.docs.map(_.dims.length.toLong).sum},""" +
      s""""tag_freq_bp":{${s.freqBp.toSeq.sorted.map { case (t, f) => s""""$t":$f""" }.mkString(",")}},""" +
      s""""shards":$shards}"""
    info("knobs") = s"""{"ef_search":$EfSearch,"ef_construction":$EfConstruction,"sparse_budget":$SparseBudget,""" +
      s""""sparse_rerank":$SparseRerank,"runbook_chunks":${w.chunks},"planner_threshold_bp":$PlannerThresholdBp}"""
    phase("report")
    info("setup_reps_s") = setupWall.map(x => f"$x%.2f").mkString("[", ",", "]")
    info("setup_first_rep_s") = setupTimes.head.map { case (k, v) => f""""$k":$v%.2f""" }.mkString("{", ",", "}")
    info("phases_s") = phases.mkString("{", ",", "}")
    if (checks.nonEmpty) info("failed_checks") = checks.map(c => "\"" + c.replace("\"", "'") + "\"").mkString("[", ",", "]")
    println("info " + info.map { case (k, v) => s""""$k":${if (v.startsWith("{") || v.startsWith("[")) v else "\"" + v + "\""}""" }.mkString("{", ",", "}"))

    val metrics = (if (traced) layer else e2e).map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val correct = checks.isEmpty && failed == 0
    checks.foreach(c => System.err.println(s"perfbench: check failed: $c"))
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$metrics}""")
    if (correct) 0 else 1
  }

  // ---- correctness against the dataflow forms ----------------------------

  private def verifyParity(s: Serving, sparseRows: Array[(Long, Array[String], Array[Long])]): Unit = {
    // the scan branch equals TagFilter.filteredKnn row for row
    val scanQs = s.filterRows.filter { case (_, _, tags, _) =>
      tags.map(t => s.freqBp.getOrElse(t, 0L)).min < PlannerThresholdBp
    }.take(ParitySample)
    val got = s.scan.probeBatch(scanQs, K).toSeq
    val want = TagFilter.filteredKnn(
      scanQs.toSeq.map(q => (q._1, q._2, q._3)).toDF("qid", "qvec", "qtags"), s.tagged, K)
      .select(col("qid").cast("long"), col("id").cast("long"), col("dist").cast("double"),
        col("rank").cast("long"))
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    check(got == want, s"scan branch differs from TagFilter.filteredKnn: " +
      s"${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
    // full-budget sparse equals Sparse.mips on a sample
    val sample = sparseRows.take(ParitySample)
    val full = s.postings.probeBatch(sample, K).map(r => (r._1, r._2, r._3, r._4)).toSeq
    val mips = Sparse.mips(
      sample.toSeq.flatMap { case (q, ds, ws) => ds.indices.map(j => (q, ds(j), ws(j))) }
        .toDF("qid", "dim", "qv"),
      sparseFrame(s.in.docs), K)
      .select(col("qid").cast("long"), col("id").cast("long"), col("score").cast("long"),
        col("rank").cast("long"))
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    check(full == mips, s"full-budget ResidentPostings differs from Sparse.mips: " +
      s"${full.diff(mips).take(3)} vs ${mips.diff(full).take(3)}")
  }

  private def sparseFrame(docs: Array[SparseDoc]): DataFrame =
    docs.indices.flatMap { d => docs(d).dims.indices.map(j => (d.toLong, docs(d).dims(j), docs(d).weights(j))) }
      .toDF("id", "dim", "v")

  // ---- streaming ----------------------------------------------------------

  private lazy val streamInputs = {
    val r = new SplittableRandom(streamSeed)
    val vecs = Inputs.clusteredCorpus(r.split(), centers, w.streamN)
    val (qs, _) = Inputs.mixture(r.split(), centers, StreamNq)
    (vecs, qs)
  }

  /** The stream corpus as a cached (id, vec) frame. */
  private def streamSource(): DataFrame = {
    val (vecs, _) = streamInputs
    val df = sc.parallelize(vecs.indices.map(i => (i.toLong, vecs(i))), shards).toDF("id", "vec").cache()
    df.count()
    df
  }

  final case class Replay(wallSec: Double, opMs: Map[String, Seq[Double]], opJobs: Seq[(String, Int)],
                          recall: Double, graphBuilds: Int, graphMb: Double)

  private def replayRunbook(): Replay = {
    val (vecs, qvecs) = streamInputs
    val (steps, maxPts) = Inputs.deleteRunbook(w.streamN, w.chunks)
    val n = w.streamN.toLong
    val source = streamSource()
    val queries = qvecs.indices.map(i => (i.toLong, qvecs(i))).toDF("qid", "qvec")
    // truth per checkpoint over the live set, untimed
    val live = new Array[Boolean](w.streamN)
    val truth = scala.collection.mutable.Map.empty[Int, Array[Array[Long]]]
    steps.zipWithIndex.foreach { case (st, i) => st.op match {
      case "insert" => (st.start until st.end).foreach(id => live(id.toInt) = true)
      case "delete" => (st.start until st.end).foreach(id => live(id.toInt) = false)
      case _ => truth(i) = Truth.knn(qvecs, vecs, K)((_, r) => live(r))
    }}
    val before = sc.getPersistentRDDs.keySet.toSet
    val exec = new RunbookExecutor(source, queries, K,
      consolidateAt = math.max(1000L, n / 8), maxPts = maxPts,
      graphPath = Some(s"$workdir/graph"), efSearch = EfSearch,
      deltaCap = math.max(512L, n / 8), numPartitions = shards)
    val opMs = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    val keys = ArrayBuffer.empty[(String, String)]
    val stepLog = ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    steps.zipWithIndex.foreach { case (st, i) =>
      val builds0 = exec.graphBuilds
      val key = if (traced) s"${st.op}:$i" else null
      val s0 = System.nanoTime()
      attempted += 1
      try trace.batch(key)(exec.applyStep(st, i))
      catch { case e: Exception => failed += 1; System.err.println(s"perfbench: step $i failed: $e") }
      val ms = (System.nanoTime() - s0) / 1e6
      val kind = if (st.op == "search" && exec.graphBuilds > builds0) "search_rebuild" else st.op
      opMs.getOrElseUpdate(kind, ArrayBuffer.empty) += ms
      stepLog += f"${kind.take(3)}:$ms%.0f"
      if (key != null) keys += ((st.op, key))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val graphMb = cachedMb(before)
    val cps = exec.finish()
    val recalls = truth.toSeq.sortBy(_._1).map { case (i, t) =>
      val got = cps(i).select(col("qid").cast("long"), col("id").cast("long")).as[(Long, Long)].collect().toSeq
      Truth.recall(got, t)
    }
    source.unpersist()
    val opJobs = if (traced) { trace.drain(); keys.map { case (op, k) => (op, trace.jobsOf(k).length) }.toSeq } else Seq.empty
    info("replay") = s"""{"steps":${steps.length},"max_pts":$maxPts,"graph_builds":${exec.graphBuilds},""" +
      s""""checkpoints":${recalls.length},"min_recall":${if (recalls.isEmpty) 0.0 else recalls.min},""" +
      s""""step_ms":"${stepLog.mkString(" ")}"}"""
    Replay(wall, opMs.map { case (k, v) => k -> v.toSeq }.toMap.withDefaultValue(Seq.empty), opJobs,
      if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length, exec.graphBuilds, graphMb)
  }
}
