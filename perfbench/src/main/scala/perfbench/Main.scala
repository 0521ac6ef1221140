package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  *
  *   perfbench.Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR --spans DIR
  *
  * One process, one client, closed loop: the next iteration starts only
  * after the previous one wrote its result and the result was checked.
  * The last stdout line is the JSON result. Exit code 1 when any check
  * failed.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Warm iterations a run times at least, so `iter_s_p50` has two
    * samples even when one warm iteration outlasts the window. */
  val MinTimed = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String,
      spans: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1", need("work"),
      need("spans"))
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** Seconds since the JVM started, for the progress lines on stderr. */
  def uptime: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    graft.Sessions.tune(s)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Between iterations: drop cached plans and persisted blocks, then
    * collect, so no iteration inherits another's state (the semantics of
    * graft's Bench.clearSessionState). */
  def clearSessionState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** SHA-256 over every file under `dir` (relative path and bytes). */
  def treeHash(dir: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val root = dir.toPath
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .sortBy(p => root.relativize(p).toString).foreach { p =>
        md.update(root.relativize(p).toString.getBytes("UTF-8"))
        md.update(Files.readAllBytes(p))
      }
    md.digest().map("%02x".format(_)).mkString
  }

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest order statistic with at least 10 samples beyond it, as
    * (value, percentile); the maximum when there are fewer than 11. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.isEmpty) (0.0, 0.0)
    else {
      val k = if (s.size >= 11) s.size - 11 else s.size - 1
      (s(k), 100.0 * (k + 1) / s.size)
    }
  }

  /** Result of the iteration loop. */
  final class Loop {
    var attempted = 0
    var failed = 0
    var firstIter = Double.NaN
    val warm = ArrayBuffer[Double]()
    val traced = ArrayBuffer[Double]()
    val tracedIters = ArrayBuffer[Int]()
    val errors = ArrayBuffer[String]()
    var reference: Option[String] = None
    var quality: Option[Quality] = None
  }

  private def aboveFloors(w: Workload, q: Quality): Quality = {
    require(q.clusterF1 >= w.floors.clusterF1 && q.fusedAcc >= w.floors.fusedAcc,
      s"quality $q below floors ${w.floors}")
    q
  }

  /** Runs the cold iteration, then warm ones until at least `MinTimed`
    * ran and `seconds` have passed, or the workload has no more input. In trace mode, warm iterations
    * alternate untraced and traced. A thrown iteration or failed check
    * counts as failed and its time is dropped. */
  def loop(w: Workload, ctx: Ctx, seconds: Double, trace: Boolean): Loop = {
    val r = new Loop
    val outRoot = new File(s"${ctx.work}/out")
    val limit = w.maxIterations(ctx)
    def one(i: Int, traced: Boolean): Option[Double] = {
      val out = new File(outRoot, i.toString)
      Gen.deleteTree(out)
      ctx.tr.enabled = traced
      ctx.tr.iteration = i
      r.attempted += 1
      val t0 = System.nanoTime()
      val res = try {
        val d = ctx.tr.iterationSpan(w.iterate(ctx, i, out.getPath))
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"perfbench: iteration $i%d${if (traced) " traced" else ""} $dt%.3f s (at $uptime%.1f s)")
        if (w.repeatable) r.reference match {
          case Some(ref) if ref != d => throw new IllegalStateException(s"digest $d differs from $ref")
          case Some(_) =>
          case None =>
            r.reference = Some(d)
            r.quality = Some(aboveFloors(w, w.quality(ctx, out.getPath)))
        }
        Some(dt)
      } catch {
        case e: Throwable =>
          r.failed += 1
          r.errors += s"iteration $i: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
          None
      } finally {
        ctx.tr.enabled = false
        Gen.deleteTree(out)
        clearSessionState(ctx.spark)
      }
      res
    }
    r.firstIter = one(0, traced = false).getOrElse(Double.NaN)
    val start = System.nanoTime()
    var i = 1
    while (i < limit && (i <= MinTimed || (System.nanoTime() - start) / 1e9 < seconds)) {
      // untraced first: the two iterations every run times give one of each
      val traced = trace && i % 2 == 0
      one(i, traced).foreach { t =>
        if (traced) { r.traced += t; r.tracedIters += i } else r.warm += t
      }
      i += 1
    }
    // checks after the last iteration; a failure fails that iteration
    try w.finish(ctx).foreach(q => r.quality = Some(aboveFloors(w, q)))
    catch {
      case e: Throwable =>
        r.failed += 1
        r.errors += s"final check: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
        if (r.warm.nonEmpty) r.warm.remove(r.warm.size - 1)
    }
    r
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.byName(a.workload).getOrElse {
      System.err.println(s"unknown workload ${a.workload}; one of ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    new File(a.work).mkdirs()

    // ---- set-up, repeated; the last one's inputs and state are used ----
    var spark: SparkSession = null
    var ctx: Ctx = null
    var records = 0L
    val setups = ArrayBuffer[Double]()
    val hashes = ArrayBuffer[String]()
    for (rep <- 0 until SetupReps) {
      if (spark != null) spark.stop()
      val in = new File(s"${a.work}/in$rep")
      Gen.deleteTree(in)
      val t0 = System.nanoTime()
      spark = session(a.work)
      records = w.generate(spark, in.getPath, a.seed)
      ctx = Ctx(spark, in.getPath, a.work, new Tracer(spark, w.name))
      w.prepare(ctx)
      setups += (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: set-up $rep%d ${setups.last}%.3f s (at $uptime%.1f s)")
      hashes += treeHash(in)
      if (rep < SetupReps - 1) Gen.deleteTree(in)
    }
    val deterministic = hashes.distinct.size == 1
    if (a.trace) ctx.tr.register()

    val r = loop(w, ctx, a.seconds, a.trace)
    System.err.println(f"perfbench: iterations done (at $uptime%.1f s)")
    if (!deterministic) r.errors += "generator wrote different bytes for the same seed"
    val correct = deterministic && r.failed == 0
    val q = r.quality.getOrElse(Quality(0, 0))
    val p50 = median(r.warm.toSeq)
    val (tailV, tailP) = tail(r.warm.toSeq)
    val rss = peakRssMb

    // ---- report ----
    val out = System.out
    out.println(s"perfbench workload=${w.name} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}")
    out.println(s"config: master=local[$cores] shuffle_partitions=$cores " +
      s"heap_max_mb=${Runtime.getRuntime.maxMemory / (1 << 20)} clear_session_state=between_iterations " +
      s"spark=${spark.version} jdk=${System.getProperty("java.version")} load=closed_loop_1_client")
    out.println(s"generator: ${w.params.render} input_records_per_iteration=$records " +
      s"input_bytes=${Out.bytesUnder(ctx.in)} deterministic=$deterministic")
    out.println(s"iterations: cold ${fmt(r.firstIter)} s; warm ${r.warm.map(t => f"$t%.3f").mkString(" ")} s" +
      (if (r.traced.nonEmpty) s"; traced ${r.traced.map(t => f"$t%.3f").mkString(" ")} s" else ""))
    r.errors.foreach(e => out.println(s"FAILED $e"))
    val failRate = r.failed.toDouble / math.max(r.attempted, 1)
    val e2e = Seq(
      ("setup_s", median(setups.toSeq), "s", s"median of $SetupReps set-ups"),
      ("first_iter_s", r.firstIter, "s", "cold iteration"),
      ("iter_s_p50", p50, "s", s"median of n=${r.warm.size} warm iterations"),
      ("iter_s_tail", tailV, "s", f"p$tailP%.0f of n=${r.warm.size}, ${if (r.warm.size >= 11) 10 else 0} beyond"),
      ("records_per_s", if (p50 > 0) records / p50 else 0.0, "records/s", s"$records records per iteration"),
      ("cluster_f1", q.clusterF1, "ratio", s"floor ${w.floors.clusterF1}"),
      ("fused_acc", q.fusedAcc, "ratio", s"floor ${w.floors.fusedAcc}"),
      ("peak_rss_mb", rss, "MB", "VmHWM"),
      ("fail_rate", failRate, "ratio", s"${r.failed} of ${r.attempted}"))
    e2e.foreach { case (n, v, u, note) => out.println(f"  $n%-14s ${fmt(v)}%16s $u%-10s $note") }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) e2e.filter(_._1 != "fail_rate").map { case (n, v, u, _) => (n, v, u) }
      else {
        val lm = LayerMetrics(ctx.tr, r, cores, spark)
        val path = s"${a.spans}/${w.name}-seed${a.seed}.jsonl"
        new File(path).getParentFile.mkdirs()
        Files.writeString(Paths.get(path), Spans.toJsonLines(ctx.tr.spans.toSeq))
        out.println(s"spans: ${ctx.tr.spans.size} written to $path")
        out.println(f"tracing overhead: traced p50 ${median(r.traced.toSeq)}%.4f s (n=${r.traced.size})" +
          f" - untraced p50 $p50%.4f s (n=${r.warm.size})")
        lm.foreach { case (n, v, u) => out.println(f"  $n%-32s ${fmt(v)}%16s $u") }
        lm
      }
    ctx.tr.enabled = false
    spark.stop()
    val m = metrics.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
      .mkString(", ")
    out.println(s"""{"correct": $correct, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$m}}""")
    out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Per-layer numbers from the traced iterations: medians over those
  * iterations of each layer's per-iteration sums. */
object LayerMetrics {
  def apply(tr: Tracer, r: Main.Loop, cores: Int, spark: SparkSession): Seq[(String, Double, String)] = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    val iters = r.tracedIters.toSet
    val spans = tr.spans.filter(s => iters.contains(s.iteration)).toSeq
    val self = Spans.selfSeconds(spans)
    val n = math.max(iters.size, 1).toDouble
    def perIter(f: Span => Double)(layer: String): Double =
      Main.median(iters.toSeq.map(i => spans.filter(s => s.iteration == i && s.name == layer).map(f).sum))
    def sums(s: Span): TaskSums = Option(tr.listener.sums.get(s"span-${s.id}")).getOrElse(new TaskSums)
    val out = ArrayBuffer[(String, Double, String)]()
    var selfByLayer = Map[String, Double]()
    Layers.All.foreach { l =>
      val selfS = perIter(s => self(s.id))(l)
      val taskS = perIter(s => sums(s).runMs / 1e3)(l)
      selfByLayer += l -> selfS
      out += ((s"$l.self_s", selfS, "s"))
      out += ((s"$l.rows_out", tr.counts(s"$l.rows_out") / n, "rows"))
      out += ((s"$l.task_s", taskS, "s"))
      out += ((s"$l.core_busy", if (selfS > 0) taskS / (selfS * cores) else 0.0, "ratio"))
      out += ((s"$l.shuffle_mb", perIter(s => sums(s).shuffleBytes / 1048576.0)(l), "MB"))
      out += ((s"$l.spill_mb", perIter(s => sums(s).spillBytes / 1048576.0)(l), "MB"))
      out += ((s"$l.gc_s", perIter(s => sums(s).gcMs / 1e3)(l), "s"))
      out += ((s"$l.failed_tasks", perIter(s => sums(s).failed.toDouble)(l), "count"))
    }
    val c = tr.counts
    def ratio(a: String, b: String) = if (c(b) > 0) c(a) / c(b) else 0.0
    val cand = c("blocking.rows_out") / n
    out += (("blocking.candidate_pairs", cand, "count"))
    out += (("blocking.pair_completeness", ratio("blocking.gold_kept", "blocking.gold_total"), "ratio"))
    out += (("blocking.pair_quality", ratio("blocking.gold_kept", "blocking.rows_out"), "ratio"))
    out += (("matching.pairs_per_s",
      if (selfByLayer("matching") > 0) cand / selfByLayer("matching") else 0.0, "pairs/s"))
    out += (("matching.precision", ratio("matching.true", "matching.predicted"), "ratio"))
    out += (("clustering.clusters", c("clustering.clusters") / n, "count"))
    out += (("clustering.max_cluster", c("clustering.max_cluster") / n, "count"))
    out += (("fusion.clusters_fused", c("fusion.clusters_fused") / n, "count"))
    out += (("dedup.candidate_pairs", c("dedup.lsh_candidates") / n, "count"))
    out += (("dedup.candidate_precision", ratio("dedup.lsh_verified", "dedup.lsh_candidates"), "ratio"))
    out += (("text.docs_kept", c("text.docs_kept") / n, "count"))
    out += (("io.bytes_written", c("io.bytes_written") / n, "bytes"))
    val untraced = iters.toSeq.map { i =>
      spans.find(s => s.iteration == i && s.name == "iteration").map(s => self(s.id)).getOrElse(0.0)
    }
    out += (("untraced_s", Main.median(untraced), "s"))
    out += (("trace_overhead_s", Main.median(r.traced.toSeq) - Main.median(r.warm.toSeq), "s"))
    out.toSeq
  }
}
