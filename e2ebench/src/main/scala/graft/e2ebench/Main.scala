package graft.e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** One benchmark run: `--workload build|search|upload --seed N
  * --seconds S --trace 0|1 [--work DIR] [--out DIR]`.
  *
  * Generates the seed's inputs, starts one local Spark session with
  * graft.Bench's configuration, warms up, times the set-up several
  * times, then drives the workload as a closed loop with one client for
  * `--seconds` (at least `MinOps(workload)` ops), checks the outputs and
  * prints a report followed by one JSON line. With `--trace 1` the run
  * records spans and prints the per-layer metrics instead.
  */
object Main {

  /** End-to-end metrics, in the order BENCHMARK.json lists them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "ops_per_s" -> "1/s", "live_heap_mb" -> "MB")

  /** Per-layer metrics of the traced run. */
  val PerLayer: Seq[(String, String)] = Seq(
    "readers.busy_s" -> "s", "readers.rows" -> "count", "readers.mb_in" -> "MB",
    "interactions.busy_s" -> "s", "interactions.edges_out" -> "count",
    "interactions.nodes_out" -> "count",
    "annotate.busy_s" -> "s", "intervals.busy_s" -> "s",
    "intervals.candidates_per_row" -> "count", "intervals.left_rows" -> "count",
    "graphops.busy_s" -> "s", "graphops.jobs" -> "count", "graphops.shuffle_mb" -> "MB",
    "chas.busy_s" -> "s", "chas.jobs" -> "count", "chas.shuffle_mb" -> "MB",
    "chas.spill_mb" -> "MB",
    "search.busy_s" -> "s", "search.subnet_nodes" -> "count", "search.subnet_edges" -> "count",
    "layout.busy_s" -> "s", "layout.jobs" -> "count", "layout.nodes" -> "count",
    "serving.snapshot_build_s" -> "s", "serving.open_s" -> "s",
    "serving.memo_busy_s" -> "s", "serving.memo_hit_ratio" -> "ratio",
    "serving.memo_requests" -> "count", "serving.memo_files" -> "count",
    "serving.memo_jobs" -> "count",
    "cytoscapejson.busy_s" -> "s", "cytoscapejson.mb_out" -> "MB",
    "cytoscapejson.jobs" -> "count",
    "metadatajson.busy_s" -> "s", "metadatajson.mb_out" -> "MB",
    "pipeline.tree_s" -> "s", "pipeline.critical_lane_s" -> "s",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.parallel_eff" -> "ratio", "spark.core_s_per_op" -> "s",
    "spark.task_skew" -> "ratio", "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.gc_s" -> "s", "spark.cached_mb_end" -> "MB",
    "trace.op_p50_ms" -> "ms", "trace.untraced_op_p50_ms" -> "ms",
    "trace.overhead_ms" -> "ms")

  /** Ops a run makes at least, whatever `--seconds` says: one build, the
    * whole search sequence, four uploads. */
  val MinOps = Map("build" -> 1, "search" -> Gen.SearchOrder.length, "upload" -> 4)
  /** Input scale of every run (1.0 is the Mouse ESC dataset). It is sized
    * so that BENCHMARK.json's regression runs fit their time budget; set
    * it to 1.0 to run at the reference's size. */
  val DefaultScale = 0.1
  /** Timed set-ups per run; `setup_s` is their median. A build set-up
    * (opening the readers) takes a fraction of a second, so it is
    * repeated more often; a served set-up rebuilds the dataset. */
  val SetupReps = Map("build" -> 21, "search" -> 3, "upload" -> 3)
  val WarmScale = 0.02

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        scale: Double, work: Path, out: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(MinOps.contains(w), s"unknown workload $w (build, search, upload)")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", DefaultScale,
      Paths.get(m.getOrElse("work", s".bench_build/run-$w-${need("seed")}")).toAbsolutePath,
      Paths.get(m.getOrElse("out", ".bench_build/results")).toAbsolutePath)
  }

  private def load1m: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap occupied after a full collection, in MB. Collects twice, so
    * that what Spark's cleaner releases after the first one is gone. */
  private def heapAfterGcMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else String.format(Locale.ROOT, "%.6g", Double.box(d))

  def session(cores: Int, localDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit =
    sys.exit(execute(parse(args), println(_)))

  /** One run; every stdout line goes through `emit`, the JSON line last.
    * Returns the exit code. */
  def execute(o: Opts, emit: String => Unit): Int = {
    val loadStart = load1m
    val cores = Runtime.getRuntime.availableProcessors()
    Workloads.deleteTree(o.work)
    Files.createDirectories(o.work.resolve("spark-local"))
    try run(o, cores, loadStart, emit)
    catch {
      case e: Throwable =>
        System.err.println(s"[e2ebench] run failed: $e")
        e.printStackTrace()
        1
    } finally Workloads.deleteTree(o.work)
  }

  private val started = System.nanoTime()
  private def progress(s: String): Unit =
    System.err.println(f"[e2ebench] ${(System.nanoTime() - started) / 1e9}%7.1fs $s")

  private def run(o: Opts, cores: Int, loadStart: Double, emit: String => Unit): Int = {
    val say = (s: String) => emit(s"[e2ebench] $s")
    // upload files only where they are used: writing them takes seconds
    val uploads = if (o.workload == "upload") 12 else 0
    val in = Gen.generate(o.work.resolve("inputs").toString, o.seed, o.scale,
      nUploads = uploads)
    val t0 = System.nanoTime()
    val spark = session(cores, o.work.resolve("spark-local"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tr = new Trace(spark, o.trace)
    try {
      // warm-up: JIT, codegen and the first-use costs of every path the
      // ops take, before anything is timed. Build and upload warm up on a
      // small input of the same seed (generated code depends on the
      // plans, not the data size); search warms up on its own dataset
      // after the set-ups (the first of which pays JIT and codegen, and
      // the median leaves it out).
      if (o.workload != "search") {
        val warmIn = Gen.generate(o.work.resolve("warm-inputs").toString, o.seed,
          math.min(o.scale, WarmScale), nUploads = uploads.min(5),
          uploadMax = 5000)
        progress(s"warm-up (${o.workload}, scale ${math.min(o.scale, WarmScale)})")
        val warm = Workloads(o.workload, spark, warmIn, o.work.resolve("warm"), tr, o.seed)
        tr.op = Trace.WarmOp
        warm.setup()
        (0 until (if (o.workload == "build") 1 else warmIn.uploads.length)).foreach(warm.op)
        Workloads.deleteTree(o.work.resolve("warm"))
        tr.reset(setupToo = true)
      }

      val wl = Workloads(o.workload, spark, in, o.work.resolve("ops"), tr, o.seed)
      progress("set-up")
      tr.op = Trace.SetupOp
      val setupS = (0 until SetupReps(o.workload)).map { _ =>
        val s = System.nanoTime(); wl.setup(); (System.nanoTime() - s) / 1e9
      }
      progress("warm-up")
      tr.op = Trace.WarmOp
      wl.warmup()
      tr.reset(setupToo = false)
      var heapPeak = heapAfterGcMb()

      val latMs = mutable.ArrayBuffer.empty[Double]
      val failures = mutable.ArrayBuffer.empty[String]
      val w0 = System.nanoTime()
      val deadline = w0 + (o.seconds * 1e9).toLong
      progress("ops")
      var i = 0
      while (i < MinOps(o.workload) || System.nanoTime() < deadline) {
        tr.op = i
        val s = System.nanoTime()
        val r =
          try wl.op(i)
          catch { case scala.util.control.NonFatal(e) => OpResult(Some(s"op $i threw $e")) }
        latMs += (System.nanoTime() - s) / 1e6
        progress(f"op $i ${latMs.last}%.0f ms${if (r.miss) "" else " (hit)"}")
        r.failure.foreach(f => failures += s"op $i: $f")
        i += 1
      }
      val windowS = (System.nanoTime() - w0) / 1e9
      tr.op = Trace.WarmOp
      heapPeak = math.max(heapPeak, heapAfterGcMb())
      progress("checks")
      val verifyFailures = wl.verify() ++ tr.planFailures ++ (wl match {
        case b: BuildWorkload => sameTreeAsBefore(o, b.treeHash)
        case _ => Nil
      })
      val attempted = latMs.length
      val failed = failures.length + verifyFailures.length
      failures.take(5).foreach(f => say(s"check failed: $f"))
      verifyFailures.take(5).foreach(f => say(s"check failed: $f"))

      val p50 = Stats.quantile(latMs.toSeq, 0.5)
      val e2e = Map(
        "setup_s" -> Stats.quantile(setupS, 0.5),
        "op_p50_ms" -> p50,
        "op_p90_ms" -> Stats.quantile(latMs.toSeq, 0.9),
        "ops_per_s" -> attempted / windowS,
        "live_heap_mb" -> heapPeak)

      // the report: run fields, every figure under its workload name, checks
      val commit = sys.env.getOrElse("E2EBENCH_COMMIT", "unknown")
      say(s"run workload=${o.workload} seed=${o.seed} scale=${o.scale} seconds=${o.seconds} " +
        s"trace=${if (o.trace) 1 else 0} nproc=$cores commit=$commit")
      say(s"run jvm=${System.getProperty("java.vm.name")} ${System.getProperty("java.version")} " +
        s"spark=${spark.version} loadavg_start=${fmt(loadStart)} loadavg_end=${fmt(load1m)}")
      say(s"run spark_conf=${spark.conf.getAll.filter(_._1.startsWith("spark.sql.shuffle")).mkString(",")}" +
        s" master=${spark.sparkContext.master} session_start_s=${fmt(sessionS)}")
      say(s"run inputs nodes=${in.expected.nodes} edges=${in.expected.edges} " +
        s"pp_edges=${in.expected.ppEdges} raw_rows=${in.expected.rawRows}")
      say(s"run setup_reps=${setupS.map(fmt).mkString(",")} ops=$attempted window_s=${fmt(windowS)}")
      val named = o.workload match {
        case "build" => Seq(("build_s", p50 / 1e3, "s"))
        case "search" => Seq(("search_p50_ms", p50, "ms"),
          ("search_p90_ms", e2e("op_p90_ms"), "ms"), ("search_samples", attempted.toDouble, "count"),
          ("search_rps", e2e("ops_per_s"), "1/s"))
        case _ => Seq(("upload_p50_s", p50 / 1e3, "s"),
          ("upload_per_min", e2e("ops_per_s") * 60, "1/min"))
      }
      (Seq(("setup_s", e2e("setup_s"), "s")) ++ named ++ wl.report ++
        Seq(("live_heap_mb", heapPeak, "MB"), ("error_rate", failed.toDouble / attempted, "ratio")))
        .foreach { case (n, v, u) => say(s"metric $n = ${fmt(v)} $u") }
      wl match {
        case b: BuildWorkload => say(s"check tree_sha256=${b.treeHash}")
        case _ =>
      }
      say(s"check ${if (failed == 0) "passed" else "FAILED"}: $failed of $attempted ops")

      // the untraced median, by seed and by workload, for the overhead
      // of a later traced run (same seed when there is one)
      Files.createDirectories(o.out)
      val records = Seq(s"${o.workload}-s${o.seed}", o.workload)
        .map(k => o.out.resolve(s"untraced-op_p50_ms-$k"))
      val metrics: Seq[(String, Double, String)] =
        if (!o.trace) {
          records.foreach(Files.writeString(_, p50.toString))
          EndToEnd.map { case (n, u) => (n, e2e(n), u) }
        } else {
          tr.drain()
          val untraced = records.find(Files.exists(_))
            .map(Files.readString(_).trim.toDouble).getOrElse(0.0)
          val m = layerMetrics(spark, tr, wl, attempted, windowS, cores) ++ Map(
            "trace.op_p50_ms" -> p50, "trace.untraced_op_p50_ms" -> untraced,
            "trace.overhead_ms" -> (if (untraced > 0) p50 - untraced else 0.0))
          val spansFile = o.out.resolve(s"spans-${o.workload}-s${o.seed}.jsonl")
          Files.writeString(spansFile, tr.spansJson + "\n")
          tr.laneSeconds.lastOption.foreach { lanes =>
            val (lane, s) = Trace.criticalLane(lanes)
            say(s"trace critical_lane=$lane path_s=${fmt(s)} lanes=" +
              lanes.toSeq.sortBy(-_._2).map { case (k, v) => s"$k:${fmt(v)}" }.mkString(","))
          }
          say(s"trace spans=${tr.spans.length} written to $spansFile; overhead vs untraced " +
            s"op_p50_ms: ${if (untraced > 0) fmt(p50 - untraced) else "no untraced run recorded"}")
          PerLayer.map { case (n, u) => (n, m.getOrElse(n, 0.0), u) }
        }
      progress("done")
      val json = metrics.map { case (n, v, u) =>
        val value = if (v.isNaN || v.isInfinite) "0" else v.toString
        s""""$n": {"value": $value, "unit": "$u"}""" }.mkString(", ")
      emit(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {$json}}""")
      0
    } finally {
      tr.close()
      spark.stop()
    }
  }

  /** One seed's tree must hash the same in every run of one build of the
    * benchmark: the first run records the hash, later runs compare. */
  private def sameTreeAsBefore(o: Opts, hash: String): Seq[String] = {
    val stamp = sys.env.getOrElse("E2EBENCH_STAMP", "unstamped")
    val f = o.out.resolve(s"tree-s${o.seed}-x${o.scale}-$stamp.sha256")
    Files.createDirectories(o.out)
    if (!Files.exists(f)) { Files.writeString(f, hash); Nil }
    else {
      val prev = Files.readString(f).trim
      Option.when(prev != hash)(s"tree hash $hash != $prev of an earlier run").toSeq
    }
  }

  /** The per-layer figures of a traced run, per op where the figure is
    * work done. */
  private def layerMetrics(spark: SparkSession, tr: Trace, wl: Workload, nOps: Int,
                           windowS: Double, cores: Int): Map[String, Double] = {
    val n = nOps.toDouble
    val raw = tr.counts.toMap
    val setups = raw.getOrElse("setup.serving.opens", 0.0)
    val computes = raw.getOrElse("search.computes", 0.0)
    // figures are per op; the search layers' sizes are per computed
    // response (memo miss); the build layers on search and upload only
    // work during set-up, so there they are per set-up
    def per(k: String): Double =
      if (computes > 0 && Seq("search.", "layout.", "cytoscapejson.").exists(k.startsWith)) computes
      else n
    val m = mutable.HashMap.empty[String, Double]
    raw.foreach { case (k, v) => if (!k.startsWith("setup.")) m(k) = v / per(k) }
    if (setups > 0) raw.foreach { case (k, v) =>
      if (k.startsWith("setup.")) m.getOrElseUpdate(k.stripPrefix("setup."), v / setups) }
    val self = tr.selfSeconds(Trace.SetupOp)
    val opSelf = tr.selfSeconds(0)
    Seq("readers", "interactions", "annotate", "intervals", "graphops", "chas", "search",
      "layout", "cytoscapejson", "metadatajson").foreach { l =>
      m(s"$l.busy_s") = opSelf.get(l).map(_ / n)
        .getOrElse(if (setups > 0) self.getOrElse(l, 0.0) / setups else 0.0)
    }
    m("serving.memo_busy_s") = opSelf.getOrElse("serving", 0.0) / n
    // inside writeDatasetTree the lanes run concurrently: a layer's busy
    // time there is the wall time of its lanes
    tr.laneSeconds.foreach(_.foreach { case (lane, s) =>
      Trace.LaneLayer.get(lane).filter(_ != "pipeline").foreach { l =>
        m(s"$l.busy_s") = m.getOrElse(s"$l.busy_s", 0.0) + s / n }
    })
    if (tr.laneSeconds.nonEmpty)
      m("pipeline.critical_lane_s") = tr.laneSeconds.map(t => Trace.criticalLane(t)._2).sum / n
    val cand = m.remove("intervals.candidates").getOrElse(0.0)
    val left = m.getOrElse("intervals.left_rows", 0.0)
    m("intervals.candidates_per_row") = if (left > 0) cand / left else 0.0
    def w(l: String) = tr.byLayer.get(l)
    w("graphops").foreach { x => m("graphops.jobs") = x.jobs / n; m("graphops.shuffle_mb") = x.shuffleBytes / 1e6 / n }
    w("chas").foreach { x =>
      m("chas.jobs") = x.jobs / n; m("chas.shuffle_mb") = x.shuffleBytes / 1e6 / n
      m("chas.spill_mb") = x.spillBytes / 1e6 / n }
    w("layout").foreach(x => m("layout.jobs") = x.jobs / n)
    w("serving").foreach(x => m("serving.memo_jobs") = x.jobs / n)
    w("cytoscapejson").foreach(x => m("cytoscapejson.jobs") = x.jobs / n)
    wl.report.foreach { case (k, v, _) => if (k.startsWith("serving.")) m(k) = v }
    val ops = tr.byOp.filter(_._1 >= 0).values
    m("spark.jobs_per_op") = ops.map(_.jobs).sum / n
    m("spark.tasks_per_op") = ops.map(_.tasks).sum / n
    m("spark.parallel_eff") = ops.map(_.runMs).sum / 1e3 / (windowS * cores)
    m("spark.core_s_per_op") = windowS * cores / n
    m("spark.task_skew") = tr.taskSkew
    m("spark.shuffle_mb") = ops.map(_.shuffleBytes).sum / 1e6 / n
    m("spark.spill_mb") = ops.map(_.spillBytes).sum / 1e6 / n
    m("spark.gc_s") = ops.map(_.gcMs).sum / 1e3 / n
    m("spark.cached_mb_end") = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6
    m.toMap
  }
}
