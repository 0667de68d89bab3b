package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up (repeated, median reported),
  * untimed warmup passes, then a closed loop of passes for `--seconds`.
  * With `--trace 1` every other pass is traced, so the same run gives
  * the traced layer split, the untraced wall it must reconcile with, and
  * the tracing overhead. Writes its result as JSON to `--out`; `run.py`
  * turns it into the printed metrics. */
object Main {
  /** Elements in the planet-mix corpus of the osm workload. */
  val Elements = 1000000L
  /** Repeats of the repeatable set-up; `setup_s` takes their median. */
  val SetupReps = 3

  private def arg(args: Map[String, String], k: String) =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val work = arg(args, "work")
    val launchMs = arg(args, "launch-ms").toLong

    Host.installGcListener()
    val spark = SparkSession.builder()
      .master(s"local[${Engine.Slots}]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Engine.Slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(if (trace) SparkRecorder.sessionConfs else Map.empty[String, String])
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - launchMs) / 1e3

    val wl: Workload = workload match {
      case "osm" => new OsmWL(spark, work, seed, Elements)
      case "entry-mix" => new EntryMixWL(spark, work, seed, arg(args, "tables"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val rec = if (trace) Some(new SparkRecorder(spark)) else None
    val r = new Runner
    def time(body: => Unit): Double = { val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e9 }

    val prepareS = time(wl.prepare(r))
    val setupRuns = (0 until SetupReps).map(_ => time(wl.setup(r)))
    r.phase = "warmup"
    val warmupS = time {
      wl.warmup(r)
      if (trace) { // the traced run's own layer calls warm up too
        Trace.enabled = true
        wl.traceExtras(r, -1)
        Trace.enabled = false
      }
      r.settle()
    }
    val setupS = sessionS + prepareS + Stats.median(setupRuns) + warmupS

    r.phase = "timed"
    val stat0 = Host.procStat()
    val t0 = System.nanoTime()
    var p = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    def count(traced: Boolean) = r.passes(traced).size
    while (elapsed < seconds || count(false) < 1 || (trace && count(true) < 1)) {
      val traced = trace && p % 2 == 1
      Trace.enabled = traced
      Trace.pass = p
      wl.pass(r, p)
      if (traced) {
        r.phase = "trace"
        wl.traceExtras(r, p)
        r.phase = "timed"
      }
      Trace.enabled = false
      r.settle()
      p += 1
    }
    val window = Host.window(stat0, Host.procStat())
    val timedS = elapsed
    // listener events arrive asynchronously; let the bus drain
    if (trace) Thread.sleep(1500)

    val untraced = r.passWalls(traced = false)
    val passCpu = r.passes(traced = false).values.map(_.map(_.cpuNs).sum / 1e9).toSeq
    val e2e = Map(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(untraced),
      "pass_cpu_s" -> Stats.median(passCpu),
      "peak_heap_mb" -> r.peakHeapMb)

    val attempted = r.ops.size
    val failed = r.ops.count(!_.ok)
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "attempted" -> attempted, "failed" -> failed,
      "e2e" -> e2e,
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepareS, "repeats_s" -> setupRuns, "warmup_s" -> warmupS),
      "timed_s" -> timedS,
      "passes" -> Map("untraced" -> untraced, "traced" -> r.passWalls(traced = true)),
      "host" -> (Host.context() ++ Map("spark_master" -> spark.sparkContext.master,
        "slots" -> Engine.Slots, "window" -> window)),
      "workload_info" -> wl.describe)

    rec.foreach { rc =>
      val traced = r.passWalls(traced = true)
      val layer = wl.layer(r, rc) ++ Map(
        "host.steal_pct" -> window.getOrElse("steal_pct", 0.0),
        "host.sys_pct" -> window.getOrElse("sys_pct", 0.0),
        "trace.overhead_frac" -> (Stats.median(traced) / Stats.median(untraced) - 1),
        "ops_failed_frac" -> failed.toDouble / attempted)
      val recon = wl.reconcile(r, rc)
      val untracedWall = Stats.median(untraced)
      val tracedWall = Stats.median(traced)
      val layerSum = recon.layers.map(_._2).sum
      def rows(xs: Seq[(String, Double)]) = xs.map { case (k, v) => Map("row" -> k, "s" -> v) }
      result("layer") = layer
      result("reconciliation") = Map(
        "basis" -> ("rows: medians over traced passes, in wall seconds of the pass; " +
          "residual: untraced pass wall minus the layer rows; its parts are the " +
          "unattributed rows and the untraced-minus-traced wall difference, each a median"),
        "untraced_wall_s" -> untracedWall, "traced_wall_s" -> tracedWall,
        "layers" -> rows(recon.layers), "layers_sum_s" -> layerSum,
        "unattributed" -> rows(recon.unattributed :+
          ("untraced minus traced pass wall" -> (untracedWall - tracedWall))),
        "residual_s" -> (untracedWall - layerSum),
        "residual_frac" -> (untracedWall - layerSum) / untracedWall)
      val spansFile = s"$work/spans.jsonl"
      val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(spansFile))
      try Trace.all.foreach { s => w.write(Json.write(s)); w.newLine() } finally w.close()
      result("spans_file") = spansFile
    }
    result("ops") = r.ops.map(o => Map("name" -> o.name, "pass" -> o.pass, "phase" -> o.phase,
      "traced" -> o.traced, "wall_s" -> o.wallS, "cpu_s" -> o.cpuNs / 1e9, "ok" -> o.ok,
      "error" -> o.error, "info" -> o.info.filter(_._1 != "out")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(arg(args, "out")), Json.write(result))
    spark.stop()
  }
}
