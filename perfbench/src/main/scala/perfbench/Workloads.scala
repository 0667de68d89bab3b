package perfbench

import graft.sources.pbf.{Blobs, IndexedPbf, OsmPbf, PbfConfig}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** The reconciliation of a traced pass, in wall seconds: rows a named
  * layer accounts for, and the catch-all rows no layer does (they count
  * in the stated residual). */
final case class Recon(layers: Seq[(String, Double)], unattributed: Seq[(String, Double)])

abstract class Workload(val spark: SparkSession, val work: String) {
  /** Set-up done once: making the inputs. */
  def prepare(r: Runner): Unit = ()
  /** The part of set-up that can be repeated (timed several times). */
  def setup(r: Runner): Unit
  /** Untimed first pass: JIT, caches, and (entry-mix) the checked dump. */
  def warmup(r: Runner): Unit
  def pass(r: Runner, p: Int): Unit
  /** The traced run's extra layer calls after a traced pass. */
  def traceExtras(r: Runner, p: Int): Unit = ()
  /** Per-layer metrics by name; units are in BENCHMARK.json. */
  def layer(r: Runner, rec: SparkRecorder): Map[String, Double]
  /** The median traced pass split into rows. */
  def reconcile(r: Runner, rec: SparkRecorder): Recon
  def describe: Map[String, Any]

  protected def delete(dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  protected def untracedOps(r: Runner, name: String): Seq[Double] =
    r.timed.filter(o => !o.traced && o.name == name).map(_.wallS)

  /** Per-op rows for op-list passes: planning, jobs, the driver-side
    * phases `driverSide` names (disjoint from both), and the driver-side
    * rest, which no layer accounts for. */
  protected def opRows(r: Runner, rec: SparkRecorder, names: Seq[String],
                       driverSide: OpRec => Map[String, Double] = _ => Map.empty): Recon = {
    val traced = r.timed.filter(_.traced)
    val rows = names.map { n =>
      val ops = traced.filter(_.name == n)
      val plan = Stats.median(ops.map(o => Engine.planS(rec, o)))
      val jobs = Stats.median(ops.map(o => Engine.jobUnionS(rec, o)))
      val side = Engine.medians(ops.map(driverSide)).toSeq.sorted.map { case (k, v) => s"$n.$k" -> v }
      val wall = Stats.median(ops.map(_.wallS))
      (Seq(s"$n.plan" -> plan, s"$n.jobs" -> jobs) ++ side,
        s"$n.driver_other" -> (wall - plan - jobs - side.map(_._2).sum))
    }
    Recon(rows.flatMap(_._1), rows.map(_._2))
  }
}

object Checks {
  private def typeCounts(df: DataFrame): Map[String, Long] =
    df.groupBy("type").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** A transcode's returned counts and its committed output must both
    * equal the generator's truth. Records output size and file count. */
  def transcoded(spark: SparkSession, out: String, counts: Map[String, Long],
                 truth: PlanetGen.Truth, info: scala.collection.mutable.Map[String, Any],
                 rowGroups: Boolean): Option[String] = {
    val files = new java.io.File(out).listFiles().toSeq.filter(_.getName.startsWith("type="))
      .flatMap(_.listFiles().toSeq).filter(_.getName.endsWith(".parquet"))
    info("output_files") = files.size
    info("output_bytes") = files.map(_.length).sum
    if (rowGroups) {
      val conf = spark.sparkContext.hadoopConfiguration
      info("row_groups") = files.map { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f.getPath), conf))
        try rd.getRowGroups.size finally rd.close()
      }.sum
    }
    if (counts != truth.counts) Some(s"returned counts $counts, truth ${truth.counts}")
    else {
      val got = typeCounts(OsmPbf.readCommitted(spark, out))
      if (got != truth.counts) Some(s"committed counts $got, truth ${truth.counts}") else None
    }
  }
}

/** The transcoder's job and what follows it, as one pass: `OsmPbf.transcode`
  * of one seeded planet-mix PBF with the default config (zstd level 3,
  * rename commit) into a fresh output dir; then reads of the same corpus
  * through the `osmpbf` source and `IndexedPbf` (the PBF half); then the
  * same scans over `OsmPbf.readCommitted` of that fresh output (the
  * parquet half). */
final class OsmWL(spark: SparkSession, work: String, seed: Long, elements: Long)
    extends Workload(spark, work) {
  val pbf = s"$work/planet.osm.pbf"
  var truth: PlanetGen.Truth = _
  private var split = 0L
  private var n = 0
  val PbfOps = Seq("pbf_noop", "pbf_tag_agg", "pbf_bbox", "ways_and_deps")
  val PqOps = Seq("pq_noop", "pq_tag_agg", "pq_bbox")

  override def prepare(r: Runner): Unit = {
    truth = PlanetGen.generate(pbf, seed, elements, Engine.Slots)
    // the split a user picks for a file this size: two waves of tasks per
    // core, the same rule the transcode applies to its own input
    val weight = OsmPbf.blobSpans(spark, pbf).filter(_.blobType == Blobs.TypeOsmData)
      .map(OsmPbf.spanWeight).sum
    split = math.max(1L, weight / (2L * Engine.Slots) >> 20) << 20
  }

  def setup(r: Runner): Unit = {
    // a new modification time makes the index cache miss, as for a new file
    new java.io.File(pbf).setLastModified(System.currentTimeMillis())
    r.op("IndexedPbf.index", -1)(IndexedPbf.index(spark, pbf))((idx, _) =>
      if (idx.size != truth.dataBlobs)
        Some(s"index has ${idx.size} blobs, file ${truth.dataBlobs}")
      else None)
  }

  private def noop(r: Runner, name: String, p: Int, df: => DataFrame): Unit =
    r.op(name, p) {
      val obs = Observation(name)
      df.observe(obs, count(lit(1)).as("rows"), sum(col("id")).as("ids"))
        .write.format("noop").mode("overwrite").save()
      obs.get
    }((m, info) => {
      info ++= m
      val want = (truth.elements, truth.idSum.values.sum)
      val got = (m("rows").toString.toLong, m("ids").toString.toLong)
      if (got != want) Some(s"(rows, id sum) $got, truth $want") else None
    })

  private def tagAgg(r: Runner, name: String, p: Int, df: => DataFrame): Unit =
    r.op(name, p) {
      df.filter(col("type") === "way").select(explode(map_keys(col("tags"))).as("key"))
        .groupBy("key").count().collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    }((m, info) => {
      info("keys") = m.size
      if (m != truth.wayTagKeys) Some(s"way tag keys differ from truth: $m") else None
    })

  private def bbox(r: Runner, name: String, p: Int, df: => DataFrame): Unit = {
    val b = truth.box
    r.op(name, p) {
      df.filter(col("type") === "node")
        .filter(col("lat").between(b.latMin, b.latMax) && col("lon").between(b.lonMin, b.lonMax))
        .count()
    }((c, info) => {
      info("rows") = c
      if (c != truth.boxNodes) Some(s"bbox count $c, truth ${truth.boxNodes}") else None
    })
  }

  private def waysAndDeps(r: Runner, p: Int): Unit = {
    val t = truth
    r.op("ways_and_deps", p) {
      val df = IndexedPbf.readWaysAndDeps(spark, pbf,
        element_at(col("tags"), t.predKey) === t.predValue && col("id").between(t.predIds._1, t.predIds._2))
      val obs = Observation("ways_and_deps")
      df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
      (df, obs.get("rows").toString.toLong)
    } { case ((df, rows), info) =>
      info("rows") = rows
      // pass 2's pruned node scan names its span count in the scan description
      val scanned = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.scan.description() }
        .filter(_.contains("types=node "))
        .flatMap(d => "spans=(\\d+)".r.findFirstMatchIn(d).map(_.group(1).toInt)).sum
      info("node_blobs_scanned_frac") =
        scanned.toDouble / IndexedPbf.index(spark, pbf).count(_.ids.hasNodes)
      if (rows != t.waysAndDepsRows) Some(s"ways and deps rows $rows, truth ${t.waysAndDepsRows}")
      else None
    }
  }

  def pass(r: Runner, p: Int): Unit = {
    val out = s"$work/out/t$n"
    n += 1
    r.op("transcode", p)(OsmPbf.transcode(spark, PbfConfig(pbf, out)))((counts, info) =>
      Checks.transcoded(spark, out, counts, truth, info, rowGroups = Trace.enabled))
    noop(r, "pbf_noop", p, OsmPbf.read(spark, pbf, split))
    tagAgg(r, "pbf_tag_agg", p, OsmPbf.read(spark, pbf, split))
    bbox(r, "pbf_bbox", p, OsmPbf.read(spark, pbf, split))
    waysAndDeps(r, p)
    noop(r, "pq_noop", p, OsmPbf.readCommitted(spark, out))
    tagAgg(r, "pq_tag_agg", p, OsmPbf.readCommitted(spark, out))
    bbox(r, "pq_bbox", p, OsmPbf.readCommitted(spark, out))
    delete(out)
  }

  def warmup(r: Runner): Unit = (0 until 2).foreach(_ => pass(r, -1))

  override def traceExtras(r: Runner, p: Int): Unit = {
    r.op("OsmPbf.blobSpans", p)(OsmPbf.blobSpans(spark, pbf))((s, info) => {
      info("blobs") = s.size; None
    })
    val out = s"$work/out/replay$p"
    val target = Replay.transcodeTarget(spark, pbf)
    r.op("replay", p)(Replay.run(spark, pbf, Some(out), target, Trace.currentId, p))((o, info) => {
      info("out") = o
      if (o.elems != truth.elements) Some(s"replay decoded ${o.elems}, truth ${truth.elements}")
      else None
    })
    delete(out)
  }

  /** plan / job / commit split of one traced transcode from its jobs. */
  private def phases(rec: SparkRecorder, t: OpRec): Map[String, Double] = {
    val js = Engine.jobs(rec, t)
    if (js.isEmpty) Map("plan" -> t.wallS, "job" -> 0.0, "commit" -> 0.0)
    else {
      val s = js.map(_._1).min; val e = js.map(_._2).max
      Map("plan" -> (s - t.startMs) / 1e3, "job" -> (e - s) / 1e3, "commit" -> (t.endMs - e) / 1e3)
    }
  }

  private def tracedPasses(r: Runner, rec: SparkRecorder): Seq[Map[String, Double]] = {
    val spans = Trace.all
    r.passes(traced = true).toSeq.flatMap { case (p, ops) =>
      val extras = r.tracedExtras.filter(_.pass == p)
      for {
        t <- ops.find(_.name == "transcode")
        en <- extras.find(_.name == "OsmPbf.blobSpans")
        rp <- extras.find(_.name == "replay")
        out <- rp.info.get("out").collect { case o: Replay.Out => o }
      } yield {
        val ph = phases(rec, t)
        val lay = Replay.layers(spans, p, out)
        // share of the replay job's slot-time no task was running
        val idle = math.max(0.0,
          1 - lay("replay.task_total_s") / (Engine.jobUnionS(rec, rp) * Engine.Slots))
        lay ++ Engine.spark(rec, ops) ++ Map(
          "blobs.enumerate_s" -> en.wallS,
          "transcode.plan_s" -> ph("plan"), "transcode.job_s" -> ph("job"),
          "transcode.commit_s" -> ph("commit"),
          "transcode.residual_s" -> ph("job") * idle,
          "write.row_groups" -> t.info.get("row_groups").map(_.toString.toDouble).getOrElse(0.0),
          "scan.plan_s" -> ops.filter(o => PbfOps.take(3).contains(o.name)).map(Engine.planS(rec, _)).sum,
          "jvm.gc_pause_s" -> Engine.gcS(ops))
      }
    }
  }

  private def halfWalls(r: Runner, names: Seq[String]): Seq[Double] =
    r.passes(traced = false).values.map(_.filter(o => names.contains(o.name)).map(_.wallS).sum).toSeq

  def layer(r: Runner, rec: SparkRecorder): Map[String, Double] = {
    val walls = untracedOps(r, "transcode")
    val outs = r.timed.filter(_.name == "transcode")
    def info(k: String) = Stats.median(outs.flatMap(_.info.get(k)).map(_.toString.toDouble))
    val ops = (PbfOps.take(3) ++ PqOps).flatMap { o =>
      val w = untracedOps(r, o)
      Seq(s"osmq.${o}_p50_s" -> Stats.median(w), s"osmq.${o}_max_s" -> Stats.max(w))
    }
    val wd = untracedOps(r, "ways_and_deps")
    val scanned = r.timed.filter(_.name == "ways_and_deps")
      .flatMap(_.info.get("node_blobs_scanned_frac")).map(_.toString.toDouble)
    Engine.medians(tracedPasses(r, rec)) ++ ops ++ Map(
      "transcode_p50_s" -> Stats.median(walls),
      "transcode_max_s" -> Stats.max(walls),
      "transcode_elems_per_s" -> truth.elements / Stats.median(walls),
      "output_bytes_per_elem" -> info("output_bytes") / truth.elements,
      "output_files" -> info("output_files"),
      "index.build_s" -> Stats.median(r.ops.filter(_.name == "IndexedPbf.index").map(_.wallS).toSeq),
      "index.ways_and_deps_p50_s" -> Stats.median(wd),
      "index.ways_and_deps_max_s" -> Stats.max(wd),
      "index.node_blobs_scanned_frac" -> Stats.median(scanned),
      "pbf_query_pass_s" -> Stats.median(halfWalls(r, PbfOps)),
      "parquet_query_pass_s" -> Stats.median(halfWalls(r, PqOps)))
  }

  /** The transcode split into its phases and its job split by the
    * replay's layer shares of task time, then the read ops by phase. The
    * planning rest, the tasks' time outside the timed layer calls and the
    * job's idle slots are no layer's. */
  def reconcile(r: Runner, rec: SparkRecorder): Recon = {
    val m = Engine.medians(tracedPasses(r, rec))
    def g(k: String) = m.getOrElse(k, 0.0)
    val busy = g("transcode.job_s") - g("transcode.residual_s")
    def share(k: String) = busy * g(k) / math.max(g("replay.task_total_s"), 1e-9)
    val reads = opRows(r, rec, PbfOps ++ PqOps)
    Recon(
      Seq(
        "transcode: OsmPbf.blobSpans" -> g("blobs.enumerate_s"),
        "transcode: blobs.read" -> share("blobs.read_s"),
        "transcode: Blobs.decode" -> share("blobs.inflate_s"),
        "transcode: BlockDecoder.decodeBlockInternal" -> share("decode.s"),
        "transcode: RotatingWriter.write" -> share("write.s"),
        "transcode: RotatingWriter.close" -> share("write.close_s"),
        "transcode: commit" -> g("transcode.commit_s")) ++ reads.layers,
      Seq(
        "transcode: plan, other" -> (g("transcode.plan_s") - g("blobs.enumerate_s")),
        "transcode: task other" -> share("replay.task_other_s"),
        "transcode: job idle slots (scheduling)" -> g("transcode.residual_s")) ++ reads.unattributed)
  }

  def describe: Map[String, Any] = Map("corpus" -> truth.stats, "scan_split_bytes" -> split)
}

/** One pass over a fixed list of `SparkEntry.queries`, order fixed by the
  * seed. Batch entries run through a noop sink; streaming entries run
  * their own eager replay. The first warmup pass dumps every result for
  * the DuckDB oracle check done outside the JVM and records a checksum of
  * it; every later op must give the same row count and checksum. */
final class EntryMixWL(spark: SparkSession, work: String, seed: Long, tables: String)
    extends Workload(spark, work) {
  val order: Seq[String] = new scala.util.Random(seed).shuffle(EntryMixWL.Entries)
  private val dumped = scala.collection.mutable.Map.empty[String, (Long, Long)]
  private def fn(n: String) = graft.SparkEntry.queries(n)

  /** The entry's result with its row count and an order-independent
    * checksum observed on the way to the sink. Doubles are rounded so the
    * checksum does not hang on the last bit of a sum. */
  private def observed(n: String): (DataFrame, Observation) = {
    val df = fn(n)(spark, tables)
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case _ => col(f.name)
      }
    }
    val obs = Observation(n)
    (df.observe(obs, count(lit(1)).as("rows"),
      sum(pmod(xxhash64(cols: _*), lit(1L << 40))).as("sum")), obs)
  }

  private def rowsAndSum(obs: Observation): (Long, Long) =
    (obs.get("rows").toString.toLong, Option(obs.get("sum")).map(_.toString.toLong).getOrElse(0L))

  def setup(r: Runner): Unit = ()

  /** The dump pass, then one pass as timed, so the first timed pass
    * starts warm. */
  def warmup(r: Runner): Unit = {
    order.foreach { n =>
      r.op(n, -1) {
        val (df, obs) = observed(n)
        df.coalesce(1).write.mode("overwrite").parquet(s"$work/results/$n")
        rowsAndSum(obs)
      }((got, info) => { dumped(n) = got; info("rows") = got._1; None })
    }
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => order.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/results/oracle_sql.json"),
      Json.write(oracles))
    pass(r, -1)
  }

  /** Settles after every entry: the heap an entry leaves behind depends on
    * the entry, so reading it only at the end of a pass would depend on
    * the seeded order. */
  def pass(r: Runner, p: Int): Unit = order.foreach { n =>
    r.op(n, p) {
      val (df, obs) = observed(n)
      df.write.format("noop").mode("overwrite").save()
      rowsAndSum(obs)
    }((got, info) => {
      info("rows") = got._1
      val want = dumped.get(n)
      if (!want.contains(got)) Some(s"(rows, checksum) $got, dumped result $want") else None
    })
    r.settle()
  }

  def layer(r: Runner, rec: SparkRecorder): Map[String, Double] = {
    val per = r.passes(traced = true).values.map { ops =>
      val streams = ops.filter(_.name.startsWith("st")).map(Engine.stream(rec, _))
      Engine.spark(rec, ops) ++ streams.flatten.groupMapReduce(_._1)(_._2)(_ + _) ++
        Map("entry.plan_s" -> ops.map(Engine.planS(rec, _)).sum, "jvm.gc_pause_s" -> Engine.gcS(ops))
    }
    val entries = order.flatMap { n =>
      val w = untracedOps(r, n)
      Seq(s"entry.${n}_p50_s" -> Stats.median(w), s"entry.${n}_max_s" -> Stats.max(w))
    }
    Engine.medians(per) ++ entries ++
      Map("entry_mix_pass_s" -> Stats.median(r.passWalls(traced = false)))
  }

  /** Per entry as for the osm reads, and for the streaming entries also
    * the micro-batches' offset-log and commit-log writes (the commit
    * path), which run on the driver between their jobs. */
  def reconcile(r: Runner, rec: SparkRecorder): Recon = opRows(r, rec, order, o =>
    if (!o.name.startsWith("st")) Map.empty
    else {
      val s = Engine.stream(rec, o)
      Map("stream_commit" -> (s("stream.wal_commit_s") + s("stream.commit_offsets_s")))
    })

  def describe: Map[String, Any] = Map("order" -> order, "tables" -> tables)
}

object EntryMixWL {
  val Entries = Seq("q15_distinct_agg", "q27_salted_join", "x02_approx_quantiles", "d03_simhash",
    "t05_regex_tokens", "st17_cdc_apply")
}
