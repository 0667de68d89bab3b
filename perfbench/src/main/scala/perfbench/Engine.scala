package perfbench

import scala.jdk.CollectionConverters._

/** Layer figures read from the recorders, matched to ops by timestamp. */
object Engine {
  val Slots = 4

  private def tasksOf(rec: SparkRecorder, ops: Seq[OpRec]): Seq[TaskRec] =
    rec.tasks.asScala.toSeq.filter(t => ops.exists(_.covers(t.launchMs.toDouble)))

  /** Spark engine figures for one pass made of `ops`. */
  def spark(rec: SparkRecorder, ops: Seq[OpRec]): Map[String, Double] = {
    val ts = tasksOf(rec, ops)
    val wall = ops.map(_.wallS).sum
    val stages = ts.groupBy(t => (t.stage, t.attempt)).values.filter(_.size >= 2)
    val skew =
      if (stages.isEmpty) 1.0
      else stages.map { st =>
        val d = st.map(t => (t.finishMs - t.launchMs).toDouble)
        d.max / math.max(Stats.median(d), 1.0)
      }.max
    val cpu = ts.map(_.cpuNs).sum / 1e9
    Map(
      "spark.task_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.task_cpu_s" -> cpu,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.sched_delay_s" -> ts.map(_.schedDelayMs).sum / 1e3,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_skew" -> skew,
      "spark.cpu_util" -> (if (wall > 0) cpu / (wall * Slots) else 0.0))
  }

  /** Jobs started inside `op`, as (start, end) epoch ms clipped to it. */
  def jobs(rec: SparkRecorder, op: OpRec): Seq[(Double, Double)] =
    rec.jobs.values.asScala.toSeq.filter(j => op.covers(j.startMs.toDouble))
      .map(j => (math.max(j.startMs.toDouble, op.startMs),
        math.min(if (j.endMs < 0) op.endMs else j.endMs.toDouble, op.endMs)))

  /** Seconds of `op` during which at least one job ran. */
  def jobUnionS(rec: SparkRecorder, op: OpRec): Double = {
    var covered = 0.0
    var cur = Double.NegativeInfinity
    jobs(rec, op).sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, cur)
      if (e > from) covered += e - from
      cur = math.max(cur, e)
    }
    covered / 1e3
  }

  /** Catalyst analysis + optimization + planning seconds of the queries
    * `op` issued (`QueryExecution.tracker`). */
  def planS(rec: SparkRecorder, op: OpRec): Double =
    rec.plans.asScala.toSeq.filter(p => op.covers(p.startMs.toDouble)).map(_.totalMs).sum / 1e3

  /** GC pause seconds that started inside the ops (the benchmark's own
    * settling collections fall outside every op). */
  def gcS(ops: Seq[OpRec]): Double =
    Host.gcs.asScala.toSeq
      .filter(g => ops.exists(o => g.startMs >= o.startMs && g.startMs <= o.endMs))
      .map(_.durationMs).sum / 1e3

  /** Micro-batch durations (`StreamingQueryProgress.durationMs`) of the
    * streams `op` ran, summed by key, plus the batch count. */
  def stream(rec: SparkRecorder, op: OpRec): Map[String, Double] = {
    val ps = rec.progress.asScala.toSeq.filter(p => op.covers(p.timestampMs.toDouble))
    val keys = Seq("addBatch" -> "stream.add_batch_s", "walCommit" -> "stream.wal_commit_s",
      "commitOffsets" -> "stream.commit_offsets_s", "queryPlanning" -> "stream.query_planning_s",
      "triggerExecution" -> "stream.trigger_s")
    keys.map { case (k, n) => n -> ps.map(_.durations.getOrElse(k, 0L)).sum / 1e3 }.toMap +
      ("stream.batches" -> ps.size.toDouble)
  }

  /** Median of each key across per-pass maps. */
  def medians(perPass: Iterable[Map[String, Double]]): Map[String, Double] =
    perPass.flatMap(_.keys).toSet.map((k: String) => k -> Stats.median(perPass.flatMap(_.get(k)).toSeq)).toMap
}
