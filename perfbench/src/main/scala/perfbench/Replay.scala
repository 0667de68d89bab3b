package perfbench

import graft.sources.pbf.{Blobs, BlockDecoder, DirectParquet, OsmPbf, OsmSchema, PbfConfig}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** The traced run's layer calls: the benchmark itself reads, inflates,
  * decodes and (for the transcode workload) writes every data blob of the
  * corpus through the layers' public functions, in a Spark job grouped
  * the way the transcode groups its tasks, and records a span around each
  * call. The program's own loop is not instrumented; these spans measure
  * the same calls made the same way. */
object Replay {
  final case class Out(elems: Long, compressedBytes: Long, inflatedBytes: Long)

  val LayerSpans = Seq("blobs.read", "Blobs.decode", "BlockDecoder.decodeBlockInternal",
    "RotatingWriter.write", "RotatingWriter.close", "replay.task")

  /** The transcode's task grouping for `pbf` under the default config. */
  def transcodeTarget(spark: SparkSession, pbf: String): Long = {
    val spans = OsmPbf.blobSpans(spark, pbf).filter(_.blobType == Blobs.TypeOsmData)
    val total = spans.iterator.map(OsmPbf.spanWeight).sum
    val auto = math.max(1L << 20, total / (2L * math.max(spark.sparkContext.defaultParallelism, 1)))
    math.min(PbfConfig(pbf).inputBufferSizeMb.toLong << 20, auto)
  }

  def run(spark: SparkSession, pbf: String, outDir: Option[String], targetBytes: Long,
          parent: Long, pass: Int): Out = {
    val spans = OsmPbf.blobSpans(spark, pbf).filter(_.blobType == Blobs.TypeOsmData)
    val groups = OsmPbf.groupSpans(spans, targetBytes)
    val cfg = PbfConfig(pbf)
    val hc = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    hc.setInt("parquet.compression.codec.zstd.level", math.max(cfg.compression, 1))
    val hconf = new org.apache.spark.util.SerializableConfiguration(hc)
    val fileTarget = cfg.fileTargetMb.getOrElse(500).toLong << 20
    val maxRecords = cfg.maxRecordsPerFile
    val rowGroupBytes = cfg.rowGroupTargetMb.toLong << 20
    val rowGroupRows = cfg.maxRowGroupRows
    spark.sparkContext.parallelize(groups, groups.size).mapPartitions { it =>
      val taskStart = System.nanoTime()
      val task = org.apache.spark.TaskContext.get().partitionId()
      val conf = hconf.value
      val p = new Path(pbf)
      val in = p.getFileSystem(conf).open(p)
      val nodeU = UTF8String.fromString(OsmSchema.TypeNode)
      val wayU = UTF8String.fromString(OsmSchema.TypeWay)
      val writers = new Array[DirectParquet.RotatingWriter](3)
      val types = Array(OsmSchema.TypeNode, OsmSchema.TypeWay, OsmSchema.TypeRelation)
      def writer(i: Int, dir: String) = {
        if (writers(i) == null)
          writers(i) = new DirectParquet.RotatingWriter(new Path(s"$dir/type=${types(i)}"), conf,
            CompressionCodecName.ZSTD, task, fileTarget, maxRecords, rowGroupBytes, rowGroupRows)
        writers(i)
      }
      // spans of this task are children of a task span recorded last
      val pending = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
      var elems = 0L; var comp = 0L; var infl = 0L
      try {
        it.foreach(_.foreach { span =>
          val a = System.nanoTime()
          in.seek(span.offset)
          val buf = new Array[Byte](span.length)
          in.readFully(buf)
          val b = System.nanoTime()
          val payload = Blobs.decode(buf)
          val c = System.nanoTime()
          val rows = BlockDecoder.decodeBlockInternal(payload, BlockDecoder.FullProjection,
            reuseDense = true)
          var writeNs = 0L
          while (rows.hasNext) {
            val row = rows.next()
            outDir.foreach { dir =>
              val t = row.getUTF8String(12)
              val w = writer(if (t.equals(nodeU)) 0 else if (t.equals(wayU)) 1 else 2, dir)
              val ws = System.nanoTime()
              w.write(row)
              writeNs += System.nanoTime() - ws
            }
            elems += 1
          }
          val d = System.nanoTime()
          comp += span.length; infl += payload.length
          pending += (("blobs.read", a, b, b - a))
          pending += (("Blobs.decode", b, c, c - b))
          pending += (("BlockDecoder.decodeBlockInternal", c, d, d - c))
          if (outDir.isDefined) pending += (("RotatingWriter.write", c, d, writeNs))
        })
        writers.filter(_ != null).foreach { w =>
          val s = System.nanoTime(); w.close(); val e = System.nanoTime()
          pending += (("RotatingWriter.close", s, e, e - s))
        }
      } finally in.close()
      val taskId = Trace.record("replay.task", parent, taskStart, System.nanoTime(),
        System.nanoTime() - taskStart, pass)
      var decodeId = 0L
      pending.foreach { case (name, s, e, busy) =>
        // a blob's per-row writes happen inside its decode loop
        val par = if (name == "RotatingWriter.write") decodeId else taskId
        val id = Trace.record(name, par, s, e, busy, pass)
        if (name == "BlockDecoder.decodeBlockInternal") decodeId = id
      }
      Iterator.single(Out(elems, comp, infl))
    }.collect().foldLeft(Out(0, 0, 0))((x, y) =>
      Out(x.elems + y.elems, x.compressedBytes + y.compressedBytes, x.inflatedBytes + y.inflatedBytes))
  }

  /** Per-pass layer thread-seconds and counts from the replay spans. */
  def layers(all: Seq[Span], pass: Int, out: Out): Map[String, Double] = {
    val mine = all.filter(s => s.pass == pass && LayerSpans.contains(s.name))
    val self = Trace.selfNs(mine)
    def sum(name: String) = mine.filter(_.name == name).map(s => self(s.id)).sum / 1e9
    Map(
      "blobs.read_s" -> sum("blobs.read"),
      "blobs.inflate_s" -> sum("Blobs.decode"),
      "decode.s" -> sum("BlockDecoder.decodeBlockInternal"),
      "write.s" -> sum("RotatingWriter.write"),
      "write.close_s" -> sum("RotatingWriter.close"),
      "replay.task_other_s" -> sum("replay.task"),
      "replay.task_total_s" -> mine.filter(_.name == "replay.task").map(_.busyNs).sum / 1e9,
      "decode.elems" -> out.elems.toDouble,
      "blobs.compressed_bytes_per_elem" -> out.compressedBytes.toDouble / math.max(out.elems, 1),
      "blobs.inflated_bytes_per_elem" -> out.inflatedBytes.toDouble / math.max(out.elems, 1))
  }
}
