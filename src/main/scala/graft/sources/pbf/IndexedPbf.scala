package graft.sources.pbf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** PBF-native indexed query path — the Spark re-expression of the
  * reference's `IndexedReader.read_ways_and_deps` (osmpbf/src/indexed.rs:
  * 145-222, 264-330): answer "ways matching P, plus their dependent nodes"
  * directly over the PBF, without transcoding first, touching only the
  * blobs that can contain relevant elements.
  *
  * Architecture (each reference idea re-expressed distributed):
  *  - **index**: one cheap distributed job decodes only element ids per
  *    blob into (type, min/max id) zone maps (indexed.rs:174-225 builds
  *    the same ranges lazily). The index is ~56 bytes/blob — driver-held
  *    and cached per path, like the reference's in-memory `Vec<BlobInfo>`.
  *  - **pass 1**: scan ONLY blobs whose zone map has ways
  *    (`ways_available() != No`, indexed.rs:275-278), with the way-type
  *    group pushdown; filter with the caller's predicate Column.
  *  - **pass 2**: the reference walks a driver-side BTreeSet of needed
  *    node ids against each blob's range (indexed.rs:303-310). The
  *    distributed analog: map each needed ref to node blobs by binary
  *    search over the broadcast zone maps (blob pruning), then an exact
  *    semi-join (`id IN refs`) that Catalyst/AQE executes broadcast when
  *    the ref set is small — no driver-side id set, so a non-selective
  *    predicate can't OOM the driver at planet scale.
  */
object IndexedPbf {

  /** Zone map for one data blob (indexed.rs:36-52). `rawSize` rides along
    * so pruned scans keep the decoded-size task weighting. */
  final case class ZoneMap(offset: Long, length: Int, ids: BlockDecoder.BlobIdRanges,
                           rawSize: Int = -1) {
    def span: Blobs.BlobSpan =
      Blobs.BlobSpan(offset, length, Blobs.TypeOsmData, rawSize)
  }

  // keyed by (path, mtime, length): a file replaced in place gets a fresh
  // index instead of stale offsets/ranges pruning the wrong blobs
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Seq[ZoneMap]]()

  /** Builds (or returns the cached) blob index: distributed id-only decode
    * of every data blob. Equivalent of create_index + the lazily-recorded
    * id ranges (indexed.rs:145-172, 174-225), but paid up-front in one
    * parallel pass instead of piggybacked on the first query. */
  def index(spark: SparkSession, path: String,
            splitTargetBytes: Long = 64L << 20): Seq[ZoneMap] = {
    val fsPath = new Path(path)
    val status = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(fsPath)
    val key = (path, status.getModificationTime, status.getLen)
    val cached = indexCache.get(key)
    if (cached != null) return cached
    // a replaced file gets a fresh entry — drop the unreachable old
    // generation(s) so a long-lived session can't accumulate dead indexes
    indexCache.keySet.removeIf(k => k._1 == path && k != key)
    val spans = OsmPbf.blobSpans(spark, path).filter(_.blobType == Blobs.TypeOsmData)
    val groups = OsmPbf.groupSpans(spans, splitTargetBytes)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val built = spark.sparkContext.parallelize(groups, math.max(groups.size, 1))
      .mapPartitions { it =>
        val fsPath = new Path(path)
        val fs = fsPath.getFileSystem(hconf.value)
        val in = fs.open(fsPath)
        val out = scala.collection.mutable.ArrayBuffer.empty[ZoneMap]
        try it.foreach(_.foreach { span =>
          in.seek(span.offset)
          val buf = new Array[Byte](span.length)
          in.readFully(buf)
          out += ZoneMap(span.offset, span.length,
            BlockDecoder.idRanges(Blobs.decode(buf)), span.rawSize)
        }) finally in.close()
        out.iterator
      }.collect().sortBy(_.offset).toSeq
    indexCache.put(key, built)
    built
  }

  /** Scan restricted to an explicit span subset (the pruned read): the
    * osmpbf DSv2 source accepts pre-planned spans so no re-enumeration or
    * full-file scan happens. */
  def readSpans(spark: SparkSession, path: String,
                spans: Seq[Blobs.BlobSpan]): DataFrame =
    spark.read.format("osmpbf")
      .option("spans",
        spans.map(s => s"${s.offset}:${s.length}:${s.rawSize}").mkString(","))
      .load(path)

  /** `read_ways_and_deps`: DataFrame of the matching ways plus their
    * dependent nodes, in [[OsmSchema.schema]].
    *
    * The pass-1 ways feed three consumers (the ref-set collect, the pass-2
    * semi-join, the output union), so they are materialized ONCE via
    * `localCheckpoint`: unlike `Dataset.persist`, whose cache entry lives
    * in the session's CacheManager until explicitly unpersisted, a local
    * checkpoint's blocks are dropped by the ContextCleaner as soon as the
    * returned DataFrame becomes unreachable — repeated calls don't
    * accumulate session-lifetime cache. Tradeoff (documented): local
    * checkpoints are not executor-loss tolerant; losing one fails the job
    * and the caller re-runs — acceptable for a bounded pruned subset.
    */
  def readWaysAndDeps(spark: SparkSession, path: String, wayPredicate: Column): DataFrame = {
    val idx = index(spark, path)

    // Pass 1: way-bearing blobs only (indexed.rs:275-278), way groups only.
    val wayBlobs = idx.filter(_.ids.hasWays).map(_.span)
    val ways = readSpans(spark, path, wayBlobs)
      .filter(col("type") === OsmSchema.TypeWay)
      .filter(wayPredicate)
      .localCheckpoint(eager = true)

    val refs = ways.select(explode(col("nds.ref")).as("ref")).distinct()

    // Zone-map pruning (indexed.rs:88-106, 303-310): broadcast the sorted
    // node ranges, binary-search each ref to its candidate blob(s), and
    // collect only the needed blob ordinals (bounded by blob count).
    val nodeBlobs = idx.filter(_.ids.hasNodes).sortBy(_.ids.nodeMin)
    val mins = nodeBlobs.map(_.ids.nodeMin).toArray
    val maxs = nodeBlobs.map(_.ids.nodeMax).toArray
    // prefix-max of nodeMax: pmx(i) = max(maxs(0..i)). The left walk can
    // stop exactly when pmx(i) < ref — no blob at or before i can contain
    // ref — which is correct even for NESTED ranges ([0,1000] followed by
    // [100,150]): stopping on the first non-overlapping mx(i) alone would
    // hide the wide earlier range.
    val pmaxs = maxs.scanLeft(Long.MinValue)(math.max).drop(1)
    val bMins = spark.sparkContext.broadcast(mins)
    val bMaxs = spark.sparkContext.broadcast(maxs)
    val bPmax = spark.sparkContext.broadcast(pmaxs)
    val neededOrdinals = refs.select(col("ref")).as(Encoders.scalaLong)
      .mapPartitions { it =>
        val mn = bMins.value; val mx = bMaxs.value; val pm = bPmax.value
        val hit = new java.util.TreeSet[Int]()
        it.foreach { ref =>
          // last blob with min <= ref, then walk left while any earlier
          // blob can still reach ref (prefix max)
          var lo = 0; var hi = mn.length - 1; var ub = -1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (mn(mid) <= ref) { ub = mid; lo = mid + 1 } else hi = mid - 1
          }
          var i = ub
          while (i >= 0 && pm(i) >= ref) {
            if (mn(i) <= ref && ref <= mx(i)) hit.add(i)
            i -= 1
          }
        }
        scala.jdk.CollectionConverters.IteratorHasAsScala(hit.iterator()).asScala
      }(Encoders.scalaInt)
      .distinct().collect().sorted
    // the zone-map broadcasts are consumed ENTIRELY by the collect above —
    // destroy deterministically rather than waiting for GC + ContextCleaner
    // (the method's own no-session-lifetime-accumulation rationale; a
    // long-lived session issuing many queries would otherwise accumulate
    // dead broadcast blocks on the driver and executors)
    Seq(bMins, bMaxs, bPmax).foreach(_.destroy())

    // Pass 2: pruned node blobs, node groups only, exact id semi-join.
    val nodeSpans = neededOrdinals.map(i => nodeBlobs(i).span).toSeq
    val nodes =
      if (nodeSpans.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], OsmSchema.schema)
      else
        readSpans(spark, path, nodeSpans)
          .filter(col("type") === OsmSchema.TypeNode)
          .join(refs, col("id") === col("ref"), "left_semi")

    ways.unionByName(nodes)
  }
}
