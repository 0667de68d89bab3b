package perfbench

import graft.sources.pbf.PbfWriter
import graft.sources.pbf.PbfWriter.{DenseNode, RelationData, WayData}

import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Seeded planet-entropy OSM PBF generator, built on the public
  * `PbfWriter.primitiveBlock` / `PbfWriter.writeFile`.
  *
  * The planet is ~89% dense nodes, ~10% ways and well under 1% relations,
  * at about 8-9 compressed bytes per element. A corpus this small only
  * stays that incompressible if every field carries planet-like entropy:
  *
  *  - node ids advance by small random gaps (deleted ids), per 8000-node
  *    block as in planet files;
  *  - coordinates random-walk in metre-scale steps with occasional
  *    street-scale jumps and rare moves to a new area;
  *  - a minority of nodes and most ways carry tags, with Zipf-ranked keys
  *    and values plus free-text names and house numbers;
  *  - ways hold 2-200 refs to nearby existing nodes (closed rings too);
  *  - users and changesets come in edit runs drawn from a large,
  *    Zipf-skewed population, with timestamps spread over 18 years.
  *
  * Everything derives from `seed` through per-block `SplittableRandom`s,
  * so the same seed yields the same file bytes whatever the thread count.
  * The generator also computes the ground truth the benchmark checks the
  * program's answers against; none of it comes from the code under test.
  */
object PlanetGen {
  val NodesPerBlock = 8000
  val WaysPerBlock = 8000
  val RelationsPerBlock = 2000
  private val NodeIdStride = NodesPerBlock.toLong * 4
  private val Epoch2007 = 1167609600000L // 2007-01-01, ms
  private val Span18y = 18L * 365 * 86400000L

  /** A lat/lon box in raw 1e-7 degree units, bounds at half units so no
    * decoded coordinate can sit on an edge: a node is inside iff
    * `latLo < raw < latHi` (and the same for lon). */
  final case class Box(latLo: Long, latHi: Long, lonLo: Long, lonHi: Long) {
    private def deg(raw: Long): Double = (raw + 0.5) * 1e-7
    def latMin: Double = deg(latLo); def latMax: Double = deg(latHi - 1)
    def lonMin: Double = deg(lonLo); def lonMax: Double = deg(lonHi - 1)
    def contains(lat: Long, lon: Long): Boolean =
      lat > latLo && lat < latHi && lon > lonLo && lon < lonHi
  }

  final case class Truth(
      nodes: Long, ways: Long, relations: Long,
      idSum: Map[String, Long],
      box: Box, boxNodes: Long,
      wayTagKeys: Map[String, Long],
      predKey: String, predValue: String, predIds: (Long, Long),
      predWays: Long, predDepNodes: Long,
      fileBytes: Long, dataBlobs: Int,
      taggedNodeFrac: Double, taggedWayFrac: Double, refsPerWay: Double,
      users: Int, changesets: Int) {
    def elements: Long = nodes + ways + relations
    def counts: Map[String, Long] = Map("node" -> nodes, "way" -> ways, "relation" -> relations)
    def waysAndDepsRows: Long = predWays + predDepNodes
    def stats: Map[String, Any] = Map(
      "elements" -> elements, "nodes" -> nodes, "ways" -> ways, "relations" -> relations,
      "node_frac" -> nodes.toDouble / elements, "way_frac" -> ways.toDouble / elements,
      "relation_frac" -> relations.toDouble / elements,
      "file_bytes" -> fileBytes, "data_blobs" -> dataBlobs,
      "compressed_bytes_per_elem" -> fileBytes.toDouble / elements,
      "tagged_node_frac" -> taggedNodeFrac, "tagged_way_frac" -> taggedWayFrac,
      "refs_per_way" -> refsPerWay, "distinct_users" -> users,
      "distinct_changesets" -> changesets,
      "truth" -> Map(
        "counts" -> counts, "id_sum" -> idSum,
        "bbox" -> Map("lat_min" -> box.latMin, "lat_max" -> box.latMax,
          "lon_min" -> box.lonMin, "lon_max" -> box.lonMax, "nodes" -> boxNodes),
        "way_tag_keys" -> wayTagKeys,
        "ways_and_deps" -> Map(
          "predicate" -> s"tags['$predKey'] = '$predValue' and id between ${predIds._1} and ${predIds._2}",
          "ways" -> predWays, "dep_nodes" -> predDepNodes, "rows" -> waysAndDepsRows)))
  }

  // Zipf-ranked vocabularies. Weights fall as 1/rank^s.
  private val nodeKeys = Vector("natural", "highway", "amenity", "barrier", "power", "name",
    "addr:housenumber", "addr:street", "shop", "entrance", "crossing", "railway",
    "public_transport", "tourism", "leisure", "created_by", "source", "ele", "ref", "emergency")
  private val wayKeys = Vector("highway", "building", "name", "source", "surface", "landuse",
    "waterway", "natural", "oneway", "maxspeed", "lanes", "service", "addr:housenumber",
    "addr:street", "access", "layer", "bridge", "wall", "barrier", "amenity", "leisure",
    "height", "building:levels", "roof:shape", "tracktype", "foot", "bicycle", "lit")
  private val relKeys = Vector("type", "name", "route", "ref", "network", "boundary",
    "admin_level", "operator", "restriction", "public_transport")
  private val highwayValues = Vector("residential", "service", "track", "unclassified",
    "footway", "tertiary", "path", "secondary", "primary", "living_street", "cycleway",
    "steps", "trunk", "motorway", "pedestrian", "road", "bridleway", "construction")
  private val roles = Vector("outer", "", "inner", "stop", "platform", "forward", "backward",
    "from", "to", "via", "admin_centre", "label")
  private val syllables = Vector("ka", "ri", "mo", "len", "st", "ber", "gas", "ho", "nu", "vel",
    "dor", "an", "ti", "sa", "wen", "ul", "mar", "ro", "ze", "pin", "ko", "lu", "fa", "ne")

  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def apply(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      math.min(i, n - 1)
    }
  }
  private val nodeKeyZ = new Zipf(nodeKeys.size, 1.1)
  private val wayKeyZ = new Zipf(wayKeys.size, 0.9)
  private val relKeyZ = new Zipf(relKeys.size, 0.8)
  private val valueZ = new Zipf(400, 1.05)
  private val highwayZ = new Zipf(highwayValues.size, 1.0)
  private val roleZ = new Zipf(roles.size, 1.2)
  private val userZ = new Zipf(200000, 1.05)

  private def word(r: SplittableRandom): String = {
    val n = 2 + r.nextInt(3)
    val sb = new StringBuilder
    (0 until n).foreach(_ => sb ++= syllables(r.nextInt(syllables.size)))
    sb.setCharAt(0, sb.charAt(0).toUpper)
    sb.toString
  }

  private def value(key: String, r: SplittableRandom): String = key match {
    case "name" | "addr:street" | "operator" =>
      if (r.nextInt(3) == 0) s"${word(r)} ${word(r)}" else word(r)
    case "addr:housenumber" | "ref" => (1 + r.nextInt(400)).toString
    case "ele" | "height" | "maxspeed" => (r.nextInt(3000) / (1 + r.nextInt(10))).toString
    case "building" => if (r.nextInt(5) > 0) "yes" else s"v${valueZ(r)}"
    case "highway" => highwayValues(highwayZ(r))
    case _ => s"v${valueZ(r)}"
  }

  private def tags(r: SplittableRandom, n: Int, keys: Vector[String], z: Zipf,
                   first: Option[String] = None): Seq[(String, String)] = {
    val seen = mutable.LinkedHashMap.empty[String, String]
    first.foreach(k => seen(k) = value(k, r))
    var guard = 0
    while (seen.size < n && guard < 4 * n) {
      val k = keys(z(r)); if (!seen.contains(k)) seen(k) = value(k, r); guard += 1
    }
    seen.toSeq
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; one value per call keeps the stream position simple
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Edit runs: consecutive elements often share a changeset, its user and
    * roughly its time. */
  private final class Editor(r: SplittableRandom) {
    private var left = 0
    var changeset = 0L; var uid = 0; var ts = 0L
    def user: String = s"mapper_${Integer.toString(uid, 36)}"
    def next(): Unit = {
      if (left == 0) {
        left = 1 + (-math.log(math.max(r.nextDouble(), 1e-12)) * 25).toInt
        changeset = 1L + r.nextLong(150000000L)
        uid = 1 + userZ(r) * 37 + r.nextInt(37)
        ts = Epoch2007 + r.nextLong(Span18y)
      }
      left -= 1
      ts += r.nextInt(4000)
    }
  }

  private def rng(seed: Long, kind: Int, block: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + kind * 0x632BE59BD9B4E5L + block * 0x85EBCA6BL)

  /** Node ids of block `b`: the block's base plus 1-4 id gaps. */
  private def nodeIds(seed: Long, b: Int): Array[Long] = {
    val r = rng(seed, 1, b)
    var id = 1 + b * NodeIdStride
    Array.fill(NodesPerBlock) { val v = id; id += 1 + (if (r.nextInt(3) == 0) r.nextInt(3) + 1 else 0); v }
  }

  private final case class NodeBlock(payload: Array[Byte], idSum: Long, boxNodes: Long,
                                     tagged: Int, users: Set[Int], changesets: Set[Long])

  /** Area a node block's walk starts in (kept apart from the walk's own
    * stream so the query box can be placed without generating nodes). */
  private def blockOrigin(seed: Long, b: Int): (Long, Long) = {
    val r = rng(seed, 7, b)
    (-550000000L + r.nextLong(1250000000L), -1790000000L + r.nextLong(3580000000L))
  }

  private def nodeBlock(seed: Long, b: Int, box: Box): NodeBlock = {
    val r = rng(seed, 2, b)
    val ids = nodeIds(seed, b)
    var (lat, lon) = blockOrigin(seed, b)
    val ed = new Editor(r)
    var idSum = 0L; var inBox = 0L; var tagged = 0
    val users = mutable.HashSet.empty[Int]; val csets = mutable.HashSet.empty[Long]
    val nodes = ids.map { id =>
      r.nextInt(200) match {
        case 0 => // a new area nearby
          lat += (gauss(r) * 2000000).toLong; lon += (gauss(r) * 2000000).toLong
        case x if x < 40 => // across the street
          lat += (gauss(r) * 3000).toLong; lon += (gauss(r) * 4500).toLong
        case _ => // along a way: a few metres
          lat += (gauss(r) * 250).toLong; lon += (gauss(r) * 380).toLong
      }
      lat = math.max(-899999999L, math.min(899999999L, lat))
      lon = math.max(-1799999999L, math.min(1799999999L, lon))
      ed.next()
      val t = if (r.nextInt(100) < 9) tags(r, 1 + r.nextInt(3), nodeKeys, nodeKeyZ) else Nil
      if (t.nonEmpty) tagged += 1
      idSum += id
      if (box.contains(lat, lon)) inBox += 1
      users += ed.uid; csets += ed.changeset
      DenseNode(id, lat * 100, lon * 100, t,
        version = 1 + (if (r.nextInt(2) == 0) 0 else r.nextInt(1 + r.nextInt(12))),
        timestampMs = ed.ts / 1000 * 1000, changeset = ed.changeset, uid = ed.uid, user = ed.user)
    }.toSeq
    NodeBlock(PbfWriter.primitiveBlock(nodes), idSum, inBox, tagged, users.toSet, csets.toSet)
  }

  private final case class WayBlock(payload: Array[Byte], idSum: Long, keys: Map[String, Long],
                                    tagged: Int, refs: Long, predWays: Long, predRefs: Array[Long])

  private def wayBlock(seed: Long, b: Int, wayBlocks: Int, allNodeIds: Array[Long],
                       pred: (String, String, Long, Long)): WayBlock = {
    val r = rng(seed, 3, b)
    val ed = new Editor(r)
    var id = 1L + b.toLong * WaysPerBlock * 4
    var idSum = 0L; var tagged = 0; var refCount = 0L; var predWays = 0L
    val keys = mutable.HashMap.empty[String, Long]
    val predRefs = mutable.ArrayBuilder.make[Long]
    // ways and the nodes they use are created together: a way block's refs
    // sit in the band of node ids of the same era, a way's refs close by
    val n0 = allNodeIds.length
    val era = ((b + 0.5) / wayBlocks * n0).toInt
    var at = era
    val ways = (0 until WaysPerBlock).map { _ =>
      id += 1 + (if (r.nextInt(4) == 0) r.nextInt(4) else 0)
      ed.next()
      val n = math.max(2, math.min(200, math.exp(1.9 + 0.85 * gauss(r)).toInt))
      if (r.nextInt(25) == 0) at = math.floorMod(era + (gauss(r) * 0.04 * n0).toInt, n0)
      at = math.floorMod(at + (gauss(r) * 400).toInt, allNodeIds.length)
      var i = at
      val refs = Array.fill(n) {
        val v = allNodeIds(i)
        i = math.floorMod(i + (r.nextInt(10) match {
          case 0 => r.nextInt(200) - 100
          case 1 | 2 => r.nextInt(5) - 1
          case _ => 1
        }), allNodeIds.length)
        v
      }
      if (n > 3 && r.nextInt(3) == 0) refs(n - 1) = refs(0) // closed ring
      val t =
        if (r.nextInt(100) < 92) {
          val first = r.nextInt(10) match {
            case x if x < 4 => Some("highway")
            case x if x < 8 => Some("building")
            case _ => None
          }
          tags(r, 1 + r.nextInt(4), wayKeys, wayKeyZ, first)
        } else Nil
      if (t.nonEmpty) tagged += 1
      t.foreach { case (k, _) => keys(k) = keys.getOrElse(k, 0L) + 1 }
      if (id >= pred._3 && id <= pred._4 && t.exists(kv => kv._1 == pred._1 && kv._2 == pred._2)) {
        predWays += 1; predRefs ++= refs
      }
      idSum += id; refCount += n
      WayData(id, refs.toSeq, t)
    }
    WayBlock(PbfWriter.primitiveBlock(Nil, ways), idSum, keys.toMap, tagged, refCount,
      predWays, predRefs.result())
  }

  private def relationBlock(seed: Long, b: Int, nRel: Int, allNodeIds: Array[Long],
                            maxWayId: Long): (Array[Byte], Long) = {
    val r = rng(seed, 4, b)
    var id = 1L + b.toLong * RelationsPerBlock * 2
    var idSum = 0L
    val rels = (0 until nRel).map { _ =>
      id += 1 + r.nextInt(2)
      val n = 2 + math.min(60, (-math.log(math.max(r.nextDouble(), 1e-12)) * 7).toInt)
      val members = (0 until n).map { _ =>
        r.nextInt(20) match {
          case x if x < 5 => (allNodeIds(r.nextInt(allNodeIds.length)), 0, roles(roleZ(r)))
          case 5 => (1L + r.nextLong(math.max(id, 2L)), 2, roles(roleZ(r)))
          case _ => (1L + r.nextLong(maxWayId), 1, roles(roleZ(r)))
        }
      }
      idSum += id
      RelationData(id, members, tags(r, 2 + r.nextInt(4), relKeys, relKeyZ, Some("type")))
    }
    (PbfWriter.primitiveBlock(Nil, relations = rels), idSum)
  }

  /** Writes the corpus for `elements` (rounded to whole blocks) to `path`
    * with up to `threads` generator threads, and returns its truth. */
  def generate(path: String, seed: Long, elements: Long, threads: Int): Truth = {
    val nodeBlocks = math.max(1, math.round(elements * 0.89 / NodesPerBlock).toInt)
    val wayBlocks = math.max(1, math.round(elements * 0.105 / WaysPerBlock).toInt)
    val nRels = math.max(1, math.round(elements * 0.005).toInt)
    val relBlocks = (nRels + RelationsPerBlock - 1) / RelationsPerBlock
    val pool = Executors.newFixedThreadPool(threads)
    def par[T](n: Int)(f: Int => T): IndexedSeq[T] =
      pool.invokeAll((0 until n).map(i => (() => f(i)): Callable[T]).asJava)
        .asScala.map(_.get).toIndexedSeq
    try {
      val pick = rng(seed, 9, 0)
      // query box: ~0.06 x 0.09 degrees around one block's start area
      val (oLat, oLon) = blockOrigin(seed, pick.nextInt(nodeBlocks))
      val box = Box(oLat - 300000, oLat + 300000, oLon - 450000, oLon + 450000)
      // ways-and-deps predicate: a common highway class among ~2000 ways
      // of consecutive ids
      val predValue = highwayValues(pick.nextInt(3))
      val predLo = 1L + pick.nextInt(wayBlocks).toLong * WaysPerBlock * 4 + pick.nextInt(6000)
      val pred = ("highway", predValue, predLo, predLo + 2750)
      val allNodeIds = par(nodeBlocks)(b => nodeIds(seed, b)).flatten.toArray
      val nb = par(nodeBlocks)(b => nodeBlock(seed, b, box))
      val wb = par(wayBlocks)(b => wayBlock(seed, b, wayBlocks, allNodeIds, pred))
      val maxWayId = wayBlocks.toLong * WaysPerBlock * 4
      val rb = par(relBlocks)(b => relationBlock(seed, b,
        math.min(RelationsPerBlock, nRels - b * RelationsPerBlock), allNodeIds, maxWayId))
      PbfWriter.writeFile(path, nb.map(_.payload) ++ wb.map(_.payload) ++ rb.map(_._1))
      val nodes = nodeBlocks.toLong * NodesPerBlock
      val ways = wayBlocks.toLong * WaysPerBlock
      val wayKeys = wb.flatMap(_.keys).groupMapReduce(_._1)(_._2)(_ + _)
      val deps = {
        val all = wb.flatMap(_.predRefs).toArray
        java.util.Arrays.sort(all)
        var d = 0L; var i = 0
        while (i < all.length) { if (i == 0 || all(i) != all(i - 1)) d += 1; i += 1 }
        d
      }
      Truth(nodes, ways, nRels.toLong,
        Map("node" -> nb.map(_.idSum).sum, "way" -> wb.map(_.idSum).sum,
          "relation" -> rb.map(_._2).sum),
        box, nb.map(_.boxNodes).sum, wayKeys, pred._1, pred._2, (pred._3, pred._4),
        wb.map(_.predWays).sum, deps,
        new java.io.File(path).length, nodeBlocks + wayBlocks + relBlocks,
        nb.map(_.tagged).sum.toDouble / nodes, wb.map(_.tagged).sum.toDouble / ways,
        wb.map(_.refs).sum.toDouble / ways,
        nb.iterator.flatMap(_.users).toSet.size,
        nb.iterator.flatMap(_.changesets).toSet.size)
    } finally pool.shutdown()
  }
}
