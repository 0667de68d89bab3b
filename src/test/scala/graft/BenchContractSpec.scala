package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pure parts of `graft.Bench`'s stdout contract: which solo rep is
  * "best" (its time and its steal reading come from the SAME rep), when
  * an entry is flagged `never_clean`, and the length guard on the final
  * parsed line.
  */
class BenchContractSpec extends AnyFunSuite {
  import Bench.{SoloRep, bestRep, neverClean, parsedLine, ParsedLineMaxChars}

  test("best rep pairs time and steal from one rep") {
    // two reps tie on time; only the second ran in a clean window — an
    // index lookup by time value would read the first rep's 9% steal
    val reps = Seq(SoloRep(1.5, 9.0, 3.0), SoloRep(1.5, 0.5, 2.0),
      SoloRep(-1.0, 0.0, 0.0), SoloRep(2.0, 0.0, 1.0))
    assert(bestRep(reps) === Some(SoloRep(1.5, 0.5, 2.0)))
    assert(bestRep(Seq(SoloRep(-1.0, 0.0, 0.0))) === None)
    assert(bestRep(Seq(SoloRep(3.0, 7.0, 1.0), SoloRep(2.0, 6.0, 1.0))) ===
      Some(SoloRep(2.0, 6.0, 1.0)))
  }

  test("never_clean: rep cap spent with the best rep still above 5% steal") {
    val dirty = Seq.fill(Bench.SoloMaxReps)(SoloRep(1.0, 6.0, 1.0))
    assert(neverClean(dirty))
    // the cap is spent but the best rep is clean
    assert(!neverClean(dirty.updated(2, SoloRep(0.9, 5.0, 1.0))))
    // a dirty best rep with retries left is not flagged yet
    assert(!neverClean(dirty.take(Bench.SoloMaxReps - 1)))
    // a slower clean rep does not clean the fastest, dirty one
    assert(neverClean(dirty.updated(2, SoloRep(4.0, 0.0, 1.0))))
  }

  test("parsed line drops sysmed/sysmax first, then warns, past the cap") {
    // sub-second entries: the later degrade step (1 decimal from 1 s up)
    // cannot shorten them, so past the drift drop nothing is left to cut
    def times(n: Int, sec: Double = 0.1234) =
      (1 to n).map(i => f"q$i%03d_entry" -> sec).toMap
    val warnings = scala.collection.mutable.Buffer.empty[String]
    val sys = Seq(1.5, 2.5, 40.0)

    val short = parsedLine(12.3456, times(3, 1.234), "/sf", sys, warnings += _)
    assert(short ===
      """{"metric":"total","value":12.346,"unit":"sec",""" +
      """"queries":{"q001":1.23,"q002":1.23,"q003":1.23},"sf":"/sf",""" +
      """"sysmed":2.5,"sysmax":40.0}""")
    assert(warnings.isEmpty)

    // each query adds 12 chars ("q001":0.12,); pick n so the drift keys
    // push the line just past the cap but the lean line still fits
    val lean0 = parsedLine(12.3456, times(3), "/sf", Nil, warnings += _).length
    val n = 3 + (ParsedLineMaxChars - lean0) / 12
    val dropped = parsedLine(12.3456, times(n), "/sf", sys, warnings += _)
    assert(dropped.length <= ParsedLineMaxChars)
    assert(!dropped.contains("sysmed") && !dropped.contains("sysmax"))
    assert(dropped.endsWith(""","sf":"/sf"}"""))
    assert(warnings.isEmpty)

    val over = parsedLine(12.3456, times(n + 1), "/sf", sys, warnings += _)
    assert(over.length > ParsedLineMaxChars)
    assert(!over.contains("sysmed"))
    assert(warnings.size === 1 && warnings.head.contains(s"${over.length} chars"))
  }

  test("the committed r20 166-entry map fits the cap with no warning") {
    import scala.jdk.CollectionConverters._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val r20 = om.readTree(new java.io.File("BENCH_r20.json")).path("parsed")
    val times = r20.path("queries").properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap
    assert(times.size === 166)
    val warnings = scala.collection.mutable.Buffer.empty[String]
    val sys = Seq(r20.path("sysmed").asDouble, r20.path("sysmax").asDouble)
    val line = parsedLine(r20.path("value").asDouble, times, r20.path("sf").asText,
      sys, warnings += _)
    assert(line.length <= ParsedLineMaxChars)
    assert(warnings.isEmpty)
    val back = om.readTree(line) // throws unless valid JSON
    assert(back.properties().asScala.map(_.getKey).toSet ===
      Set("metric", "value", "unit", "queries", "sf"))
    val got = back.path("queries").properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap
    assert(got.keySet === times.keySet)
    times.foreach { case (k, v) => assert(math.abs(got(k) - v) <= 0.05 + 1e-9, k) }
    // the lossless trim alone leaves the r20 line over the cap: the
    // 1-decimal step is what brings it under
    assert(got.exists { case (k, v) => v != times(k) })
  }
}
