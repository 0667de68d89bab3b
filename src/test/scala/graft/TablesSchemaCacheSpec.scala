package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.cached`'s schema cache: a part file rewritten in place (same
  * name, the dir's own mtime unchanged) must not be read with the old
  * schema, and rewrites must not pile up entries for one path.
  */
class TablesSchemaCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("tables-schema-cache-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Write `df` as a one-part-file parquet table at `table` (created on
    * first use); on later calls the new part file REPLACES the existing
    * one under its old name. The dir's mtime is then set to `dirMtime`,
    * and checksum sidecars are removed so the swapped bytes read clean. */
  private def writeInPlace(df: DataFrame, table: Path, dirMtime: Long): Unit = {
    val side = Files.createTempDirectory("cachespec-side")
    df.coalesce(1).write.mode("overwrite").parquet(side.toString)
    def parts(d: Path) = d.toFile.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val fresh = parts(side).head.toPath
    Files.createDirectories(table)
    val target = parts(table).headOption.map(_.toPath)
      .getOrElse(table.resolve(fresh.getFileName))
    Files.copy(fresh, target, StandardCopyOption.REPLACE_EXISTING)
    table.toFile.listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
    Files.setLastModifiedTime(table, FileTime.fromMillis(dirMtime))
  }

  private def cachedFields(table: Path): Seq[String] =
    Tables.cached(spark, table.toString).schema.fieldNames.toSeq

  test("a part file rewritten in place with a new schema is not served stale") {
    val sp = spark; import sp.implicits._
    val table = Files.createTempDirectory("cachespec").resolve("t.parquet")
    val mtime = System.currentTimeMillis() - 60000L
    writeInPlace(Seq((1L, 2L)).toDF("a", "b"), table, mtime)
    assert(cachedFields(table) === Seq("a", "b"))
    val part = table.toFile.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSeq
    // same part-file name, same dir mtime, different content and schema
    writeInPlace(Seq(("x", 3, 4.0)).toDF("c", "d", "e"), table, mtime)
    assert(table.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.getName).toSeq === part)
    assert(Files.getLastModifiedTime(table).toMillis === mtime)
    assert(cachedFields(table) === Seq("c", "d", "e"))
    assert(Tables.cached(spark, table.toString).collect().map(_.getString(0)).toSeq === Seq("x"))
  }

  test("rewrites replace the path's cache entry instead of adding one each") {
    val sp = spark; import sp.implicits._
    val table = Files.createTempDirectory("cachespec").resolve("t.parquet")
    val mtime0 = System.currentTimeMillis() - 60000L
    (1 to 5).foreach { i =>
      writeInPlace(Seq(i.toLong).toDF(s"c$i"), table, mtime0 + i * 1000L)
      assert(cachedFields(table) === Seq(s"c$i"))
    }
    assert(Tables.schemaCachePaths.count(_.startsWith(table.toString)) === 1)
  }
}
