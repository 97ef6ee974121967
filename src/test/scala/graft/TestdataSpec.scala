package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types.TimestampType

/** Guard against testdata regeneration drift. Round 5 lost 9 driver
  * queries because the driver regenerated `/root/testdata` with
  * `events.ts` as `timestamp[us]` where the previous generation stored
  * nanosecond int64 — the load helper assumed one physical form and every
  * events-family query failed analysis. This spec loads every table the
  * driver generates through the *same helpers SparkEntry uses*, so any
  * future schema drift fails `sbt test` instead of silently dropping
  * driver rows.
  */
class TestdataSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private val dir = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("every testdata table loads and analyzes through the driver helpers") {
    for (name <- tables) {
      val df =
        if (name == "events") SparkEntry.events(spark, dir)
        else SparkEntry.t(spark, dir, name)
      // force analysis + one real row so a physical-read incompatibility
      // (not just a footer mismatch) also surfaces
      assert(df.queryExecution.analyzed != null, s"$name failed analysis")
      assert(df.limit(1).count() == 1L, s"$name is empty or unreadable")
    }
  }

  test("events ts normalizes to TimestampType under either physical form") {
    val df = SparkEntry.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    // and the normalized column is actually usable in a window expression
    // (the exact shape that broke in round 5)
    val n = df
      .groupBy(org.apache.spark.sql.functions.window(df("ts"), "1 hour"))
      .count()
      .count()
    assert(n > 0)
  }

  test("t() sees a Spark overwrite and an outside file rewrite without clearTableMemo") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("memo_fresh").toString
    val gen = s"$tmp/gen.parquet"
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(gen)
    assert(SparkEntry.t(spark, tmp, "gen").count() == 1L)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(gen)
    assert(SparkEntry.t(spark, tmp, "gen").count() == 3L, "missed a Spark overwrite")
    // same file name, new bytes, one more column: the listing's length and
    // mtime change, so the schema is re-inferred as well
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0), (5L, "e", 5.0))
      .toDF("id", "v", "w").coalesce(1).write.parquet(s"$tmp/next.parquet")
    TestdataSpec.replaceOutsideSpark(s"$tmp/next.parquet", gen)
    val replaced = SparkEntry.t(spark, tmp, "gen")
    assert(replaced.count() == 5L, "missed an outside file replacement")
    assert(replaced.columns.toSeq == Seq("id", "v", "w"))
  }
}

object TestdataSpec {

  /** Overwrite the single data file of parquet directory `dst` in place
    * with the bytes of `src`'s, as a tool outside Spark would: same file
    * name, no checksum sidecar.
    */
  def replaceOutsideSpark(src: String, dst: String): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    def part(dir: String) =
      new java.io.File(dir).listFiles().toSeq.filter(_.getName.startsWith("part-")) match {
        case Seq(f) => f.toPath
        case fs => throw new IllegalStateException(s"$dir: expected one data file, got $fs")
      }
    val target = part(dst)
    Files.copy(part(src), target, StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
  }
}
