package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, DialMemo, TextOps}

/** The measure-then-choose dial memo: a second construction of the same
  * operator over the same input must reuse the recorded measurement (no
  * new jobs) and produce IDENTICAL rows; clear() must force a fresh
  * measurement. Results never depend on hit vs miss — only the persist /
  * measurement-job shape does.
  */
class DialMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (3L, "one two three four five six seven eight nine ten"),
    (4L, "one two three four five six seven eight nine ten eleven"),
    (5L, "totally unrelated text with words of its own here now"),
  ).toDF("doc_id", "text")

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("dedupSpans: second construction hits the memo and rows are identical") {
    DialMemo.clear()
    val a = sorted(TextOps.dedupSpans(docs, "text", "doc_id", k = 3))
    assert(DialMemo.size >= 2, "expected duphash + starts dials recorded")
    val sizeAfterFirst = DialMemo.size
    val b = sorted(TextOps.dedupSpans(docs, "text", "doc_id", k = 3))
    assert(DialMemo.size == sizeAfterFirst, "hit must not add new dial entries")
    assert(a == b, "memo hit changed dedupSpans rows")
  }

  test("winnowOverlap: guard volume memoizes; hit plan skips the index persist") {
    DialMemo.clear()
    val a = sorted(TextOps.winnowOverlap(docs, "text", "doc_id", k = 3, w = 2))
    val b = sorted(TextOps.winnowOverlap(docs, "text", "doc_id", k = 3, w = 2))
    assert(a == b, "memo hit changed winnowOverlap rows")
    // different params key separately (w changes the fingerprint plan)
    val before = DialMemo.size
    TextOps.winnowOverlap(docs, "text", "doc_id", k = 3, w = 4)
    assert(DialMemo.size > before, "distinct configs must not share a dial")
  }

  test("winnowOverlap: the guard still fails loudly on a memo hit") {
    DialMemo.clear()
    def run() = TextOps.winnowOverlap(docs, "text", "doc_id", k = 3, w = 2,
      maxCandidatePairs = 1L)
    val e1 = intercept[IllegalArgumentException](run())
    val e2 = intercept[IllegalArgumentException](run()) // memoized volume
    assert(e1.getMessage.contains("candidate pairs"))
    assert(e2.getMessage == e1.getMessage)
  }

  test("paragraphDedup: reassembly dial memoizes and rows are identical") {
    DialMemo.clear()
    val paraDocs = Seq(
      (1L, "shared para\nunique one"),
      (2L, "shared para\nunique two"),
      (3L, "all mine\nreally")).toDF("doc_id", "text")
    val a = sorted(Dedup.paragraphDedup(paraDocs, "text", "doc_id"))
    assert(DialMemo.size >= 1)
    val b = sorted(Dedup.paragraphDedup(paraDocs, "text", "doc_id"))
    assert(a == b, "memo hit changed paragraphDedup rows")
  }

  test("a rewritten input is re-measured; an unchanged one adds no entries") {
    DialMemo.clear()
    val tmp = java.nio.file.Files.createTempDirectory("dial_rewrite").toString
    val path = s"$tmp/documents.parquet"
    def spans() = sorted(TextOps.dedupSpans(
      SparkEntry.t(spark, tmp, "documents"), "text", "doc_id", k = 3))
    def expected(df: org.apache.spark.sql.DataFrame) =
      sorted(TextOps.dedupSpans(df, "text", "doc_id", k = 3))
    docs.coalesce(1).write.parquet(path)
    val first = spans()
    val filled = DialMemo.size
    assert(spans() == first)
    assert(DialMemo.size == filled, "unchanged input must reuse its dials")
    // a Spark overwrite: a sixth document repeats the first one's opening
    val more = docs.union(Seq((6L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"))
    more.coalesce(1).write.mode("overwrite").parquet(path)
    val afterSpark = spans()
    assert(DialMemo.size > filled, "a Spark overwrite must be re-measured")
    assert(afterSpark == expected(more))
    // an outside replacement of the same file name
    val outside = Seq((7L, "one two three four five six seven eight"),
      (8L, "one two three four five six seven eight")).toDF("doc_id", "text")
    outside.coalesce(1).write.parquet(s"$tmp/next.parquet")
    TestdataSpec.replaceOutsideSpark(s"$tmp/next.parquet", path)
    val sized = DialMemo.size
    val afterOutside = spans()
    assert(DialMemo.size > sized, "an outside replacement must be re-measured")
    assert(afterOutside == expected(outside))
  }

  test("clear() forces a fresh measurement") {
    DialMemo.clear()
    sorted(TextOps.dedupSpans(docs, "text", "doc_id", k = 3))
    assert(DialMemo.size > 0)
    DialMemo.clear()
    assert(DialMemo.size == 0)
    val again = sorted(TextOps.dedupSpans(docs, "text", "doc_id", k = 3))
    assert(DialMemo.size > 0 && again.nonEmpty)
  }
}
