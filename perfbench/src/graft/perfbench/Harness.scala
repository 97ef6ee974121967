package graft.perfbench

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Compiler, SparkEntry}
import graft.lexer.Lexer
import graft.ops.DialMemo
import graft.parser.Parser
import graft.planner.Planner
import graft.schema.Schema
import graft.semantic.Semantic

/** JVM side of the repository benchmark; `perfbench/run.py` builds it, picks
  * the inputs from the seed and calls it once per run:
  *
  * {{{
  * Harness --workload <compile|dialect|operators_warm|operators_cold>
  *         --seconds <window> --trace <0|1> --out <dir> --rows <file>
  *         [--data <sf dir>]
  * }}}
  *
  * `--rows` lists the requests of one round-robin pass in order: query
  * names for the Spark workloads, `id<TAB>extensions<TAB>schema<TAB>sql`
  * lines for `compile`. One client thread sends them closed-loop (the next
  * request starts when the previous one returns) until the window closes.
  * A traced run sends every request twice back to back, once traced and
  * once not, alternating which goes first; the pairs give the tracing
  * overhead.
  *
  * Output, all under `--out`: `requests.bin` (per timed request: row index,
  * flags, latency), `result.json` (clocks, CPU, GC, heap, warmup passes,
  * compile output schemas or Spark row errors), `oracle_sql.json` and one
  * parquet directory per Spark row under `check/` for the output check, and
  * with `--trace 1` the span records in `trace.jsonl`.
  */
object Harness {

  private final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
  }

  /** Warmup and window of the Spark workloads, in round-robin passes over
    * their rows: after the output-check pass, noop passes until one's total
    * is within 5 % of the previous one's, at least `noopMin` and at most
    * `noopMax` of them; then a window of whole passes until the run's
    * seconds have passed, long enough to time every row `timedMin` times.
    */
  private final case class SparkPolicy(noopMin: Int, noopMax: Int, timedMin: Int) {
    require(noopMin == noopMax || noopMin >= 2, "the 5 % test compares two noop passes")
  }
  private val sparkPolicy = Map(
    "dialect" -> SparkPolicy(noopMin = 2, noopMax = 4, timedMin = 1),
    "operators_warm" -> SparkPolicy(noopMin = 0, noopMax = 0, timedMin = 2),
    "operators_cold" -> SparkPolicy(noopMin = 0, noopMax = 0, timedMin = 2))

  /** `compile` warms up with this many round-robin passes (20,000 compiles
    * over its 40 queries), then times at least one pass.
    */
  private val compileWarmPasses = 500

  /** Timed requests, in the order they ran. */
  private final class Log(path: String) {
    private val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    def add(row: Int, ok: Boolean, traced: Boolean, seconds: Double): Unit = {
      out.writeInt(row)
      out.writeInt((if (ok) 1 else 0) | (if (traced) 2 else 0))
      out.writeDouble(seconds)
    }
    def close(): Unit = out.close()
  }

  private final case class Window(startNs: Long, endNs: Long, cpuNs: Long, gcMs: Long)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Run the closed loop in whole round-robin passes of `n` requests, at
    * least `minPasses` of them, until `seconds` have passed since it
    * started, so every row weighs the same. `request(i)` runs row `i % n`.
    */
  private def window(seconds: Double, n: Int, minPasses: Int)(request: Long => Unit): Window = {
    val cpu0 = os.getProcessCpuTime
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0L
    val minRequests = minPasses.toLong * n
    while (i % n != 0 || i < minRequests || System.nanoTime() < deadline) { request(i); i += 1 }
    val t1 = System.nanoTime()
    Window(t0, t1, os.getProcessCpuTime - cpu0, gcMs() - gc0)
  }

  /** Live heap after full collections. Spark's ContextCleaner drops the
    * blocks of collected broadcasts and shuffles asynchronously, so collect,
    * give it a second, and collect again.
    */
  private def liveHeapBytes(): Long = {
    System.gc()
    Thread.sleep(1000)
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val out = a("out")
    Files.createDirectories(Paths.get(out))
    val res = a("workload") match {
      case "compile" => runCompile(a, out)
      case w => runSpark(a, out, sparkPolicy.getOrElse(w, sys.error(s"unknown workload $w")),
          cold = w == "operators_cold")
    }
    Files.writeString(Paths.get(out, "result.json"), Json.obj(res))
  }

  // ---- compile: Compiler.compileJson round-robin, no Spark session ----

  private final case class CompileRow(id: String, extensions: Boolean, schema: String, sql: String)

  /** One compile request. Parity SQL goes through the reference-shaped
    * `compileJson`; SQL that needs the dialect extensions (DISTINCT, `*`,
    * `<=`, arithmetic) decodes the same JSON schema and calls `compile`
    * with extensions on, as `SparkEntry`'s extension rows do.
    */
  private def compileOnce(r: CompileRow): Either[String, Compiler.Compiled] =
    if (!r.extensions) Compiler.compileJson(r.schema, r.sql)
    else Schema.fromString(r.schema).flatMap(Compiler.compile(_, r.sql, extensions = true))

  /** The same work as [[compileOnce]], one call per front-end layer, with a
    * timestamp after each: schema, lexer, parser, semantic (analyze and
    * expandStars), planner. Returns the six timestamps and the token count.
    */
  private def compileTraced(r: CompileRow, ts: Array[Long]): Int = {
    ts(0) = System.nanoTime()
    val schema = Schema.fromString(r.schema)
    ts(1) = System.nanoTime()
    val tokens = Lexer.tokenize(r.sql, r.extensions)
    ts(2) = System.nanoTime()
    val ast = tokens.flatMap(Parser.statement(_, r.extensions)).map(_._1)
    ts(3) = System.nanoTime()
    val sem = for {
      s <- schema; st <- ast
      _ <- Semantic.analyze(s, st)
      x <- Semantic.expandStars(s, st)
    } yield x
    ts(4) = System.nanoTime()
    val plan = sem.flatMap(Planner.plan)
    ts(5) = System.nanoTime()
    if (plan.isLeft) -1 else tokens.map(_.length).getOrElse(-1)
  }

  private def runCompile(a: Args, out: String): Map[String, Any] = {
    val rows = Files.readAllLines(Paths.get(a("rows"))).asScala.toVector
      .filter(_.nonEmpty).map { l =>
        val Array(id, ext, schema, sql) = l.split("\t", 4)
        CompileRow(id, ext == "1", schema, sql)
      }
    // output schemas are checked once, outside the timed window
    val schemas = rows.map { r =>
      r.id -> compileOnce(r).fold(e => s"ERROR: $e", _.outputSchema.show)
    }.toMap
    (1 to compileWarmPasses).foreach(_ => rows.foreach(compileOnce))
    val firstTimed = System.currentTimeMillis()
    val log = new Log(s"$out/requests.bin")
    val traced = a("trace") == "1"
    // traced requests keep their layer timestamps here (6 longs + tokens)
    var trace = new Array[Long](1 << 16)
    var used = 0
    val ts = new Array[Long](6)
    val n = rows.length
    def timed(k: Int, tr: Boolean): Unit = {
      val t0 = System.nanoTime()
      val ok =
        if (tr) {
          val tokens = compileTraced(rows(k), ts)
          if (used + 7 > trace.length) trace = java.util.Arrays.copyOf(trace, trace.length * 2)
          System.arraycopy(ts, 0, trace, used, 6)
          trace(used + 6) = tokens
          used += 7
          tokens >= 0
        } else compileOnce(rows(k)).isRight
      log.add(k, ok, tr, (System.nanoTime() - t0) / 1e9)
    }
    val w = window(a("seconds").toDouble, n, 1) { i =>
      val k = (i % n).toInt
      if (!traced) timed(k, tr = false)
      else { val first = tracedFirst(i, n); timed(k, first); timed(k, !first) }
    }
    log.close()
    if (traced) {
      val o = new DataOutputStream(new BufferedOutputStream(
        new FileOutputStream(s"$out/compile_trace.bin")))
      try (0 until used).foreach(j => o.writeLong(trace(j))) finally o.close()
    }
    Map(
      "first_timed_ms" -> firstTimed,
      "window_s" -> (w.endNs - w.startNs) / 1e9,
      "cpu_s" -> w.cpuNs / 1e9,
      "gc_s" -> w.gcMs / 1e3,
      "heap_live_end_bytes" -> liveHeapBytes(),
      "rows" -> rows.map(_.id),
      "output_schemas" -> schemas,
    )
  }

  // ---- Spark workloads: SparkEntry.queries rows in one long-lived session ----

  /** Forces every column of every row (Bench's evaluation action). */
  private def evaluate(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** A traced run's pair for request `i`: traced first on alternate rows,
    * swapped from one pass to the next, so the order cancels out per row.
    */
  private def tracedFirst(i: Long, n: Int): Boolean = (i / n + i % n) % 2 == 0

  private def runSpark(a: Args, out: String, policy: SparkPolicy,
      cold: Boolean): Map[String, Any] = {
    val data = a("data")
    val rows = Files.readAllLines(Paths.get(a("rows"))).asScala.toVector.filter(_.nonEmpty)
    val spark = SparkEntry.session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val cores = spark.sparkContext.defaultParallelism
    val queries = SparkEntry.queries
    val fns = rows.map(queries)
    val tracer = if (a("trace") == "1") Some(new Tracer(spark)) else None
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // Pass 0 writes every row's result for the output check, then the noop
    // passes of `policy`. operators_cold clears the memos before every
    // request, warmup included, so the JVM warms up on the path it is
    // timed on.
    val passSeconds = ArrayBuffer.empty[Double]
    def pass(check: Boolean): Unit = {
      val t0 = System.nanoTime()
      rows.indices.foreach { k =>
        if (cold) SparkEntry.clearTableMemo()
        try {
          val df = fns(k)(spark, data)
          if (check) df.write.mode("overwrite").parquet(s"$out/check/${rows(k)}")
          else evaluate(df)
        } catch {
          case e: Throwable =>
            errors.getOrElseUpdate(rows(k), s"${e.getClass.getName}: ${e.getMessage}")
        }
      }
      passSeconds += (System.nanoTime() - t0) / 1e9
    }
    pass(check = true)
    def steady: Boolean = {
      val p = passSeconds.length - 1 // noop passes so far
      p == policy.noopMax || (p >= policy.noopMin && math.abs(
        passSeconds.last - passSeconds(p - 1)) <= 0.05 * passSeconds(p - 1))
    }
    while (!steady) pass(check = false)
    val oracle = SparkEntry.oracleSqlFor(spark, data).filter { case (k, _) => rows.contains(k) }
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json.obj(oracle))

    val firstTimed = System.currentTimeMillis()
    val log = new Log(s"$out/requests.bin")
    val n = rows.length
    // a traced pass times every row twice, once each way
    val perPass = if (tracer.isDefined) 2 else 1
    val passes = (policy.timedMin + perPass - 1) / perPass
    def timed(i: Long, k: Int, traced: Boolean): Unit = {
      if (cold) SparkEntry.clearTableMemo()
      val t0 = System.nanoTime()
      if (traced) {
        val memo0 = DialMemo.size
        val ok = tracedRequest(tracer.get, spark, i, rows(k), fns(k), data)
        log.add(k, ok, traced, (System.nanoTime() - t0) / 1e9)
        afterTraced(tracer.get, spark, i, DialMemo.size - memo0)
      } else {
        val ok = try { evaluate(fns(k)(spark, data)); true } catch { case _: Throwable => false }
        log.add(k, ok, traced, (System.nanoTime() - t0) / 1e9)
      }
    }
    val w = window(a("seconds").toDouble, n, passes) { i =>
      val k = (i % n).toInt
      if (tracer.isEmpty) timed(i, k, traced = false)
      else { val first = tracedFirst(i, n); timed(i, k, first); timed(i, k, !first) }
    }
    log.close()
    val heap = liveHeapBytes()
    tracer.foreach(_.write(s"$out/trace.jsonl"))
    spark.stop()
    Map(
      "first_timed_ms" -> firstTimed,
      "window_s" -> (w.endNs - w.startNs) / 1e9,
      "cpu_s" -> w.cpuNs / 1e9,
      "gc_s" -> w.gcMs / 1e3,
      "heap_live_end_bytes" -> heap,
      "rows" -> rows,
      "errors" -> errors.toMap,
      "warmup_pass_s" -> passSeconds.toSeq,
      "cores" -> cores,
    )
  }

  /** request → construct → job, request → execute → job → stage. */
  private def tracedRequest(tr: Tracer, spark: SparkSession, id: Long, row: String,
      fn: (SparkSession, String) => DataFrame, data: String): Boolean = {
    val req = tr.begin("request", null, id, row, owner = false)
    try {
      val c = tr.begin("construct", req, id, row, owner = true)
      val df = try fn(spark, data) finally tr.end(c)
      tr.frame(df)
      val e = tr.begin("execute", req, id, row, owner = true)
      try evaluate(df) finally tr.end(e)
      true
    } catch { case _: Throwable => false }
    finally { tr.release(); tr.end(req) }
  }

  /** Counters read once the request's events are delivered: memo misses
    * (growth of DialMemo) and scratch still cached after the action.
    */
  private def afterTraced(tr: Tracer, spark: SparkSession, id: Long, memoGrowth: Int): Unit = {
    tr.drain()
    val sc = spark.sparkContext
    val cached = sc.getRDDStorageInfo
    tr.gauge(id,
      "dialmemo_growth" -> memoGrowth.toLong,
      "cached_rdds" -> sc.getPersistentRDDs.size.toLong,
      "cached_bytes" -> cached.map(r => r.memSize + r.diskSize).sum)
  }
}
