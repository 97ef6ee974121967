package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

/** Memo for values derived from an input frame: the measure-then-choose
  * DIAL measurements (round-14 verdict ask: "share/batch the measurement
  * actions, and cache solved dials per (session, rung)") and SparkEntry's
  * corpus-derived values (corpus counts, trained quantizers and models,
  * written fixture stores). The measure-then-choose operators pay one or
  * two eager aggregation jobs at plan-construction time to learn a size
  * (winnowOverlap's candidate volume, dedupSpans' dup-hash/dup-position
  * payloads, the paragraph reassembly's changed-set payload) before
  * choosing a join strategy or enforcing a guard. Those measurements are
  * pure functions of (input plan, input files, operator parameters):
  * re-constructing the same operator over the same input — a bench rep,
  * the prepare/e2e chains deriving the same stage twice, an interactive
  * session iterating on a downstream step — re-paid full corpus passes to
  * re-learn a number that cannot have changed.
  *
  * What this memoizes: session-independent values only — sizes, model
  * parameters, store paths — never a DataFrame, a session or query
  * results. A memo hit produces a plan that computes every byte of the
  * result from the parquet inputs exactly as a miss does; only the
  * construction-time measurement jobs (and the scratch persists that
  * existed solely to serve them) are skipped, and the operator's strategy
  * choice / guard verdict is reproduced from the recorded size. Guards
  * still fail loudly on a hit (same exception, same message path) because
  * the recorded volume is the same number the measurement would return.
  *
  * Staleness contract — the key is the input, not a promise about it:
  * the analyzed plan's semanticHash, its output column names, the
  * operator's parameters, and [[inputFingerprint]] of every file-backed
  * leaf (path, length and modification time of each listed file). A frame
  * built over a rewritten directory — by Spark or by anything else — lists
  * different files or lengths or mtimes and keys a fresh entry, so a value
  * is reused only while its input is unchanged; no caller has to clear
  * anything. [[clear]] exists for benchmarks that price the first
  * construction (SparkEntry.clearTableMemo). A (vanishingly unlikely)
  * hash collision can only swap one memoized value for another, which can
  * change a broadcast-vs-merge choice or a guard verdict — never an
  * operator's output rows.
  */
private[graft] object DialMemo {
  private val memo = new ConcurrentHashMap[String, Any]()

  /** Fingerprint of the files a frame reads: per file-backed leaf of its
    * analyzed plan, every listed file's path, length and modification
    * time, as the leaf's own file index listed them when the frame was
    * built (no listing runs here). Frames without file-backed leaves
    * fingerprint as empty.
    */
  def inputFingerprint(df: DataFrame): String =
    df.queryExecution.analyzed.collectWithSubqueries {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location match {
        case idx: PartitioningAwareFileIndex =>
          val files = idx.allFiles().map(f =>
            (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
          s"${files.length}:${scala.util.hashing.MurmurHash3.seqHash(files)}"
        case idx => s"${idx.inputFiles.sorted.mkString(",")}:${idx.sizeInBytes}"
      }
    }.mkString(";")

  /** Stable key for (input frame, operator, params). semanticHash is
    * computed on the ANALYZED plan (no job runs) and survives alias /
    * attribute-id differences between re-constructions of the same query.
    */
  private def keyOf(df: DataFrame, tag: String, params: Seq[Any]): String = {
    val plan = df.queryExecution.analyzed
    s"$tag:${plan.semanticHash()}:${plan.schema.map(_.name).mkString(",")}:" +
      s"${params.mkString(",")}:${inputFingerprint(df)}"
  }

  /** The value for (df, tag, params), running `compute` once per distinct
    * key. `compute` must be a deterministic function of the frame's
    * contents; its result must not hold a DataFrame or a session.
    */
  def apply[T](df: DataFrame, tag: String, params: Seq[Any])(compute: => T): T = {
    val k = keyOf(df, tag, params)
    val hit = memo.get(k)
    if (hit != null) hit.asInstanceOf[T]
    else {
      // deliberate compute-then-put (not computeIfAbsent): `compute` runs
      // Spark jobs, and holding the map's bin lock across a job invites
      // deadlock with listener threads touching the memo
      val v = compute
      val raced = memo.putIfAbsent(k, v)
      if (raced != null) raced.asInstanceOf[T] else v
    }
  }

  /** Whether the key is already solved (test hook). */
  private[graft] def solved(df: DataFrame, tag: String, params: Seq[Any]): Boolean =
    memo.containsKey(keyOf(df, tag, params))

  /** Drop every memoized value, so the next construction measures again. */
  def clear(): Unit = memo.clear()

  private[graft] def size: Int = memo.size()
}
