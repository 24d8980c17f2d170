package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** What an op's body sees: the live session, the corpus dir it may
  * read (and, on `ingest_search`, write), the benchmark's scratch dir,
  * the tracer, and the reference data the output checks recompute
  * against. */
final class Ctx(val spark: SparkSession, val dir: String, val work: String, val t: Tracer) {
  /** vec_id → embedding, loaded once for the driver-side cosine
    * recompute; ingest ops add the vectors they write. */
  val vectors = scala.collection.mutable.HashMap.empty[Long, Array[Double]]
  /** doc_id → source (dataset), for the scope checks. */
  val docSource = scala.collection.mutable.HashMap.empty[Long, String]

  def loadReference(): Unit = {
    graft.Tables.load(spark, dir, "embeddings").select("vec_id", "embedding").collect()
      .foreach(r => vectors(r.getLong(0)) = r.getSeq[Float](1).map(_.toDouble).toArray)
    graft.Tables.load(spark, dir, "documents").select("doc_id", "source").collect()
      .foreach(r => docSource(r.getLong(0)) = r.getString(1))
  }
}

/** One benchmark operation: a call into graft's public surface that
  * returns a DataFrame (or performs a write and returns None), the
  * collect of all its rows, and the check of those rows.
  *
  *   - `kind` groups ops for per-kind latency (e.g. `search.CHUNKS`);
  *   - `key` names the op with all its parameters: two ops with the
  *     same key must return the same rows (the determinism check);
  *   - `layer` names the span around the public call;
  *   - `visibleOf` marks a verifying read of the write group it names:
  *     its end minus that write's start is one read-your-writes sample. */
final case class Op(kind: String, key: String, layer: String,
    run: Ctx => Option[DataFrame],
    check: (Ctx, Array[Row]) => Seq[String] = (_, _) => Nil,
    write: Boolean = false,
    writeGroup: Option[String] = None,
    visibleOf: Option[String] = None,
    deterministic: Boolean = true)

/** Outcome of one op execution. Times in ms; `collectExecMs` is the
  * part of the collect that Spark jobs cover (traced ops only). */
final case class Rec(op: Op, seq: Int, round: Int, traced: Boolean, ok: Boolean,
    wallMs: Double, callMs: Double, collectMs: Double, collectExecMs: Double, rows: Long,
    phases: Map[String, Double], exec: Option[ExecCounters], inMemScans: Int, allScans: Int)

/** Executes ops one at a time (a single closed-loop client) and keeps
  * every record. */
final class Runner(ctx: Ctx, listener: Option[OpListener]) {
  val recs = ArrayBuffer.empty[Rec]
  private val fingerprints = scala.collection.mutable.HashMap.empty[String, String]
  private val writeStarts = scala.collection.mutable.HashMap.empty[String, Long]
  val visibleMs = ArrayBuffer.empty[Double]
  private var seq = 0

  def exec(op: Op, round: Int, traced: Boolean): Rec = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val id = seq
    seq += 1
    ctx.t.op = id
    if (traced) sc.setJobGroup(s"op-$id", op.key, interruptOnCancel = false)
    val t0 = System.nanoTime()
    op.writeGroup.foreach(g => writeStarts.getOrElseUpdate(g, t0))
    var t1, t2 = t0
    var collectFrom = 0L
    var rows: Array[Row] = Array.empty
    var phases = Map.empty[String, Double]
    var scans = (0, 0)
    var errors: Seq[String] = Nil
    var df: Option[DataFrame] = None
    try {
      ctx.t.span("op:" + op.kind) {
        df = ctx.t.span(op.layer)(op.run(ctx))
        t1 = System.nanoTime()
        if (traced) df.foreach { d =>
          ctx.t.span("catalyst.plan")(d.queryExecution.executedPlan)
        }
        t2 = System.nanoTime()
        collectFrom = System.currentTimeMillis()
        rows = df.map(d => ctx.t.span("exec.collect")(d.collect())).getOrElse(Array.empty)
      }
    } catch {
      case NonFatal(e) => errors = Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val t3 = System.nanoTime()
    val collectTo = System.currentTimeMillis()
    if (traced) {
      sc.clearJobGroup()
      df.foreach { d =>
        phases = d.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
        scans = Plans.scanLeaves(d.queryExecution.executedPlan)
      }
    }
    if (errors.isEmpty) {
      val fp = Fingerprint(rows)
      errors = try op.check(ctx, rows) catch {
        case NonFatal(e) => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      if (op.deterministic && errors.isEmpty) fingerprints.get(op.key) match {
        case Some(prev) if prev != fp => errors = Seq(s"fingerprint $fp differs from earlier $prev")
        case Some(_) => ()
        case None => fingerprints(op.key) = fp
      }
    }
    val ok = errors.isEmpty
    if (ok) op.visibleOf.flatMap(writeStarts.remove).foreach(s => visibleMs += (t3 - s) / 1e6)
    val exec = listener.map { l =>
      org.apache.spark.perfbench.Bus.drain(sc)
      l.counters(s"op-$id")
    }
    if (!ok) System.err.println(s"[perfbench] FAILED ${op.key}: ${errors.mkString("; ")}")
    val r = Rec(op, id, round, traced, ok,
      (t3 - t0) / 1e6, (t1 - t0) / 1e6, (t3 - t2) / 1e6,
      if (traced) exec.fold(0.0)(_.jobUnionMs(collectFrom, collectTo).toDouble) else 0.0, rows.length.toLong,
      phases, exec, scans._1, scans._2)
    recs += r
    r
  }

  /** `op` with every instrument off: no spans, no listener on the bus. */
  def execBare(op: Op, round: Int): Rec = {
    val sc = ctx.spark.sparkContext
    val was = ctx.t.enabled
    ctx.t.enabled = false
    listener.foreach(sc.removeSparkListener)
    try exec(op, round, traced = false)
    finally {
      listener.foreach(sc.addSparkListener)
      ctx.t.enabled = was
    }
  }
}

/** An order-insensitive digest of a result's rows. */
object Fingerprint {
  def apply(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toSeq.map(render).mkString("\u0001")).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8"))
      md.update(0.toByte)
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}=${render(x)}" }.sorted.mkString("{", ",", "}")
    case d: Double => f"$d%.6g"
    case f: Float => f"${f.toDouble}%.6g"
    case x => x.toString
  }
}

/** Scan leaves of an executed plan, for the in-memory reuse ratio. */
object Plans {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  /** (InMemoryTableScan leaves, all scan leaves) of `p`, looking
    * through adaptive wrappers to the plan that actually ran. */
  def scanLeaves(p: SparkPlan): (Int, Int) = p match {
    case a: AdaptiveSparkPlanExec => scanLeaves(a.executedPlan)
    case q: QueryStageExec => scanLeaves(q.plan)
    case _ if p.children.isEmpty =>
      val n = p.nodeName
      if (n.startsWith("InMemoryTableScan")) (1, 1)
      else if (n.contains("Scan")) (0, 1)
      else (0, 0)
    case _ =>
      val subs = p.children ++ p.subqueries
      subs.map(scanLeaves).foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}
