package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** A workload's seeded op sequence. `warmup` runs once, untimed, as
  * the last step of set-up (one op of every kind); `round(i)` is the
  * i-th round of the timed phase. */
trait WorkloadPlan {
  def warmup: Seq[Op]
  def round(i: Int): Seq[Op]
  /** Work a workload does in set-up before its warm-up (e.g. creating
    * the vector collection); counted in setup_s. */
  def prepare(ctx: Ctx): Unit = ()
  /** Workload-specific measurements taken after each round. */
  def afterRound(ctx: Ctx): Map[String, Double] = Map.empty
  /** Workload-specific measurements over the run's records. */
  def finish(ctx: Ctx, recs: Seq[Rec]): Map[String, Double] = Map.empty
  /** Parquet table sets whose freshness stamps this workload's ops check. */
  def stampSets: Seq[Seq[String]] = Seq(graft.graph.SessionDirCache.graphTables)
}

trait Workload {
  def name: String
  def plan(seed: Long, ctx: Ctx): WorkloadPlan
}

/** One benchmark run in this JVM: set-up, warm-up, the timed phase,
  * then one JSON line of metrics on stdout (the last line).
  *
  * Args: --workload NAME --seed N --seconds S --trace 0|1
  *       --data DIR (the corpus; written only by ingest_search)
  *       --work DIR (scratch) --spans FILE (traced runs) */
object Main {
  val workloads: Seq[Workload] = Seq(SearchMix, IngestSearch)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads.find(_.name == a("workload")).getOrElse(
      sys.error(s"unknown workload ${a("workload")}; known: ${workloads.map(_.name).mkString(", ")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0Nanos = System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val tracer = new Tracer(trace, t0Nanos)
    def sinceStart: Double = (System.nanoTime() - t0Nanos) / 1e9

    // ---- set-up: fresh JVM → GraftSession.local → attach → warm-up
    val spark = tracer.span("GraftSession.local")(graft.GraftSession.local("perfbench"))
    val localS = sinceStart
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (trace) Some(new OpListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val attachT0 = System.nanoTime()
    tracer.span("GraftSession.attach")(graft.GraftSession.attach(spark, a("data")))
    val attachS = (System.nanoTime() - attachT0) / 1e9
    val ctx = new Ctx(spark, a("data"), a("work"), tracer)
    val refT0 = System.nanoTime()
    ctx.loadReference() // the checks' reference data: not part of set-up
    val refS = (System.nanoTime() - refT0) / 1e9
    val plan = wl.plan(seed, ctx)
    plan.prepare(ctx)
    val runner = new Runner(ctx, listener)
    var firstResultS = Double.NaN
    val warm = plan.warmup.map { op =>
      val r = runner.exec(op, 0, traced = false)
      if (firstResultS.isNaN && r.rows > 0) firstResultS = sinceStart - refS
      r
    }
    val setupS = sinceStart - refS

    // ---- timed phase: the whole rounds that fit in `seconds` (at least
    // one; whole rounds keep every run's op mix the same). A traced run
    // traces every round. For the tracing overhead on identical work it
    // then re-runs the first read of each kind in round 1 three times: a
    // discarded repeat (an immediate repeat of a read runs 20–40 % faster
    // than the read before it, more than tracing costs), then one bare
    // run (no spans, no listener) and one traced run, in alternating
    // order. One read per kind keeps the traced run well inside its
    // time limit.
    val countsRound = 1
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Rec, Rec)]
    val gcBefore = gcMs()
    val timedT0 = System.nanoTime()
    val stampMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val afterRound = scala.collection.mutable.HashMap.empty[Int, Map[String, Double]]
    var round = 1
    def elapsed = (System.nanoTime() - timedT0) / 1e9
    var lastRoundS = 0.0
    while (round == 1 || elapsed + lastRoundS <= seconds) {
      val roundT0 = elapsed
      val ops = plan.round(round)
      ops.foreach(runner.exec(_, round, traced = trace))
      afterRound(round) = plan.afterRound(ctx)
      lastRoundS = elapsed - roundT0
      if (trace && round == countsRound) ops.filterNot(_.write).distinctBy(_.kind).zipWithIndex.foreach { case (op, i) =>
        def bare() = runner.execBare(op, Main.OverheadRound)
        def traced() = runner.exec(op, Main.OverheadRound, traced = true)
        bare()
        pairs += (if (i % 2 == 0) { val b = bare(); (b, traced()) } else { val t = traced(); (bare(), t) })
      }
      round += 1
    }
    val timedS = elapsed
    val gcTimed = gcMs() - gcBefore
    // stamp cost, probed outside op timing
    if (trace) plan.stampSets.foreach { s =>
      for (_ <- 1 to 5) {
        val t = System.nanoTime()
        graft.graph.SessionDirCache.parquetStamp(s)(spark, ctx.dir)
        stampMs += (System.nanoTime() - t) / 1e6
      }
    }
    val storage = Storage.settled(spark)
    // count-like layer values come from one fixed round, so they repeat
    val extra = plan.finish(ctx, runner.recs.toSeq) ++ afterRound.getOrElse(countsRound, Map.empty)

    val report = new Report(runner, warm, timedS)
    val e2e = report.endToEnd(setupS, storage)
    val layers = if (!trace) Map.empty[String, (Double, String)] else report.perLayer(
      localS, attachS, firstResultS, stampMs.toSeq, storage, gcTimed,
      listener.get.blocksDropped, runner.visibleMs.toSeq,
      extra, tracer, spark.sparkContext.defaultParallelism, countsRound, pairs.toSeq)
    if (trace) {
      a.get("spans").foreach(tracer.writeJsonl)
      val unexplained = runner.recs.toSeq
        .filter(r => r.round > 0 && r.traced && r.ok && r.phases.nonEmpty).map(Report.unexplainedMs)
      if (unexplained.nonEmpty) println("[perfbench] sum check: " + Json.obj(Seq(
        "tolerance" -> s"max(${Report.SumTolMs} ms, ${Report.SumTolShare} x wall)",
        "unexplained_p50_ms" -> Stats.median(unexplained),
        "unexplained_p90_ms" -> Stats.quantile(unexplained, 0.9),
        "unexplained_max_ms" -> unexplained.max)))
      println("[perfbench] self time per layer (ms): " + Json.obj(
        tracer.selfTimes.toSeq.sortBy(-_._2).map { case (k, v) => k -> BigDecimal(v).setScale(1,
          BigDecimal.RoundingMode.HALF_UP).toDouble }))
    }
    println("[perfbench] posture: " + Json.obj(Seq(
      "workload" -> wl.name, "seed" -> seed, "cores" -> spark.sparkContext.defaultParallelism,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "storage_capacity_mb" -> storage.capacityMb, "cache_mb" -> storage.usedMb,
      "data" -> a("data"), "rounds" -> (round - 1), "timed_s" -> timedS,
      "spark" -> spark.version, "trace" -> trace)))
    println("[perfbench] op wall (ms): " + Json.obj(runner.recs.toSeq.map(r =>
      s"${r.round}.${r.seq}.${r.op.kind}" -> BigDecimal(r.wallMs).setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    if (trace) println("[perfbench] op counts: " + Json.obj(runner.recs.toSeq.filter(_.round == countsRound)
      .map(r => s"${r.seq}.${r.op.kind}" -> r.exec.map(e => Seq(e.jobs, e.stages, e.tasks, r.rows)))))
    println("[perfbench] counts: " + Json.obj(report.countsOfRound(countsRound).toSeq.sortBy(_._1)))
    val metrics = (if (trace) layers else e2e.map { case (k, v) => k -> (v, Report.units(k)) })
      .toSeq.sortBy(_._1)
    val timed = runner.recs.filter(_.round > 0)
    println(Json.obj(Seq(
      "correct" -> runner.recs.forall(_.ok),
      "attempted" -> timed.size,
      "failed" -> timed.count(!_.ok),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }

  /** Round number of the overhead pairs' records (outside the timed rounds). */
  val OverheadRound = -1

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/** Spark storage held by persisted blocks, and the storage-memory
  * capacity next to it. */
final case class Storage(memMb: Double, diskMb: Double, capacityMb: Double) {
  def usedMb: Double = memMb + diskMb
}

object Storage {
  /** Storage once unreachable blocks are gone: eager checkpoints an
    * op dropped are released by Spark's cleaner only after a driver GC,
    * so without one the figure depends on GC timing. */
  def settled(spark: org.apache.spark.sql.SparkSession): Storage = {
    System.gc()
    var prev = apply(spark)
    var stable = 0
    var polls = 0
    while (stable < 3 && polls < 40) {
      Thread.sleep(50)
      val cur = apply(spark)
      stable = if (cur == prev) stable + 1 else 0
      prev = cur
      polls += 1
    }
    prev
  }

  def apply(spark: org.apache.spark.sql.SparkSession): Storage = {
    val sc = spark.sparkContext
    val infos = sc.getRDDStorageInfo
    val mb = 1024.0 * 1024.0
    Storage(infos.map(_.memSize).sum / mb, infos.map(_.diskSize).sum / mb,
      sc.getExecutorMemoryStatus.values.map(_._1).sum / mb)
  }
}
