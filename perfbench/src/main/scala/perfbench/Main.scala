package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.GraftSession

/** The benchmark's JVM side: set-up, an untimed correctness dump and one
  * untimed priming pass, then a single-client closed loop of `--passes`
  * whole passes over the workload's ops. Writes one raw JSON record; the
  * metrics are derived from it by `run.py`.
  *
  *   --workload suite|curation|airbnb  --data DIR  --work DIR  --out FILE
  *   --passes P  --seed N  --trace 0|1  --cpus C
  *   [--queries q1,q2,...]  [--check DIR]
  *
  * With `--trace 1` passes alternate untraced/traced, starting and ending
  * untraced, so the tracing overhead is measured inside the same run
  * against the warm untraced passes around the traced ones.
  */
object Main {
  private val GcSettleMs = 300L

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val kind = opt("workload")
    val dataDir = opt("data")
    val workDir = Paths.get(opt("work"))
    val passCount = opt("passes").toInt
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    Files.createDirectories(workDir)

    // ---- set-up: session start + warm-up; it ends at setup_end_ms ----
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    val wl: Workload = kind match {
      case "airbnb" => new AirbnbWorkload(spark, dataDir, workDir.resolve("airbnb"), tracer)
      case _ => new QueryWorkload(spark, dataDir, opt("queries").split(",").toSeq, tracer)
    }
    wl.warmUp()
    val setupEndMs = System.currentTimeMillis()

    // ---- untimed: correctness dump (query workloads) ----
    val checkStatus = opt.get("check").map { d =>
      val dir = Paths.get(d)
      Files.createDirectories(dir)
      wl.dumpForCheck(dir)
    }.getOrElse(Nil)

    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    /** One whole pass over the workload's ops; one record per op. */
    def runPass(pass: Int, traced: Boolean): Seq[String] = {
      wl.startPass(pass)
      val rnd = new scala.util.Random(seed * 1000003L + pass)
      val order = if (wl.shuffled) rnd.shuffle(wl.ops) else wl.ops
      order.map { op =>
        wl.beforeOp()
        // untimed, as in the engine's bench runner: ContextCleaner frees
        // the previous op's broadcasts and blocks only after a driver GC,
        // so without it one op's garbage lands in the next op's latency.
        // The cleaner drains asynchronously; the settle keeps that drain
        // out of the next op too.
        System.gc()
        Thread.sleep(GcSettleMs)
        val c = osBean.getProcessCpuTime
        val s = System.nanoTime()
        val outcome = Outcome.of(tracer.span("op", op.name)(op.run()))
        val wall = (System.nanoTime() - s) / 1e9
        if (outcome != "ok") System.err.println(s"perfbench: ${op.name}: $outcome")
        Json.obj(Seq("name" -> Json.str(op.name), "pass" -> pass.toString,
          "traced" -> traced.toString, "wall_s" -> Json.num(wall),
          "cpu_s" -> Json.num((osBean.getProcessCpuTime - c) / 1e9),
          "outcome" -> Json.str(outcome)))
      }
    }

    // ---- untimed priming: one whole pass, so the timed passes run on a
    // JIT that has seen every op (airbnb: every month, into a throwaway
    // store that the first timed pass deletes) ----
    val primeRecords = runPass(-1, traced = false)

    // ---- timed closed loop ----
    val heap = new HeapMonitor
    System.gc()
    heap.arm()
    val records = new ArrayBuffer[String]
    val passes = new ArrayBuffer[String]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    for (pass <- 0 until passCount) {
      val traced = trace && pass % 2 == 1
      if (traced) tracer.enable()
      val p0 = System.nanoTime()
      records ++= runPass(pass, traced)
      if (traced) tracer.disable()
      passes += Json.obj(Seq("pass" -> pass.toString, "traced" -> traced.toString,
        "start_s" -> Json.num((p0 - t0) / 1e9), "end_s" -> Json.num(elapsed)))
    }
    heap.disarm()

    val finalState = wl.finalState
    val extra = wl match {
      case a: AirbnbWorkload => Seq("models_dir" -> Json.str(a.modelsDir.toString),
        "months" -> a.ops.size.toString, "lexicon" -> lexiconJson)
      case _ => Nil
    }
    val out = Json.obj(Seq(
      "workload" -> Json.str(kind),
      "cpus" -> cpus.toString,
      "setup_end_ms" -> setupEndMs.toString,
      "prime_ops" -> Json.arr(primeRecords),
      "heap_peak_mb" -> Json.num(heap.peakMb),
      "ops" -> Json.arr(records.toSeq),
      "passes" -> Json.arr(passes.toSeq),
      "check_status" -> Json.obj(checkStatus.map { case (k, v) => k -> Json.str(v) }),
      "final_state" -> Json.obj(finalState.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "trace" -> (if (trace) traceJson(tracer, t0) else "null")) ++ extra)
    Files.writeString(Paths.get(opt("out")), out)
    spark.stop()
  }

  /** The word lists behind the engine's lang_id and sentiment, for the
    * DuckDB replay of the reviews stage. */
  private def lexiconJson: String = {
    import graft.functions.TextFunctions
    def words(ws: Seq[String]) = Json.arr(ws.map(Json.str))
    Json.obj(Seq(
      "stopwords" -> Json.obj(TextFunctions.stopwords.toSeq.sortBy(_._1)
        .map { case (l, ws) => l -> words(ws) }),
      "positive" -> words(TextFunctions.positiveWords),
      "negative" -> words(TextFunctions.negativeWords)))
  }

  private def traceJson(t: Tracer, t0: Long): String = {
    def rel(ns: Long) = Json.num((ns - t0) / 1e9)
    val spans = t.spans.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_s" -> rel(s.start), "end_s" -> rel(s.end),
        "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) })))
    }
    val jobs = t.jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Json.obj(Seq("id" -> j.id.toString, "parent" -> j.parent.toString,
        "start_s" -> rel(j.start), "end_s" -> rel(if (j.end < 0) j.start else j.end)))
    }
    Json.obj(Seq(
      "spans" -> Json.arr(spans.toSeq),
      "jobs" -> Json.arr(jobs),
      "totals" -> Json.obj(t.totals.toSeq.map { case (k, v) => k -> Json.num(v) })))
  }
}

/** Highest post-GC heap occupancy while armed, from GC notifications. */
final class HeapMonitor {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var armed = false
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n, _) =>
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      if (used > peak) peak = used
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def arm(): Unit = { peak = 0L; armed = true }
  /** One more collection so a run that never filled the young generation
    * still reports its live heap. */
  def disarm(): Unit = { System.gc(); Thread.sleep(200); armed = false }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Minimal JSON text builders (values are pre-rendered strings). */
object Json {
  def str(s: String): String = graft.JsonText.quote(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
