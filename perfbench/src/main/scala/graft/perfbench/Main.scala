package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.graftbench.BusShim
import org.apache.spark.sql.SparkSession

/**
 * Closed-loop benchmark of graft: one client thread issues an op,
 * waits for it, and issues the next. Usage:
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *        --config <workloads.json> --work <scratch dir> --out <output dir>
 *
 * The last stdout line is the result JSON: end-to-end metrics with
 * `--trace 0`, per-layer metrics with `--trace 1`. Lines before it,
 * prefixed "# ", give sample counts, the tail percentile, the error
 * rate, the contention sentinel and (traced) span self times.
 */
object Main {

  final case class OpRec(i: Long, traced: Boolean, wallMs: Double, cpuMs: Double, rows: Long,
      layer: Map[String, Double], spark: Option[OpSpark])

  private val WarmBase = 1000000L
  private val TracedGroup = "perfbench-t-"

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val code =
      try run(arg("workload"), arg("seed").toLong, arg("seconds").toDouble, arg("trace") == "1",
        new ObjectMapper().readTree(new java.io.File(arg("config"))), arg("work"), arg("out"))
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  private def obj(n: JsonNode, k: String): JsonNode = {
    val v = n.get(k)
    if (v == null) throw new IllegalArgumentException(s"workloads.json lacks '$k'")
    v
  }

  private def numbers(n: JsonNode): Map[String, Double] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap

  def session(spark: JsonNode): SparkSession = {
    val s = graft.Graft.session(obj(spark, "master").asText(), obj(spark, "shuffle_partitions").asInt())
    s.conf.set("spark.sql.adaptive.enabled", obj(spark, "adaptive").asBoolean().toString)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def wipe(dir: java.io.File): Unit = {
    if (dir.isDirectory) Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(wipe)
    dir.delete()
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = osBean.getProcessCpuTime

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Busy jiffies of the whole machine (user+nice+system+irq+softirq+steal). */
  private def busyJiffies(): Long = try {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    f(0) + f(1) + f(2) + f.slice(5, 8).sum
  } catch { case _: Exception => -1L }

  /** Largest old-generation occupancy after a full collection while
   *  `active`. Young collections are skipped: what they leave in the
   *  old generation depends on when promotion happened to run, which
   *  differs from run to run even when the ops do not. */
  private object HeapWatch extends NotificationListener {
    @volatile var active = false
    @volatile var peakBytes = 0L
    @volatile var gcs = 0L
    /** Touching the object registers the listener; do so before any Spark work. */
    def install(): Unit = ()
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    def handleNotification(n: Notification, h: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) {
          val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if pool.contains("Old") || pool.contains("Tenured") => u.getUsed
          }.sum
          if (active) peakBytes = math.max(peakBytes, old)
          gcs += 1
        }
      }
    /** Close the window with a full collection, so every run has at
     *  least one sample: the live set the timed ops left behind. An
     *  unsampled collection first lets Spark's ContextCleaner see
     *  finished ops' broadcasts and shuffles as unreachable and drop
     *  their blocks, so the sample does not depend on how far the
     *  cleaner had got. */
    def close(): Unit = {
      active = false
      fullGc()
      Thread.sleep(200)
      active = true
      fullGc()
      active = false
    }
    private def fullGc(): Unit = {
      val before = gcs
      System.gc()
      val deadline = System.nanoTime() + 2000000000L
      while (gcs == before && System.nanoTime() < deadline) Thread.sleep(5)
    }
  }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, cfg: JsonNode,
      work: String, out: String): Int = {
    val wcfg = obj(obj(cfg, "workloads"), workload)
    val loop = obj(cfg, "loop")
    val sparkCfg = obj(cfg, "spark")
    val reps = if (trace) 1 else obj(loop, "setup_reps").asInt()
    val workDir = new java.io.File(work)
    HeapWatch.install()

    var spark: SparkSession = null
    var w: Workload = null
    var setupLayer = Map.empty[String, Double]
    val setupS = (1 to reps).map { _ =>
      if (spark != null) spark.stop()
      wipe(workDir)
      workDir.mkdirs()
      val t0 = System.nanoTime()
      spark = session(sparkCfg)
      val env = Env(spark, seed, workDir.getAbsolutePath, numbers(obj(wcfg, "sizes")),
        spark.sparkContext.defaultParallelism)
      w = Workload(workload, env)
      setupLayer = w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val tracer = new Tracer
    val listener = new OpListener(TracedGroup)
    if (trace) sc.addSparkListener(listener)

    def runLoop(start: Long, secs: Double, minOps: Int, traceMode: Boolean): Seq[OpRec] = {
      val recs = ArrayBuffer.empty[OpRec]
      val t0 = System.nanoTime()
      var i = start
      while ((System.nanoTime() - t0) / 1e9 < secs || recs.size < minOps) {
        val traced = traceMode && i % 2 == 1
        w.prepare(i)
        val ctx = new OpCtx(i.toString, traced, tracer)
        sc.setJobGroup(if (traced) TracedGroup + i else s"perfbench-u-$i", s"op $i", interruptOnCancel = false)
        val (c0, jit0, cg0) = (cpuNs(), jitMs(), codegenCompiles())
        val o0 = System.nanoTime()
        val rows = tracer.span(traced, ctx.id, "op")(w.op(i, ctx))
        val wall = (System.nanoTime() - o0) / 1e6
        val cpu = (cpuNs() - c0) / 1e6
        ctx.layer("spark.jit_ms") = (jitMs() - jit0).toDouble
        ctx.layer("spark.codegen_compiles") = (codegenCompiles() - cg0).toDouble
        sc.clearJobGroup()
        val sparkStats = if (!traced) None else {
          BusShim.drain(sc)
          listener.spansFor(ctx.id, tracer).foreach(tracer.add)
          val st = listener.opStats(ctx.id)
          listener.forget(ctx.id)
          ctx.layer ++= w.extra(i, first = !recs.exists(_.traced))
          Some(st)
        }
        w.after(i)
        recs += OpRec(i, traced, wall, cpu, rows, ctx.layer.toMap, sparkStats)
        i += 1
      }
      recs.toSeq
    }

    val phases = mutable.LinkedHashMap("setup" -> setupS.sum)
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    phase("warmup")(runLoop(WarmBase, 0.0, obj(loop, "warmup_ops").asInt(), traceMode = false))
    w.startTimed()
    System.gc()
    val (b0, s0, w0) = (busyJiffies(), cpuNs(), System.nanoTime())
    val gc0 = gcMs()
    HeapWatch.peakBytes = 0L
    HeapWatch.active = true
    val recs = runLoop(0, seconds, obj(loop, "min_ops").asInt(), trace)
    HeapWatch.close()
    val windowNs = (System.nanoTime() - w0).toDouble
    val gcPerOp = (gcMs() - gc0).toDouble / recs.size
    val jitPerOp = recs.map(_.layer("spark.jit_ms")).sum / recs.size
    val compilesPerOp = recs.map(_.layer("spark.codegen_compiles")).sum / recs.size
    val otherCores =
      if (b0 < 0) Double.NaN else ((busyJiffies() - b0) * 1e7 - (cpuNs() - s0)) / windowNs

    val failed = phase("check")(w.check(recs.map(_.i)))
    val n = recs.size
    val tailCap = obj(wcfg, "tail_cap").asDouble()

    def say(s: String): Unit = println(s"# $s")
    say(f"perfbench workload=$workload seed=$seed trace=${if (trace) 1 else 0} ops=$n " +
      f"window_s=${windowNs / 1e9}%.2f")
    say(f"error_rate=${failed.size.toDouble / n} (${failed.size} of $n ops failed their check)")
    say(f"contention: other processes kept $otherCores%.3f cores busy during the window" +
      (if (otherCores > 0.5) " -- CONTENDED RUN" else ""))
    say(f"jvm: per op $jitPerOp%.1f ms JIT compilation, $gcPerOp%.1f ms GC, " +
      f"$compilesPerOp%.2f Spark codegen compiles")

    val metrics: Seq[(Metric, Double)] =
      if (!trace) {
        val walls = recs.map(_.wallMs)
        val (tailP, tailV) = Stats.tail(walls, tailCap).getOrElse(
          throw new IllegalStateException(s"$n ops cannot support a tail percentile"))
        val values = Map(
          "setup_s" -> Stats.median(setupS),
          "op_p50_ms" -> Stats.median(walls),
          "op_tail_ms" -> tailV,
          "rows_per_s" -> recs.map(_.rows).sum / (walls.sum / 1000.0),
          "cpu_ms_per_op" -> recs.map(_.cpuMs).sum / n,
          "peak_heap_mb" -> HeapWatch.peakBytes / 1048576.0)
        say(s"setup_s samples=${setupS.size} values=${setupS.map(v => f"$v%.3f").mkString(",")}")
        say(s"op_p50_ms samples=$n; op_tail_ms is p$tailP with ${Stats.beyond(n, tailP)} samples beyond")
        w.finish().get("sources.stored_bytes_per_row").foreach(v => say(s"stored_bytes_per_row=$v"))
        Layers.endToEnd.map(m => m -> values(m.name))
      } else {
        val values = layerValues(recs, setupLayer ++ w.finish() ++
          phase("kernels")(Kernels.run(spark, seed, numbers(obj(cfg, "kernels")))))
        val spans = tracer.spans
        val self = Spans.selfTimes(spans)
        spans.groupBy(s => s.name.takeWhile(_ != '.') match {
          case "job" | "stage" => s.name.takeWhile(_ != '.')
          case _ => s.name
        }).toSeq.sortBy(_._1).foreach { case (name, ss) =>
          say(f"span $name%-26s count=${ss.size}%5d median_ms=${Stats.median(ss.map(_.durMs))}%.3f " +
            f"median_self_ms=${Stats.median(ss.map(s => self(s.id)))}%.3f")
        }
        writeSpans(new java.io.File(out, s"trace-$workload-$seed.json"), spans, self)
        Layers.perLayer.map(m => m -> values.getOrElse(m.name,
          throw new IllegalStateException(s"no value for per-layer metric ${m.name}")))
      }
    metrics.foreach { case (m, v) => say(f"${m.name}%-46s $v%.6g ${m.unit}") }
    say(phases.map { case (k, v) => f"$k=$v%.1f" }.mkString("phase seconds: ", " ", ""))
    spark.stop()

    val json = metrics.map { case (m, v) =>
      require(!v.isNaN && !v.isInfinite, s"${m.name} is not finite")
      s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed.isEmpty}, "attempted": $n, "failed": ${failed.size}, "metrics": $json}""")
    if (failed.isEmpty) 0 else 1
  }

  /** Per-layer values of a traced run: per-op means over traced ops,
   *  ratios over their summed parts, plus run-level values. */
  def layerValues(recs: Seq[OpRec], runLevel: Map[String, Double]): Map[String, Double] = {
    val t = recs.filter(_.traced)
    val u = recs.filterNot(_.traced)
    require(t.nonEmpty && u.nonEmpty, "a traced run needs traced and untraced ops")
    val st = t.map(_.spark.get)
    def mean(f: OpRec => Double) = t.map(f).sum / t.size
    def lay(k: String)(r: OpRec) = r.layer.getOrElse(k, 0.0)
    def ratio(num: Double, den: Double) = if (den > 0) num / den else 0.0
    def sp(f: OpSpark => Double) = st.map(f).sum / st.size
    val fromOps = Map(
      "plans.optimize_ms" -> mean(lay("plans.optimize_ms")),
      "plans.physical_ms" -> mean(lay("plans.physical_ms")),
      "plans.bbox_rewrite_frac" -> mean(lay("plans.bbox_rewrite")),
      "plans.grid_join_rewrite_frac" -> mean(lay("plans.grid_join_rewrite")),
      "sources.rows_scanned_per_row_returned" ->
        ratio(st.map(_.inputRecords).sum.toDouble, t.map(lay("rows_returned")).sum),
      "sources.bytes_read_per_op" -> sp(_.inputBytes.toDouble),
      "sources.append_ms" -> mean(lay("sources.append_ms")),
      "sources.probe_ms" -> mean(lay("sources.probe_ms")),
      "sources.bytes_written_per_row" ->
        ratio(st.map(_.outputBytes).sum.toDouble, t.map(lay("rows_written")).sum),
      "operators.cell_estimate_ms" -> mean(lay("operators.cell_estimate_ms")),
      "operators.join_shuffle_records_per_output_row" ->
        ratio(st.map(_.shuffleWriteRecords).sum.toDouble, t.map(lay("join_output_rows")).sum),
      "operators.exact_dedup_ms" -> mean(lay("operators.exact_dedup_ms")),
      "operators.minhash_dedup_ms" -> mean(lay("operators.minhash_dedup_ms")),
      "operators.minhash_candidates_per_verified_pair" ->
        t.flatMap(_.layer.get("operators.minhash_candidates_per_verified_pair")).headOption.getOrElse(0.0),
      "spark.task_cpu_ms" -> sp(_.taskCpuMs),
      "spark.shuffle_write_bytes" -> sp(_.shuffleWriteBytes.toDouble),
      "spark.shuffle_read_bytes" -> sp(_.shuffleReadBytes.toDouble),
      "spark.spill_bytes" -> sp(_.spillBytes.toDouble),
      "spark.stages" -> sp(_.stages.toDouble),
      "spark.tasks" -> sp(_.tasks.toDouble),
      "spark.driver_ms" -> t.zip(st).map { case (r, s) =>
        r.wallMs - Spans.coveredMs(s.jobIntervals, Double.MinValue, Double.MaxValue) }.sum / t.size,
      "spark.gc_ms" -> sp(_.gcMs),
      "spark.peak_exec_mem_mb" -> sp(_.peakExecMemBytes / 1048576.0),
      "spark.task_wait_ms" -> sp(_.taskWaitMs),
      "spark.task_skew" -> sp(_.taskSkew),
      "spark.jit_ms" -> mean(lay("spark.jit_ms")),
      "spark.codegen_compiles" -> mean(lay("spark.codegen_compiles")),
      "trace.overhead_ms" -> (Stats.median(t.map(_.wallMs)) - Stats.median(u.map(_.wallMs))))
    val runLevelDefaults = Map(
      "sources.write_clustered_s" -> 0.0,
      "sources.stored_bytes_per_row" -> 0.0,
      "sources.table_files" -> 0.0)
    runLevelDefaults ++ fromOps ++ runLevel
  }

  private def writeSpans(f: java.io.File, spans: Seq[Span], self: Map[Long, Double]): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("[")
      w.println(spans.sortBy(_.startMs).map { s =>
        s"""  {"id": ${s.id}, "parent": ${s.parent}, "op": "${s.op}", "name": "${s.name}", """ +
          s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "self_ms": ${self(s.id)}}"""
      }.mkString(",\n"))
      w.println("]")
    } finally w.close()
  }
}
