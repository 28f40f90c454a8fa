package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.AnnOps
import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run of one workload in this JVM, driven by `run.py`.
  *
  * Closed loop, one client: the workload's queries run one at a time in a
  * fixed order; a pass is construction (`SparkEntry.queries(name)(spark,
  * dir)`) plus a `noop`-sink action for every query, which evaluates every
  * output column without output I/O. Set-up (session start, table
  * resolution, a warm-up pass over the tiny input and, for a workload
  * that reads the persisted IVF index, the touch that builds it in the
  * JVM-wide memo of `AnnOps` — so only the first set-up builds it) runs
  * several times and each is timed. Then passes repeat until `seconds` have passed. In a traced run
  * the first half of the time runs untraced passes and the second half
  * traced ones, with a SparkListener and a QueryExecutionListener attached
  * and the listener bus drained at every query boundary. After the timed
  * region every query's output is dumped once as parquet for the output
  * check. Everything measured goes to `--out` as one JSON object, and the
  * spans of a traced run to `--spans` as JSON lines.
  *
  * Usage: Harness --workload NAME --data DIR --warm DIR --queries a,b
  *   --dump a,b,c --seconds S --trace 0|1 --setups K --index 0|1
  *   --work DIR --out FILE --spans FILE --check DIR
  */
object Harness {
  private val Mb = 1024.0 * 1024.0
  private val SpanProp = "graftbench.span"
  val InputTables = Seq("documents", "embeddings")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val data = a("data")
    val queries = a("queries").split(",").toSeq
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val spans = new Spans
    val runSpan = spans.open("run", a.getOrElse("workload", "run"), -1)
    val out = mutable.LinkedHashMap[String, Any]()

    // ---- set-up, several times; the first is timed from process start
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000
    var spark: SparkSession = null
    val plans = new PlanListener
    val setups = (1 to a("setups").toInt).map { i =>
      val t0 = if (i == 1) jvmStartUs else spans.nowUs
      val sp = spans.open("setup", s"setup$i", runSpan.id, t0)
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = GraftSession.get("graftbench")
      spark.listenerManager.register(plans)
      Seq(data, a("warm")).foreach(d => InputTables.foreach(Tables.table(spark, d, _)))
      // the warm-up's write plans show whether the noop action keeps every
      // output column
      val kept = queries.map { q =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, a("warm"))
        noop(df)
        ListenerBus.drain(spark.sparkContext)
        say(f"setup$i warm-up $q ${(System.nanoTime() - t0) / 1e9}%.2f s")
        q -> plans.poll().exists(_._3 == df.columns.toSeq)
      }
      if (a("index") == "1") SparkEntry.queries("ann_ivf_index")(spark, data)
      spark.listenerManager.unregister(plans)
      spans.close(sp)
      Map("setup_s" -> sp.seconds, "columns_kept" -> kept.toMap)
    }
    out("setups") = setups
    // One untimed pass over the real input, so the timed passes run code
    // that the JIT has compiled for it (the tiny warm-up input leaves loops
    // below the compile thresholds).
    val w0 = System.nanoTime()
    queries.foreach(q => noop(SparkEntry.queries(q)(spark, data)))
    out("warm_pass_s") = (System.nanoTime() - w0) / 1e9

    // ---- timed passes
    val sc = spark.sparkContext
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val tracer = new Tracer(spans)
    def pass(traceOn: Boolean): Map[String, Any] = {
      val ps = spans.open("pass", if (traceOn) "traced" else "untraced", runSpan.id)
      val cpu0 = cpuBean.getProcessCpuTime
      val storage = mutable.ArrayBuffer[(Int, Double)]()
      val perQuery = queries.map { q =>
        val qs = spans.open("query", q, ps.id)
        val resolveS = if (traceOn) {
          // the per-query cost of resolving the input tables (warm memo)
          val t0 = spans.nowUs
          InputTables.foreach(Tables.table(spark, data, _))
          (spans.nowUs - t0) / 1e6
        } else 0.0
        val bs = spans.open("build", q, qs.id)
        val as = spans.open("action", q, qs.id)
        val res = try {
          sc.setLocalProperty(SpanProp, bs.id.toString)
          val df = SparkEntry.queries(q)(spark, data)
          spans.close(bs)
          sc.setLocalProperty(SpanProp, as.id.toString)
          as.startUs = spans.nowUs
          noop(df)
          spans.close(as)
          val analyzeS = df.queryExecution.tracker.phases.get("analysis")
            .map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
          Map("build_s" -> bs.seconds, "action_s" -> as.seconds, "analyze_s" -> analyzeS)
        } catch {
          case e: Throwable =>
            spans.close(bs)
            spans.close(as)
            Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        } finally sc.setLocalProperty(SpanProp, null)
        spans.close(qs)
        say(f"pass $q ${qs.seconds}%.2f s")
        val traceCols = if (traceOn) {
          ListenerBus.drain(sc)
          storage += ((sc.getPersistentRDDs.size,
            sc.getRDDStorageInfo.map(_.memSize).sum / Mb))
          val p = plans.poll()
          Map("optimize_s" -> p.map(_._1).getOrElse(0.0), "plan_s" -> p.map(_._2).getOrElse(0.0),
            "resolve_s" -> resolveS, "build_exec" -> tracer.take(bs.id),
            "action_exec" -> tracer.take(as.id))
        } else Map.empty
        Map("query" -> q) ++ res ++ traceCols
      }
      val cpuS = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      spans.close(ps)
      // retained heap: after the pass and a full collection, outside the
      // timed region
      System.gc(); System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Mb
      Map("pass_s" -> ps.seconds, "cpu_s" -> cpuS, "retained_heap_mb" -> heap,
        "queries" -> perQuery, "traced" -> traceOn,
        "rdds_live" -> storage.lastOption.map(_._1).getOrElse(sc.getPersistentRDDs.size),
        "storage_mem_mb" -> (storage.map(_._2) :+ 0.0).max)
    }
    def passesFor(s: Double, traceOn: Boolean): Seq[Map[String, Any]] = {
      val t0 = System.nanoTime()
      val b = mutable.ArrayBuffer[Map[String, Any]]()
      while (b.size < 2 || (System.nanoTime() - t0) / 1e9 < s) b += pass(traceOn)
      b.toSeq
    }
    if (!traced) out("passes") = passesFor(seconds, traceOn = false)
    else {
      val untraced = passesFor(seconds / 2, traceOn = false)
      sc.addSparkListener(tracer)
      spark.listenerManager.register(plans)
      val tracedPasses = passesFor(seconds / 2, traceOn = true)
      sc.removeSparkListener(tracer)
      spark.listenerManager.unregister(plans)
      out("passes") = untraced ++ tracedPasses
      out("index") = indexBuild(spark, data, s"$work/index")
      out("kernels") = Kernels.all(spark, data)
    }

    // ---- output dump for the check, outside the timed region
    val check = a("check")
    val dump = a("dump").split(",").toSeq
    out("check_errors") = dump.flatMap { q =>
      try {
        SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$check/$q")
        None
      } catch { case e: Throwable => Some(q -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    }.toMap
    Files.writeString(Paths.get(s"$check/oracle_sql.json"), Json.render(
      SparkEntry.oracleSql.filter { case (k, _) => dump.contains(k) }))

    out("heap_max_mb") = Runtime.getRuntime.maxMemory / Mb
    out("nproc") = Runtime.getRuntime.availableProcessors
    out("default_parallelism") = sc.defaultParallelism
    spans.close(runSpan)
    if (traced) Files.write(Paths.get(a("spans")), spans.lines.asJava, UTF_8)
    Files.writeString(Paths.get(a("out")), Json.render(out))
    spark.stop()
  }

  private def say(msg: String): Unit = System.err.println(s"graftbench: $msg")

  /** The terminal action: every output column through the `noop` sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** A separate two-level IVF build into a directory the benchmark owns. */
  def indexBuild(spark: SparkSession, data: String, path: String): Map[String, Any] = {
    val n = Tables.rowCountFromFooters(spark, data, "embeddings")
    val t0 = System.nanoTime()
    AnnOps.ivf2SaveIndex(AnnOps.corpus(spark, data), path, n)
    val s = (System.nanoTime() - t0) / 1e9
    val files = Files.walk(Paths.get(path)).iterator().asScala.filter(Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    Map("build_s" -> s, "files" -> files.size, "bytes" -> files.map(Files.size).sum)
  }

  final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
      @volatile var startUs: Long) {
    @volatile var endUs = 0L
    def seconds: Double = (endUs - startUs) / 1e6
  }

  /** Spans in memory: run → setup/pass → query → build/action → job →
    * stage, each with its parent; written out as JSON lines at the end.
    */
  final class Spans {
    private val nano0 = System.nanoTime()
    private val epochUs0 = System.currentTimeMillis() * 1000
    private val ids = new AtomicInteger(0)
    private val all = new ConcurrentLinkedQueue[Span]()
    def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000
    def open(kind: String, name: String, parent: Int, startUs: Long = nowUs): Span = {
      val s = new Span(ids.incrementAndGet(), parent, kind, name, startUs)
      all.add(s)
      s
    }
    def close(s: Span, endUs: Long = nowUs): Unit = if (s.endUs == 0) s.endUs = endUs
    def lines: Seq[String] = all.asScala.toSeq.map(s => Json.render(Map(
      "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs)))
  }

  /** Execution counters per owner span (the build or action span whose id
    * the triggering thread set as a local property), plus job and stage
    * spans. Events arrive on one listener-bus thread.
    */
  final class Tracer(spans: Spans) extends SparkListener {
    final class Acc {
      var jobs, stages, tasks = 0L
      var cpuNs, runMs, gcMs, inBytes, shufReadBytes, shufReadRecs, shufWriteBytes = 0L
      var fetchWaitMs, spillBytes, peakMemBytes = 0L
      var skew = 0.0
    }
    private val accs = new ConcurrentHashMap[Int, Acc]()
    private val jobSpans = new ConcurrentHashMap[Int, Span]()
    private val stageOwner = new ConcurrentHashMap[Int, (Int, Int)]()
    private val taskTimes = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
    private def acc(owner: Int) = accs.computeIfAbsent(owner, _ => new Acc)

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val owner = Option(js.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val s = spans.open("job", s"job ${js.jobId}", owner, js.time * 1000)
      jobSpans.put(js.jobId, s)
      js.stageIds.foreach(st => stageOwner.putIfAbsent(st, (owner, s.id)))
      acc(owner).jobs += 1
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobSpans.remove(je.jobId)).foreach(spans.close(_, je.time * 1000))
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
      val info = ev.stageInfo
      val (owner, jobSpan) = stageOwner.getOrDefault(info.stageId, (-1, -1))
      val s = spans.open("stage", s"stage ${info.stageId}", jobSpan,
        info.submissionTime.getOrElse(0L) * 1000)
      spans.close(s, info.completionTime.getOrElse(0L) * 1000)
      val a = acc(owner)
      a.stages += 1
      Option(taskTimes.remove(info.stageId)).filter(_.size >= 4).foreach { ts =>
        val sorted = ts.sorted
        val median = sorted(sorted.size / 2).max(1L)
        a.skew = a.skew.max(sorted.last.toDouble / median)
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val a = acc(stageOwner.getOrDefault(te.stageId, (-1, -1))._1)
      a.tasks += 1
      taskTimes.computeIfAbsent(te.stageId, _ => mutable.ArrayBuffer[Long]()) += te.taskInfo.duration
      val m = te.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead
        a.shufReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shufReadRecs += m.shuffleReadMetrics.recordsRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.shufWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        a.peakMemBytes = a.peakMemBytes.max(m.peakExecutionMemory)
      }
    }

    /** The counters of one owner span, removed; call after a drain. */
    def take(owner: Int): Map[String, Any] = {
      val a = Option(accs.remove(owner)).getOrElse(new Acc)
      Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "task_cpu_s" -> a.cpuNs / 1e9, "task_run_s" -> a.runMs / 1e3, "gc_s" -> a.gcMs / 1e3,
        "input_mb" -> a.inBytes / Mb, "shuffle_read_mb" -> a.shufReadBytes / Mb,
        "shuffle_records" -> a.shufReadRecs, "shuffle_write_mb" -> a.shufWriteBytes / Mb,
        "shuffle_fetch_wait_s" -> a.fetchWaitMs / 1e3, "spill_mb" -> a.spillBytes / Mb,
        "peak_exec_mem_mb" -> a.peakMemBytes / Mb, "task_skew" -> a.skew)
    }
  }

  /** Catalyst phase times and output columns of each noop write. */
  final class PlanListener extends QueryExecutionListener {
    private val events = new ConcurrentLinkedQueue[(Double, Double, Seq[String])]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.optimizedPlan.collectFirst { case w: V2WriteCommand => w.query.output.map(_.name) }
        .foreach { cols =>
          def phase(p: String) = qe.tracker.phases.get(p)
            .map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
          events.add((phase("optimization"), phase("planning"), cols))
        }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    /** (optimize_s, plan_s, columns) of the latest noop write, after a drain. */
    def poll(): Option[(Double, Double, Seq[String])] = {
      var last: Option[(Double, Double, Seq[String])] = None
      var e = events.poll()
      while (e != null) { last = Some(e); e = events.poll() }
      last
    }
  }

  /** Minimal JSON rendering of maps, sequences, numbers and strings. */
  object Json {
    def render(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => render(x)
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
      case n: Number => n.toString
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
      case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
      case x => render(x.toString)
    }
  }
}
