package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's JVM side. It drives graft only through its public entry
  * points (`SparkEntry.queries`, `sources.Tables.table`, the
  * `graft.functions` column builders) and writes one JSON result file that
  * `perfbench/run.py` turns into metrics.
  *
  * Usage: `perfbench.Runner key=value ...` with keys
  *   mode     `setup` (build the session, touch the tables, stop) or `run`;
  *   data     the generated input directory;
  *   scratch  directory for Spark's local and warehouse directories;
  *   out      the result file;
  *   queries  comma-separated registry names (mode=run);
  *   verify   directory that receives each query's output (mode=run);
  *   warmup   untimed passes run after the verification pass (mode=run);
  *   passes   timed passes (mode=run);
  *   trace    1 to register listeners, record spans and run the probes;
  *   spans    span file written at the end of a traced run;
  *   timeout  per-query timeout in seconds.
  *
  * Load model: one client, closed loop. Queries run one after another in
  * one `local[4]` session; each query's jobs already use all four task
  * threads. Registry queries set session confs and register temp views,
  * so concurrent clients would interfere with each other. */
object Runner {

  val Cpus = 4
  val BaseTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val data = kv("data")
    val out = new JsonOut
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .withExtensions(new graft.GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stopTimeout", "30s")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", kv("scratch") + "/spark-local")
      .config("spark.sql.warehouse.dir", kv("scratch") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val startS = secs(t0)
    val t1 = System.nanoTime()
    BaseTables.foreach(t => noop(graft.sources.Tables.table(spark, data, t)))
    out("session.start_s", startS)
    out("session.warmup_s", secs(t1))
    out("ready_epoch_ms", System.currentTimeMillis().toDouble)
    out("jvm_start_epoch_ms",
      ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    if (kv("mode") == "run") run(spark, data, kv, out)
    spark.stop()
    out("peak_rss_mb", vmHwmMb())
    out.write(kv("out"))
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** VmHWM of this process: the peak resident set, in MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** One query, bounded: past `timeoutS` a watchdog cancels every Spark job
    * until the query returns, so the query throws and counts as failed.
    * Returns (build seconds, exec seconds, error). */
  def runQuery(spark: SparkSession, timeoutS: Double, trace: Option[Trace],
      name: String)(build: => DataFrame, exec: DataFrame => Unit)
      : (Double, Double, Option[String]) = {
    val sc = spark.sparkContext
    @volatile var done = false
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    val dog = new Thread(() => {
      try {
        while (!done) {
          Thread.sleep(200)
          if (!done && System.nanoTime() > deadline) sc.cancelAllJobs()
        }
      } catch { case _: InterruptedException => () }
    }, s"perfbench-watchdog-$name")
    dog.setDaemon(true)
    dog.start()
    var tb = 0.0
    var te = 0.0
    val t0 = System.nanoTime()
    val err =
      try {
        val df = trace.fold(build)(_.span("build", name)(build))
        tb = secs(t0)
        val t1 = System.nanoTime()
        trace.fold(exec(df))(_.span("exec", name)(exec(df)))
        te = secs(t1)
        None
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally {
        done = true
        dog.interrupt()
      }
    val timedOut = System.nanoTime() > deadline
    (tb, te, if (timedOut) Some(err.fold("timeout")("timeout: " + _)) else err)
  }

  def run(spark: SparkSession, data: String, kv: Map[String, String],
      out: JsonOut): Unit = {
    val names = kv("queries").split(",").toSeq.filter(_.nonEmpty)
    val registry = graft.SparkEntry.queries
    val oracles = graft.SparkEntry.oracleSql
    val timeoutS = kv("timeout").toDouble
    val trace = if (kv.getOrElse("trace", "0") == "1") Some(new Trace(spark)) else None
    val verifyDir = kv("verify")

    // Untimed first pass, which is also the correctness pass: each query's
    // output goes to parquet for the oracle compare. It absorbs codegen and
    // JIT warm-up, so it is reported as session.cold_pass_s, not timed.
    val tCold = System.nanoTime()
    val verified = names.map { n =>
      val (b, e, err) = runQuery(spark, timeoutS, None, n)(registry(n)(spark, data),
        df => df.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$n"))
      n -> (b + e, err)
    }
    out("session.cold_pass_s", secs(tCold))
    out.obj("verify", verified.map { case (n, (s, err)) =>
      n -> Map("s" -> s, "error" -> err.orNull, "oracle" -> oracles.get(n).orNull) })

    // Untimed warm-up passes, then a fixed number of timed passes: both
    // counts come from the caller, so which pass is the median never
    // depends on how fast the passes ran.
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    def pass(timed: Boolean): Map[String, Any] = {
      val gc0 = gcSeconds()
      val tPass = System.nanoTime()
      val tr = if (timed) trace else None
      val passSpan = tr.map(_.open("pass", s"pass${passes.size + 1}"))
      val qs = names.map { n =>
        val t0 = System.nanoTime()
        val qSpan = tr.map(_.open("query", n))
        val (b, e, err) = runQuery(spark, timeoutS, tr, n)(registry(n)(spark, data), noop)
        val s = secs(t0)
        tr.foreach(_.close(qSpan.get))
        Map("name" -> n, "s" -> s, "build_s" -> b, "exec_s" -> e, "error" -> err.orNull)
      }
      val wall = secs(tPass)
      tr.foreach(_.close(passSpan.get))
      val heap = tr.map { _ =>
        System.gc()
        val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
        m.getUsed / 1048576.0
      }
      Map("wall_s" -> wall, "queries" -> qs, "jvm.gc_s" -> (gcSeconds() - gc0),
        "jvm.heap_live_mb" -> heap.getOrElse(null))
    }
    val warmup = (1 to kv("warmup").toInt).map(_ => pass(timed = false))
    out.arr("warmup", warmup)
    trace.foreach(_.install())
    val tRun = System.nanoTime()
    (1 to kv("passes").toInt).foreach(_ => passes += pass(timed = true))
    out("timed_s", secs(tRun))
    out.arr("passes", passes.toSeq)
    trace.foreach { t =>
      out.obj("probes", probes(spark, data))
      t.finish(kv("spans"))
    }
  }

  /** Layer probes, run only in the traced run, each three times (the
    * result file keeps every sample): a full read of every base table
    * through `Tables.table`, and the three `graft.functions` kernels over
    * the generated tables, each forced through the noop sink. */
  def probes(spark: SparkSession, data: String): Seq[(String, Any)] = {
    import graft.sources.Tables
    def t(name: String)(body: => Unit): (String, Seq[Double]) =
      name -> (1 to 3).map { _ => val t0 = System.nanoTime(); body; secs(t0) }
    val docs = Tables.table(spark, data, "documents")
    val emb = Tables.table(spark, data, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q"), col("embedding").as("qv"))
    Seq(
      t("sources.scan_s")(BaseTables.foreach(n => noop(Tables.table(spark, data, n)))),
      "sources.scan_partitions" ->
        BaseTables.map(n => Tables.table(spark, data, n).rdd.getNumPartitions).sum,
      t("functions.tokens_s")(noop(docs.select(
        graft.functions.TextAnalysis.tokens(col("text")).as("toks")))),
      t("functions.h60_s")(noop(docs.select(expr("graft_h60(text)").as("h")))),
      t("functions.cosine_s")(noop(emb.crossJoin(queries).select(
        graft.functions.VectorFunctions.cosine(col("embedding"), col("qv")).as("c")))))
  }

  /** The traced run's spans (run → pass → query → {build, exec}, each with
    * name, start, end and parent) and the listener events below them:
    * Spark job start/end, completed stages, task ends with their metrics,
    * scan metrics per executed plan, and stream starts and progress. All
    * stay in memory until `finish` writes them to one file; run.py
    * attributes each job to the build/exec span open when it started (the
    * closed loop runs one query at a time, and stream micro-batches run
    * under their own job group, so job groups would miss them). */
  final class Trace(spark: SparkSession) extends AdaptiveSparkPlanHelper {
    private val spans = mutable.ArrayBuffer[mutable.Map[String, Any]]()
    private val stack = mutable.Stack[Int]()
    private val events = new ConcurrentLinkedQueue[(String, Map[String, Any])]()
    private val runSpan = open("run", "run")

    def nowMs: Double = System.currentTimeMillis().toDouble

    def open(kind: String, name: String): Int = synchronized {
      val id = spans.size
      spans += mutable.Map("id" -> id, "kind" -> kind, "name" -> name,
        "parent" -> stack.headOption.getOrElse(-1), "start_ms" -> nowMs)
      stack.push(id)
      id
    }

    def close(id: Int): Unit = synchronized {
      spans(id)("end_ms") = nowMs
      stack.pop()
    }

    def span[T](kind: String, name: String)(body: => T): T = {
      val id = open(kind, name)
      try body finally close(id)
    }

    private def ev(kind: String, m: Map[String, Any]): Unit = events.add(kind -> m)

    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        ev("job_start", Map("job" -> e.jobId, "t" -> e.time.toDouble,
          "stages" -> e.stageIds,
          "group" -> Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull,
          // the result stage is named after the action's call site
          "callsite" -> e.stageInfos.maxByOption(_.stageId).map(_.name).orNull))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ev("job_end", Map("job" -> e.jobId, "t" -> e.time.toDouble,
          "ok" -> (e.jobResult == JobSucceeded)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        ev("stage", Map("stage" -> i.stageId, "name" -> i.name, "tasks" -> i.numTasks,
          "start" -> i.submissionTime.getOrElse(0L).toDouble,
          "end" -> i.completionTime.getOrElse(0L).toDouble))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        val base = Map[String, Any]("stage" -> e.stageId,
          "ok" -> (e.reason == org.apache.spark.Success))
        ev("task", if (m == null) base else base ++ Map(
          "run_ms" -> m.executorRunTime.toDouble,
          "cpu_ns" -> m.executorCpuTime.toDouble,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "shuffle_read_b" -> (m.shuffleReadMetrics.localBytesRead +
            m.shuffleReadMetrics.remoteBytesRead).toDouble,
          "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble))
      }
    }

    private val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val scans = collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec => s }
        def m(s: FileSourceScanExec, k: String) =
          s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
        val t = qe.tracker.phases.values.map(_.endTimeMs).maxOption
          .getOrElse(System.currentTimeMillis())
        ev("scan", Map("t" -> t.toDouble, "scans" -> scans.size,
          "rows" -> scans.map(m(_, "numOutputRows")).sum,
          "bytes" -> scans.map(m(_, "filesSize")).sum))
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    private val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        ev("stream_start", Map("t" -> epochMs(e.timestamp)))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ops = p.stateOperators.toSeq
        ev("batch", Map("t" -> epochMs(p.timestamp),
          "ms" -> Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0),
          "commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
          "state_rows" -> ops.map(_.numRowsTotal.toDouble).sum))
      }
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    private def epochMs(iso: String): Double =
      java.time.Instant.parse(iso).toEpochMilli.toDouble

    def install(): Unit = {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    }

    /** Waits for the listener bus to deliver every job's end event, then
      * writes spans and raw events. */
    def finish(path: String): Unit = {
      def pending = {
        val es = events.asScala.toSeq
        es.count(_._1 == "job_start") - es.count(_._1 == "job_end")
      }
      val deadline = System.nanoTime() + 10000000000L
      while (pending > 0 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
      close(runSpan)
      val out = new JsonOut
      out.arr("spans", spans.map(_.toMap).toSeq)
      out.arr("events", events.asScala.toSeq.map { case (k, m) => m + ("kind" -> k) })
      out.write(path)
    }
  }
}

/** Named fields written as one JSON object: the result and span files. */
final class JsonOut {
  private val fields = mutable.LinkedHashMap[String, Any]()
  def apply(k: String, v: Double): Unit = fields(k) = v
  def obj(k: String, v: Seq[(String, Any)]): Unit = fields(k) = v.toMap
  def arr(k: String, v: Seq[Any]): Unit = fields(k) = v
  def write(path: String): Unit = JsonOut.mapper.writeValue(new java.io.File(path), fields)
}

object JsonOut {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
