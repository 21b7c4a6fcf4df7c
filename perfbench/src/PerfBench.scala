package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.client.DataPump
import graft.request.Protocol
import graft.{CachePool, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark harness for the engine's public entry points: Data Pump jobs
  * through `DataPump.submit` (SUBMIT with wait=false, then STATUS polls),
  * analytics through `SparkEntry.queries`, memo builds through
  * `CachePool.drainBuildLog`.
  *
  * Usage: `PerfBench key=value ...` with keys `workload` (etl_jobs |
  * analytics_mix), `data` (generated input dir), `work`
  * (scratch dir for dumps, targets and results), `seconds` (measured
  * time; whole rounds are run until it has passed), `trace` (0 | 1),
  * `out` (raw JSON record) and, for the mix, `queries` (comma list, run
  * in that order).
  *
  * Everything measured goes into one raw JSON record; metrics are derived
  * from it by `perfbench/metrics.py`. With trace=1 the record also holds
  * spans (name, start, end, parent) kept in memory until the run ends.
  */
object PerfBench {
  /** Session shape: the reference host's core count, one JVM. */
  val Cores = 4
  /** Set-ups measured per run; the first pays the JVM's class loading
    * and first compilation of the set-up path. */
  val Setups = 9
  /** Data Pump PARALLEL for every job. */
  val Parallel = 4
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val t0 = System.nanoTime()
  private val epoch0Ms = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - t0) / 1e9
  /** Spark event times (epoch ms) on the run clock. */
  def fromEpochMs(ms: Long): Double = (ms - epoch0Ms) / 1e3

  // ---- spans ----------------------------------------------------------

  final case class Span(id: Long, parent: Long, name: String, start: Double,
      end: Double, attrs: Map[String, Any])

  final class Spans(val enabled: Boolean) {
    private val ids = new AtomicLong(0)
    val all = new ConcurrentLinkedQueue[Span]()
    def record(name: String, parent: Long, start: Double, end: Double,
        attrs: Map[String, Any] = Map.empty): Long =
      if (!enabled) 0L
      else {
        val id = ids.incrementAndGet()
        all.add(Span(id, parent, name, start, end, attrs))
        id
      }
    /** Reserve an id for a span whose children are recorded before it. */
    def reserve(): Long = if (enabled) ids.incrementAndGet() else 0L
    def recordAs(id: Long, name: String, parent: Long, start: Double,
        end: Double, attrs: Map[String, Any] = Map.empty): Unit =
      if (enabled) all.add(Span(id, parent, name, start, end, attrs))
  }

  // ---- Spark counters -------------------------------------------------

  /** Per job group task totals plus, when tracing, one record per Spark
    * job and stage. Groups are the Data Pump job names and the mix's
    * per-query group ids, so work is attributed even when listener
    * events arrive after the operation returned. */
  final class Counters(trace: Boolean) extends SparkListener {
    final class Acc {
      val tasks = new AtomicLong; val runMs = new AtomicLong
      val cpuNs = new AtomicLong; val gcMs = new AtomicLong
      val inBytes = new AtomicLong; val outBytes = new AtomicLong
      val shuffleWrite = new AtomicLong; val spill = new AtomicLong
      def toMap: Map[String, Any] = Map("tasks" -> tasks.get,
        "run_s" -> runMs.get / 1e3, "cpu_s" -> cpuNs.get / 1e9,
        "gc_s" -> gcMs.get / 1e3, "input_bytes" -> inBytes.get,
        "output_bytes" -> outBytes.get, "shuffle_write_bytes" -> shuffleWrite.get,
        "spill_bytes" -> spill.get)
    }
    val groups = new ConcurrentHashMap[String, Acc]()
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    private val stageTasks = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
    val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
    val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val jobStart = new ConcurrentHashMap[Int, (Double, String, Int)]()
    @volatile var lastJobEnd: Int = -1

    private def groupOf(props: java.util.Properties): String =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
      if (trace) jobStart.put(e.jobId, (fromEpochMs(e.time), g, e.stageInfos.size))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      if (trace) Option(jobStart.remove(e.jobId)).foreach { case (s, g, n) =>
        jobs.add(Map("job_id" -> e.jobId, "group" -> g, "start" -> s,
          "end" -> fromEpochMs(e.time), "stages" -> n,
          "ok" -> (e.jobResult == JobSucceeded)))
      }
      lastJobEnd = e.jobId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val g = Option(stageGroup.get(e.stageId)).getOrElse("")
        val a = groups.computeIfAbsent(g, _ => new Acc)
        a.tasks.incrementAndGet(); a.runMs.addAndGet(m.executorRunTime)
        a.cpuNs.addAndGet(m.executorCpuTime); a.gcMs.addAndGet(m.jvmGCTime)
        a.inBytes.addAndGet(m.inputMetrics.bytesRead)
        a.outBytes.addAndGet(m.outputMetrics.bytesWritten)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        if (trace) stageTasks.computeIfAbsent(e.stageId,
          _ => new ConcurrentLinkedQueue[Long]()).add(e.taskInfo.duration)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (trace) {
        val si = e.stageInfo
        val durs = Option(stageTasks.remove(si.stageId))
          .map(_.asScala.toSeq.sorted).getOrElse(Nil)
        val wall = (for (s <- si.submissionTime; c <- si.completionTime)
          yield (c - s) / 1e3).getOrElse(0.0)
        stages.add(Map("stage_id" -> si.stageId,
          "group" -> Option(stageGroup.get(si.stageId)).getOrElse(""),
          "tasks" -> si.numTasks, "wall_s" -> wall,
          "task_max_s" -> durs.lastOption.map(_ / 1e3).getOrElse(0.0),
          "task_median_s" ->
            (if (durs.isEmpty) 0.0 else durs(durs.size / 2) / 1e3)))
      }
  }

  /** Planning phases of every executed query (analysis, optimization,
    * planning), on the run clock. */
  final class Planning extends QueryExecutionListener {
    val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
    private def add(fn: String, qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases
      if (ps.nonEmpty) phases.add(Map("func" -> fn,
        "start" -> fromEpochMs(ps.values.map(_.startTimeMs).min),
        "end" -> fromEpochMs(ps.values.map(_.endTimeMs).max),
        "planning_s" -> ps.values.map(_.durationMs).sum / 1e3))
    }
    override def onSuccess(fn: String, qe: QueryExecution, d: Long): Unit =
      add(fn, qe)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
      add(fn, qe)
  }

  // ---- session set-up -------------------------------------------------

  def session(work: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.Sessions.NanosAsLongKey, "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** One set-up: a session plus its first protocol round trip. Returns
    * the session, the wall seconds and the CPU seconds of every JVM
    * thread over the set-up. */
  def setUp(work: String, trace: Boolean): (SparkSession, Double, Double) = {
    val a = now
    val cpu0 = os.getProcessCpuTime
    val s = session(work, trace)
    DataPump.submit(s, statusJson(work, "PERFBENCH_NO_SUCH_JOB"))
    (s, now - a, (os.getProcessCpuTime - cpu0) / 1e9)
  }

  // ---- protocol -------------------------------------------------------

  private def js(v: String): String = mapper.writeValueAsString(v)

  def statusJson(sourceDir: String, job: String): String =
    s"""{"connection": {"source_dir": ${js(sourceDir)}}, "request": "STATUS",
       |"payload": {"job_name": ${js(job)}, "type": "STATUS"}}""".stripMargin

  def submitJson(operation: String, source: String, target: String,
      tag: String, directives: Seq[(String, String, Option[String])]): String = {
    val ds = directives.map { case (n, v, ov) =>
      val old = ov.map(o => s""", "old_value": ${js(o)}""").getOrElse("")
      s"""{"name": ${js(n)}, "value": ${js(v)}$old}"""
    }.mkString(", ")
    s"""{"connection": {"source_dir": ${js(source)}, "target_dir": ${js(target)},
       |"schema": "main"}, "request": "SUBMIT",
       |"payload": {"operation": ${js(operation)}, "mode": "FULL", "wait": false,
       |"tag": ${js(tag)}, "directives": [$ds]}}""".stripMargin
  }

  /** Closed-loop job client: SUBMIT with wait=false, then a STATUS poller
    * thread at a fixed interval until the first terminal state. */
  final class JobClient(spark: SparkSession, spans: Spans, pollMs: Long) {
    val records = mutable.ArrayBuffer[Map[String, Any]]()

    def run(kind: String, parent: Long, json: String, source: String): Map[String, Any] = {
      val jobSpan = spans.reserve()
      val submitStart = now
      val resp = DataPump.submit(spark, json)
      val submitEnd = now
      spans.record("request.submit", jobSpan, submitStart, submitEnd)
      val name = resp.jobName.getOrElse("")
      if (resp.error.nonEmpty || name.isEmpty) {
        val r = Map[String, Any]("kind" -> kind, "job" -> name,
          "state" -> resp.state, "error" -> resp.error.getOrElse("no job name"),
          "wall_s" -> (submitEnd - submitStart), "percent" -> Nil,
          "objects" -> Nil)
        records += r
        return r
      }
      // the poller: one thread, fixed interval, stops at the first
      // terminal STATUS; the client waits for it (closed loop)
      val percents = mutable.ArrayBuffer[Double]()
      var terminal: Protocol.Response = null
      var terminalAt = 0.0
      val statusReq = statusJson(source, name)
      val poller = new Thread(() => {
        while (terminal == null) {
          Thread.sleep(pollMs)
          val a = now
          val st = DataPump.submit(spark, statusReq)
          val b = now
          spans.record("request.status", jobSpan, a, b)
          st.detail.foreach(d => percents += d.percentDone)
          if (graft.model.JobState.fromString(st.state).isTerminal) {
            terminal = st; terminalAt = b
          }
        }
      }, "perfbench-status-poller")
      poller.start()
      poller.join()
      val objs = terminal.detail.map(_.objects).getOrElse(Nil).map(o =>
        Map("schema" -> o.objectSchema, "name" -> o.objectName,
          "state" -> o.state, "rows" -> o.rows, "bytes" -> o.bytes,
          "elapsed_s" -> o.elapsedSec, "error" -> o.error.getOrElse("")))
      val r = Map[String, Any]("kind" -> kind, "job" -> name,
        "state" -> terminal.state, "error" -> terminal.error.getOrElse(""),
        "wall_s" -> (terminalAt - submitStart), "percent" -> percents.toList,
        "objects" -> objs)
      spans.recordAs(jobSpan, s"job.$kind", parent, submitStart, terminalAt,
        Map("group" -> name))
      records += r
      r
    }
  }

  // ---- filesystem -----------------------------------------------------

  /** Filesystem counters: bytes written from the Hadoop FS statistics
    * (summed over schemes; executors share the JVM in local mode), read
    * and write operations from [[CountingLocalFs]] when tracing installs
    * it. */
  def fsStats(): Map[String, Long] = {
    val written = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .iterator.asScala.flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).sum
    Map("read_ops" -> CountingLocalFs.reads.get,
      "write_ops" -> CountingLocalFs.writes.get, "bytes_written" -> written)
  }

  /** (relative path, size, modification time) of every file under `dir`,
    * sorted. */
  def listing(dir: String): Seq[(String, Long, Long)] = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(p => (root.relativize(p).toString, Files.size(p),
          Files.getLastModifiedTime(p).toMillis))
        .toSeq.sorted
      finally st.close()
    }
  }

  /** Copy the regular files under `from` to `to`; returns `to`. */
  def copyTree(from: String, to: String): String = {
    import java.nio.file.{Files, Paths}
    listing(from).foreach { case (rel, _, _) =>
      val dst = Paths.get(to, rel)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(from, rel), dst)
    }
    to
  }

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val st = java.nio.file.Files.walk(root)
      try st.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally st.close()
    }
  }

  // ---- workloads ------------------------------------------------------

  final case class Ctx(spark: SparkSession, spans: Spans, counters: Counters,
      planning: Planning, work: String, data: String, seconds: Double,
      queries: Seq[String])

  final case class Round(index: Int, start: Double, end: Double,
      fs: Map[String, Long], groups: Seq[String])

  /** ETL: export the source, import it under remapped schemas with
    * REPLACE over the previous round's target, then re-submit the import
    * with SKIP as a restart. A first, untimed round runs the same
    * jobs, so the timed rounds do not carry the JVM's first compilation of
    * the job path and the first timed import already replaces a target. */
  def etl(c: Ctx): (Seq[Round], Map[String, Any]) = {
    val client = new JobClient(c.spark, c.spans, pollMs = 10)
    val parallel = Parallel.toString
    val skipChecks = mutable.ArrayBuffer[Map[String, Any]]()
    var lastDump = ""
    // flat `<table>.parquet` files belong to schema main, directories
    // are schemas of their own
    def schemasOf(dir: String): Seq[String] = {
      val (dirs, files) = new java.io.File(dir).listFiles().toSeq.partition(_.isDirectory)
      (if (files.exists(_.getName.endsWith(".parquet"))) Seq("main") else Nil) ++
        dirs.map(_.getName).sorted
    }
    def cycle(i: Int, source: String, target: String): Round = {
      val remaps = schemasOf(source).map(s => ("REMAP_SCHEMA", remapOf(s), Some(s)))
      val roundSpan = c.spans.reserve()
      val fs0 = fsStats()
      val start = now
      val dump = s"${c.work}/dump/c$i"
      val exp = client.run("export", roundSpan,
        submitJson("EXPORT", source, dump, s"c${i}e",
          Seq(("PARALLEL", parallel, None),
            ("COMPRESSION_ALGORITHM", "HIGH", None))), source)
      val imp = client.run("import", roundSpan,
        submitJson("IMPORT", dump, target, s"c${i}i",
          Seq(("PARALLEL", parallel, None),
            ("TABLE_EXISTS_ACTION", "REPLACE", None)) ++ remaps), dump)
      val groups = mutable.ArrayBuffer(exp("job").toString, imp("job").toString)
      // table data only: the job's own sidecar and log at the target
      // root are rewritten by every job, SKIP included
      def tableFiles = listing(target).filter(_._1.contains('/'))
      val before = tableFiles
      val res = client.run("resume", roundSpan,
        submitJson("IMPORT", dump, target, s"c${i}r",
          Seq(("PARALLEL", parallel, None),
            ("TABLE_EXISTS_ACTION", "SKIP", None)) ++ remaps), dump)
      groups += res("job").toString
      skipChecks += Map("job" -> res("job"),
        "target_unchanged" -> (before == tableFiles))
      val end = now
      val fs1 = fsStats()
      c.spans.recordAs(roundSpan, "round", 0L, start, end, Map("index" -> i))
      if (lastDump.nonEmpty) deleteTree(lastDump)
      lastDump = dump
      Round(i, start, end, fs1.map { case (k, v) => k -> (v - fs0(k)) },
        groups.toSeq)
    }
    val target = s"${c.work}/target"
    cycle(0, c.data, target)
    client.records.clear(); skipChecks.clear(); forgetWarmUp(c)
    val rounds = mutable.ArrayBuffer[Round]()
    val measureStart = now
    var i = 1
    while (i == 1 || now - measureStart < c.seconds) {
      rounds += cycle(i, c.data, target); i += 1
    }
    val exportParts = listing(lastDump).groupBy { case (p, _, _) =>
      p.split('/').dropRight(1).mkString("/") }
      .map { case (tbl, files) =>
        tbl -> files.count(_._1.split('/').last.startsWith("part-")) }
      .filter(_._1.nonEmpty)
    (rounds.toSeq, Map("jobs" -> client.records.toList,
      "skip_checks" -> skipChecks.toList, "parallel" -> Parallel,
      "target" -> target, "export_parts" -> exportParts,
      "source_bytes" -> listing(c.data).map(_._2).sum,
      "remaps" -> schemasOf(c.data).map(s => s -> remapOf(s)).toMap))
  }

  /** Drop the records of the untimed first ETL cycle; its late listener
    * events carry job groups no timed round owns. */
  def forgetWarmUp(c: Ctx): Unit = {
    c.spans.all.clear(); c.counters.jobs.clear(); c.counters.stages.clear()
    c.planning.phases.clear()
  }

  def remapOf(schema: String): String =
    if (schema == "main") "stage" else s"r_$schema"

  /** The analytics mix: each query built, planned and delivered once, in
    * order, in one session, as a user's session first runs them: the
    * first round carries the JVM's first compilation of each query's code
    * paths. Delivery writes every output column. Memos are keyed by input
    * path, so every later round reads its own copy of the input (made
    * before the round starts) and pays its own builds. */
  def mix(c: Ctx): (Seq[Round], Map[String, Any]) = {
    val out = s"${c.work}/results"
    val fns = SparkEntry.queries
    val rounds = mutable.ArrayBuffer[Round]()
    val queries = mutable.ArrayBuffer[Map[String, Any]]()
    val measureStart = now
    var i = 1
    while (i == 1 || now - measureStart < c.seconds) {
      val input = if (i == 1) c.data else copyTree(c.data, s"${c.work}/input-r$i")
      val roundSpan = c.spans.reserve()
      val fs0 = fsStats()
      val start = now
      val groups = mutable.ArrayBuffer[String]()
      c.queries.foreach { q =>
        val gid = s"mix-$i-$q"
        groups += gid
        val qSpan = c.spans.reserve()
        c.spark.sparkContext.setJobGroup(gid, s"perfbench $q")
        val a = now
        var err = ""
        var b = a
        try {
          val df = fns(q)(c.spark, input)
          b = now
          c.spans.record("query.build", qSpan, a, b)
          df.write.mode("overwrite").parquet(s"$out/r$i/$q")
        } catch {
          case e: Throwable =>
            err = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        } finally c.spark.sparkContext.clearJobGroup()
        val d = now
        c.spans.record("query.deliver", qSpan, b, d)
        CachePool.drainBuildLog().foreach { case (kernel, secs, _) =>
          c.spans.record("cachepool.build", qSpan, d, d,
            Map("kernel" -> kernel, "build_s" -> secs))
        }
        c.spans.recordAs(qSpan, s"query.$q", roundSpan, a, d, Map("group" -> gid))
        queries += Map("round" -> i, "query" -> q, "group" -> gid,
          "wall_s" -> (d - a), "error" -> err, "output" -> s"$out/r$i/$q")
      }
      val end = now
      val fs1 = fsStats()
      c.spans.recordAs(roundSpan, "round", 0L, start, end, Map("index" -> i))
      rounds += Round(i, start, end, fs1.map { case (k, v) => k -> (v - fs0(k)) },
        groups.toSeq)
      i += 1
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => c.queries.contains(k) }
    (rounds.toSeq, Map("queries" -> queries.toList, "oracle_sql" -> oracles))
  }

  /** Turn the listeners' records into spans: a Spark job under the span
    * of its job group, a planning interval under the innermost build,
    * delivery or Data Pump job span that contains its start. */
  def linkSpans(spans: Spans, counters: Counters, planning: Planning): Unit = {
    val mine = spans.all.asScala.toList
    val byGroup = mine.flatMap(s => s.attrs.get("group").map(_.toString -> s.id)).toMap
    counters.jobs.asScala.foreach { j =>
      spans.record("spark.job", byGroup.getOrElse(j("group").toString, 0L),
        j("start").asInstanceOf[Double], j("end").asInstanceOf[Double],
        Map("group" -> j("group"), "stages" -> j("stages")))
    }
    val holders = mine.filter(s => s.name == "query.build" ||
      s.name == "query.deliver" || s.name.startsWith("job."))
    planning.phases.asScala.foreach { p =>
      val st = p("start").asInstanceOf[Double]
      val parent = holders.filter(h => h.start <= st && st <= h.end)
        .sortBy(h => h.end - h.start).headOption.map(_.id).getOrElse(0L)
      spans.record("spark.plan", parent, st, p("end").asInstanceOf[Double],
        Map("planning_s" -> p("planning_s")))
    }
  }

  // ---- main -----------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val work = a("work")
    val trace = a.getOrElse("trace", "0") == "1"
    def list(key: String): Seq[String] =
      a.getOrElse(key, "").split(",").filter(_.nonEmpty).toSeq

    // set-up, several times; the last session is the one measured
    val setups = mutable.ArrayBuffer[Double]()
    val setupCpu = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    (1 to Setups).foreach { _ =>
      if (spark != null) spark.stop()
      val (s, secs, cpu) = setUp(work, trace)
      spark = s; setups += secs; setupCpu += cpu
    }
    val spans = new Spans(trace)
    val counters = new Counters(trace)
    spark.sparkContext.addSparkListener(counters)
    val planning = new Planning
    if (trace) spark.listenerManager.register(planning)

    val c = Ctx(spark, spans, counters, planning, work, a("data"),
      a("seconds").toDouble, list("queries"))
    val measured0 = now
    val (rounds, detail) = workload match {
      case "etl_jobs" => etl(c)
      case "analytics_mix" => mix(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val measuredS = now - measured0

    // flush the listener bus: events are delivered in order, so once a
    // marker job's end is seen every earlier task end has been counted
    spark.sparkContext.setJobGroup("perfbench-flush", "flush")
    spark.range(1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    val markerJob = spark.sparkContext.statusTracker.getJobIdsForGroup("perfbench-flush").max
    while (counters.lastJobEnd < markerJob && System.currentTimeMillis() < deadline)
      Thread.sleep(5)

    if (trace) linkSpans(spans, counters, planning)

    // heap live after a full collection, with the session still open;
    // collected until it settles, as Spark's cleaner frees blocks and
    // shuffle state asynchronously once their owners are collected
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var heap = Long.MaxValue
    var settled = false
    var k = 0
    while (!settled && k < 8) {
      System.gc(); Thread.sleep(200)
      val used = mem.getHeapMemoryUsage.getUsed
      settled = used >= heap - (1L << 20)
      heap = math.min(heap, used); k += 1
    }

    val record = Map[String, Any](
      "workload" -> workload, "trace" -> trace,
      "fs_impl" -> org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
        spark.sparkContext.hadoopConfiguration).getClass.getName,
      "setup_s" -> setups.toList, "setup_cpu_s" -> setupCpu.toList,
      "measured_s" -> measuredS,
      "retained_heap_bytes" -> heap,
      "rounds" -> rounds.map(r => Map("index" -> r.index, "start" -> r.start,
        "end" -> r.end, "fs" -> r.fs, "groups" -> r.groups)).toList,
      "groups" -> counters.groups.asScala.map { case (g, acc) => g -> acc.toMap }.toMap,
      "spark_jobs" -> counters.jobs.asScala.toList,
      "stages" -> counters.stages.asScala.toList,
      "spans" -> spans.all.asScala.toList.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start" -> s.start,
        "end" -> s.end, "attrs" -> s.attrs)),
      "detail" -> detail)
    mapper.writeValue(new java.io.File(a("out")), record)
    spark.stop()
  }
}

/** The local filesystem with read and write operation counts, installed
  * as `fs.file.impl` in traced runs (the Hadoop statistics of the local
  * filesystem count bytes but no operations). */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import CountingLocalFs._
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  override def open(f: Path, bufferSize: Int) =
    { reads.incrementAndGet(); super.open(f, bufferSize) }
  override def listStatus(f: Path) =
    { reads.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path) =
    { reads.incrementAndGet(); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def rename(src: Path, dst: Path) =
    { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean) =
    { writes.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission) =
    { writes.incrementAndGet(); super.mkdirs(f, permission) }
}

object CountingLocalFs {
  val reads = new java.util.concurrent.atomic.AtomicLong
  val writes = new java.util.concurrent.atomic.AtomicLong
}
