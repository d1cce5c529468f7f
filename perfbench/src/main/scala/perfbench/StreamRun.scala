package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_millis}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import graft.{Bench, SessionTuning}
import graft.cep.CepQuery
import graft.cep.Metrics.RuleRow
import graft.parse.Parsers
import graft.streaming.{CepRunner, DynamicRules, RuleBook, StreamingEngine}

/** Drives one workload, prepared by `run.py`, through the engine's real
  * ingest path and writes raw observations for `run.py` to check and
  * reduce into metrics:
  *
  *  - setup, repeated [[SetupRounds]] times: session build → both
  *    queries started → first committed metric micro-batch;
  *  - warm-up, then the timed low- and high-rate phases: JSON-line
  *    files are renamed into the watched directory on a fixed schedule
  *    by one generator thread (open loop), rule lines likewise into
  *    the rule directory;
  *  - drain: a pre-written backlog renamed in one burst;
  *  - batch replay of the whole line set through `CepQuery.planAll`,
  *    after a replay of the warm-up files only that warms its code paths.
  *
  * Usage: `StreamRun <workDir> <trace 0|1> <cores>`. Inputs are
  * `plan.tsv`, `base_rules.jsonl` and `staged/` under `workDir`;
  * everything it writes lands under `workDir/out`.
  */
object StreamRun {

  val SetupRounds = 3
  val MetricQuery = "cep_one_pass"
  val ControlQuery = "cep_rule_control_dynamic"

  /** One scheduled rename: `kind` is `m` (metric file) or `r` (rule file). */
  final case class Item(phase: String, kind: String, dueMs: Long, name: String, lines: Int)

  /** Progress events of both queries, kept in memory for the run. */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    @volatile var metricRunId: java.util.UUID = _
    @volatile var firstCommitMs: Long = -1L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.runId == metricRunId) {
        events.add(p)
        if (firstCommitMs < 0) firstCommitMs = endMs(p)
      } else if (p.name == ControlQuery) events.add(p)
    }
  }

  def endMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L)

  /** Task metrics per (query or job group, micro-batch); traced runs only. */
  final class Tasks extends SparkListener {
    private val stageKey = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val byKey = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    @volatile var queryNames: Map[String, String] = Map.empty
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val props = Option(j.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val key = prop("sql.streaming.queryId") match {
        case Some(q) => s"${queryNames.getOrElse(q, "other")}\t${prop("streaming.sql.batchId").getOrElse("-1")}"
        case None => s"${prop("spark.jobGroup.id").getOrElse("other")}\t-1"
      }
      j.stageIds.foreach(s => stageKey.put(s, key))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        val key = Option(stageKey.get(t.stageId)).getOrElse("other\t-1")
        val a = byKey.computeIfAbsent(key, _ => new Array[Long](4))
        a.synchronized {
          a(0) += 1
          a(1) += m.executorCpuTime
          a(2) += m.jvmGCTime
          a(3) += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  /** Spans of the benchmark's own calls into each layer; traced runs
    * keep them in memory and write them when the run ends. */
  final class Spans(enabled: Boolean) {
    private val buf = ArrayBuffer[String]()
    private val ids = new AtomicLong(0L)
    def add(name: String, startMs: Double, endMs: Double, parent: Long): Long = {
      val id = ids.incrementAndGet()
      if (enabled) buf.synchronized {
        buf += f"""{"id":$id,"parent":$parent,"name":"$name","start_ms":$startMs%.3f,"end_ms":$endMs%.3f}"""
      }
      id
    }
    def time[T](name: String, parent: Long = 0L)(f: => T): (T, Double) = {
      val s = nowMs()
      val r = f
      val e = nowMs()
      add(name, s, e, parent)
      (r, e - s)
    }
    def lines: Seq[String] = buf.synchronized(buf.toList)
  }

  /** Wall-clock milliseconds with sub-millisecond resolution. */
  private val wallOrigin = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs(): Double = wallOrigin + System.nanoTime() / 1e6

  /** The session settings `graft.StreamBench` runs with. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", SessionTuning.localDir)
      .config("spark.sql.optimizer.excludedRules", SessionTuning.excludedRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).withColumnRenamed("value", "line")

  /** Rule lines → rule rows through the program's own rule parser. */
  def parseRuleFile(spark: SparkSession, path: String): Seq[RuleRow] =
    Parsers.parseRules(textLines(spark, path)).collect().toSeq.map(r => RuleRow(
      r.getAs[Int]("rule_id"), r.getAs[String]("rule_state"),
      r.getAs[String]("window_type"), r.getAs[Int]("window_minutes"),
      r.getAs[Int]("window_slide_minute"),
      r.getAs[scala.collection.Seq[String]]("grouping_key_names").toSeq,
      r.getAs[String]("agg_type"), r.getAs[String]("agg_field"),
      r.getAs[String]("cmp_op"), r.getAs[Double]("limit")))

  final class Run(val root: File) {
    val metricDir = new File(root, "metrics")
    val ruleDir = new File(root, "rules")
    val snapDir = new File(root, "snapshots")
    val ckptDir = new File(root, "checkpoint")
    val sinkDir = new File(root, "sink")
    Seq(metricDir, ruleDir).foreach(_.mkdirs())
  }

  /** Renames each item into its directory when due; never waits for
    * the engine. Returns (item, due wall ms, actual wall ms) per item. */
  def generate(items: Seq[Item], staged: File, run: Run,
      originMs: Double): Seq[(Item, Double, Double)] = {
    val log = ArrayBuffer[(Item, Double, Double)]()
    items.sortBy(_.dueMs).foreach { it =>
      val due = originMs + it.dueMs
      var left = due - nowMs()
      while (left > 0) {
        if (left > 2) Thread.sleep((left - 1).toLong) else Thread.onSpinWait()
        left = due - nowMs()
      }
      val dst = new File(if (it.kind == "m") run.metricDir else run.ruleDir, it.name)
      Files.move(new File(staged, it.name).toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
      log += ((it, due, nowMs()))
    }
    log.toList
  }

  def main(args: Array[String]): Unit = {
    val work = new File(args(0)).getAbsoluteFile
    val trace = args(1) == "1"
    val cores = args(2).toInt
    val staged = new File(work, "staged")
    val out = new File(work, "out")
    out.mkdirs()
    val items = scala.io.Source.fromFile(new File(work, "plan.tsv")).getLines()
      .map(_.split("\t")).map(a => Item(a(0), a(1), a(2).toLong, a(3), a(4).toInt)).toVector
    val baseRules = new File(work, "base_rules.jsonl").getPath
    val spans = new Spans(trace)
    val info = ArrayBuffer[String]()
    val jvmStart = nowMs()
    def mark(name: String): Unit = info += f""""at_$name":${nowMs() - jvmStart}%.0f"""
    val progress = new Progress
    val tasks = new Tasks
    Bench.calibLap(); Bench.calibLap()      // JIT the calibration loop

    // ---- setup, repeated; the last round's queries carry on ----
    val first = items.head
    var spark: SparkSession = null
    var engine: StreamingEngine = null
    var control: StreamingQuery = null
    var run: Run = null
    var setupStart = 0.0
    val setupMs = (0 until SetupRounds).map { round =>
      if (spark != null) { engine.shutdown(); control.stop(); spark.stop() }
      run = new Run(new File(work, s"round$round"))
      val setupFile = new File(run.metricDir, first.name).toPath
      if (round == SetupRounds - 1) Files.move(new File(staged, first.name).toPath, setupFile)
      else Files.copy(new File(staged, first.name).toPath, setupFile)
      val t0 = nowMs()
      setupStart = t0
      spark = session(cores)
      spark.streams.addListener(progress)
      if (trace) spark.sparkContext.addSparkListener(tasks)
      progress.firstCommitMs = -1L
      progress.events.clear()
      val book = new RuleBook
      book.applyChanges(parseRuleFile(spark, baseRules))
      val s = spark
      engine = new StreamingEngine(spark,
        () => Parsers.parseMetrics(CepRunner.fileLines(s, run.metricDir.getPath)), book,
        StreamingEngine.SinkConfig(format = "json", outputMode = "append",
          checkpointRoot = Some(run.ckptDir.getPath), pathRoot = Some(run.sinkDir.getPath)))
      val q = engine.startOnePassDynamic(run.snapDir.getPath)
      progress.metricRunId = q.runId
      control = engine.attachRuleStreamDynamic(
        CepRunner.fileLines(spark, run.ruleDir.getPath), run.snapDir.getPath)
      tasks.queryNames = Map(q.id.toString -> "metric", control.id.toString -> "control")
      while (progress.firstCommitMs < 0) Thread.sleep(2)
      val ms = progress.firstCommitMs - t0
      spans.add(s"setup.round$round", t0, progress.firstCommitMs, 0L)
      ms
    }
    mark("setup")
    val metricQ = spark.streams.active.find(_.name == MetricQuery).get
    def quiesce(): Unit = { control.processAllAvailable(); metricQ.processAllAvailable() }

    // ---- warm-up, timed phases, drain ----
    val genLog = ArrayBuffer[(Item, Double, Double)]()
    genLog += ((first, setupStart, setupStart))
    def phase(name: String, its: Seq[Item]): Unit = {
      val origin = nowMs() + 20
      val ((), ms) = spans.time(s"phase.$name") {
        genLog ++= generate(its, staged, run, origin)
        quiesce()
      }
      info += f""""phase_${name}_ms":$ms%.1f"""
    }
    phase("warm", items.filter(i => i.phase == "warm" && i != first))
    val calibBefore = Bench.calibLap()
    phase("timed", items.filter(i => i.phase == "lo" || i.phase == "hi"))
    val calibAfter = Bench.calibLap()
    phase("drain", items.filter(_.phase == "drain"))
    engine.shutdown()
    control.stop()
    mark("streaming")

    // ---- batch replay of the whole line set, after one over the warm-up files ----
    val ruleFrame = Parsers.parseRules(textLines(spark, baseRules)).cache()
    ruleFrame.count()
    val warmFiles = genLog.collect { case (it, _, _) if it.phase == "warm" && it.kind == "m" =>
      new File(run.metricDir, it.name).getPath }
    spark.sparkContext.setJobGroup("replay_warmup", "replay_warmup")
    replayOnce(spark, spans, warmFiles.toSeq, ruleFrame, new File(out, "replay_warmup").getPath)
    spark.sparkContext.setJobGroup("replay", "replay")
    val (replayPlanMs, replayExecMs) =
      replayOnce(spark, spans, Seq(run.metricDir.getPath), ruleFrame, new File(out, "replay").getPath)
    spark.sparkContext.clearJobGroup()
    mark("replay")
    val parseKept = Parsers.parseMetrics(textLines(spark, run.metricDir.getPath)).count()

    // ---- traced runs only: batch timing of single layers ----
    if (trace) layers(spark, spans, run, baseRules, out)

    val calib = math.min(calibBefore, calibAfter) / Bench.CalibRefSec

    // ---- write raw observations ----
    def write(name: String)(f: PrintWriter => Unit): Unit = {
      val w = new PrintWriter(new File(out, name), "UTF-8")
      try f(w) finally w.close()
    }
    val (metricP, controlP) = progress.events.asScala.toSeq.partition(_.runId == metricQ.runId)
    write("progress_metric.jsonl")(w => metricP.foreach(p => w.println(p.json)))
    write("progress_control.jsonl")(w => controlP.foreach(p => w.println(p.json)))
    write("gen.tsv")(w => genLog.foreach { case (it, due, act) =>
      w.println(f"${it.phase}\t${it.kind}\t${it.name}\t${it.lines}\t$due%.3f\t$act%.3f")
    })
    write("run.json") { w =>
      val fields = Seq(
        s""""setup_ms":${setupMs.mkString("[", ",", "]")}""",
        f""""replay_plan_ms":$replayPlanMs%.3f,"replay_exec_ms":$replayExecMs%.3f""",
        f""""calib_ratio":$calib%.4f""",
        s""""parse_kept":$parseKept""",
        s""""sink_dir":"${run.sinkDir.getPath}/$MetricQuery"""") ++ info
      w.println(fields.mkString("{", ",", "}"))
    }
    if (trace) {
      metricP.foreach(p => batchSpans(spans, p))
      write("spans.jsonl")(w => spans.lines.foreach(w.println))
      write("tasks.tsv")(w => tasks.byKey.asScala.foreach { case (k, a) =>
        w.println(s"$k\t${a.mkString("\t")}")
      })
    }
    spark.stop()
    System.err.println(f"[perfbench] stream run done at ${nowMs() - jvmStart}%.0f ms")
  }

  /** One micro-batch span with its `durationMs` parts as children, laid
    * out in the order the micro-batch runs them. */
  def batchSpans(spans: Spans, p: StreamingQueryProgress): Unit = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val id = spans.add(s"batch.${p.batchId}", start, start + d.getOrElse("triggerExecution", 0L), 0L)
    var t = start
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { k =>
        d.get(k).foreach { v => spans.add(s"batch.$k", t, t + v, id); t += v }
      }
  }

  /** `Parsers.parseMetrics` → `CepQuery.planAll` over the whole line set,
    * materialized as JSON; returns (plan ms, execute ms). */
  def replayOnce(spark: SparkSession, spans: Spans, lines: Seq[String],
      ruleFrame: DataFrame, dst: String): (Double, Double) = {
    val (plan, planMs) = spans.time("replay.plan") {
      val p = CepQuery.planAll(
        Parsers.parseMetrics(spark.read.text(lines: _*).withColumnRenamed("value", "line")), ruleFrame)
        .select(col("rule_id"), col("group_id"),
          unix_millis(col("window_start")).as("window_start"),
          unix_millis(col("window_end")).as("window_end"), col("result"))
      p.queryExecution.executedPlan
      p
    }
    val (_, execMs) = spans.time("replay.exec")(plan.write.mode("overwrite").json(dst))
    (planMs, execMs)
  }

  /** Batch timings of the parse and fan-out layers over the run's own
    * lines, and direct timing of rule-snapshot publication. */
  def layers(spark: SparkSession, spans: Spans, run: Run, baseRules: String,
      out: File): Unit = {
    val lines = textLines(spark, run.metricDir.getPath).cache()
    val nLines = lines.count()
    val parsed = Parsers.parseMetrics(lines).cache()
    val kept = parsed.count()
    val rows = parseRuleFile(spark, baseRules)
    val dir = new File(run.root, "layer_snapshots").getPath
    val persistMs = (1 to 21).map { v =>
      spans.time("rules.persist")(DynamicRules.persist(spark, dir, v.toLong, rows))._2
    }
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val parseMs = median((0 until 3).map(_ => spans.time("parse.parseMetrics")(
      Parsers.parseMetrics(lines).count())._2))
    var fanRows = 0L
    val fanMs = median((0 until 3).map { _ =>
      val (n, ms) = spans.time("fanout.fanOut")(DynamicRules.fanOut(parsed, dir).count())
      fanRows = n
      ms
    })
    val w = new PrintWriter(new File(out, "layers.json"), "UTF-8")
    try w.println(
      f"""{"lines":$nLines,"kept":$kept,"parse_ms":$parseMs%.3f,""" +
        f""""fanout_rows":$fanRows,"fanout_ms":$fanMs%.3f,""" +
        s""""persist_ms":${persistMs.map(v => f"$v%.3f").mkString("[", ",", "]")}}""")
    finally w.close()
    lines.unpersist(); parsed.unpersist()
  }
}
