package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

import graft.{CurateMain, GraftMain, GraftSession, Pipeline, ProcessSummary, TaskMetricsCollector}
import graft.config.{ConfigYaml, CurateConfig, PipelineConfig}
import graft.operators.{Dedup, Joins, Transforms}
import graft.sinks.ParquetSink
import graft.sources.MessageSource
import graft.streaming.StreamRunner

/** JVM side of the benchmark (`perfbench/run.py` launches it).
  *
  * Builds the session, parses the workload's config and builds its pipeline,
  * then prints `PB_READY` (the end of set-up). Then it runs one cold
  * iteration and `--warm` warm iterations, each through the public entry
  * point production uses
  * (`GraftMain.execute`, `StreamRunner.runAvailableNow`, `CurateMain.run`).
  * Timed iterations carry only the task-metric counters (plus, for the Avro
  * stream, the micro-batch progress its end-to-end metrics are made of).
  * With `--trace 1` it runs an untraced warm iteration, a traced one (job
  * ledger and streaming progress attached), another untraced one, then the
  * workload's layer passes. Everything measured, spans included, lands in
  * `--result` as JSON; outputs stay under `--work` for the correctness
  * oracle.
  */
object BenchMain {

  // ------------------------------------------------------------- telemetry

  /** Per-job task counters plus job call sites and times, so that work can
    * be attributed to the code that submitted it (curation stages).
    */
  final class JobLedger extends SparkListener {
    final case class Job(id: Int, callSite: String, start: Long, var end: Long = -1L,
        var cpuNs: Long = 0L, var shuffleB: Long = 0L, var tasks: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.HashMap.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // The result stage is named after the job's call site ("count at X.scala:N").
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs(e.jobId) = Job(e.jobId, site, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (m <- Option(e.taskMetrics); j <- stageJob.get(e.stageId).flatMap(jobs.get)) {
        j.cpuNs += m.executorCpuTime
        j.shuffleB += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.tasks += 1
      }
    }
    def since(firstJob: Int): Seq[Job] = synchronized(jobs.valuesIterator.filter(_.id >= firstJob).toVector)
    def nextJobId: Int = synchronized(if (jobs.isEmpty) 0 else jobs.keys.max + 1)
  }

  /** Micro-batch progress, one record per trigger (Structured Streaming's
    * own progress report).
    */
  final class BatchLedger extends StreamingQueryListener {
    val batches = mutable.ArrayBuffer.empty[Map[String, Long]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches += d + ("numInputRows" -> e.progress.numInputRows)
    }
    def take(): Seq[Map[String, Long]] = synchronized { val b = batches.toVector; batches.clear(); b }
  }

  final case class Span(name: String, parent: String, start: Long, end: Long,
      cpuNs: Long, shuffleB: Long) {
    def wallS: Double = (end - start) / 1e9
    def cpuS: Double = cpuNs / 1e9
    def shuffleMb: Double = shuffleB / 1e6
    def record(origin: Long): Map[String, Any] = Map("name" -> name, "parent" -> parent,
      "start_s" -> (start - origin) / 1e9, "end_s" -> (end - origin) / 1e9,
      "cpu_s" -> cpuS, "shuffle_mb" -> shuffleMb)
  }

  // ------------------------------------------------------------ tiny JSON

  private def js(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + GraftMain.jsonEscape(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Float => n.toDouble.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: Map[_, _] => m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case other => js(other.toString)
  }

  // ---------------------------------------------------------------- main

  final class Opts(args: Array[String]) {
    private val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def apply(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    def get(k: String): Option[String] = m.get(k)
  }

  def main(args: Array[String]): Unit = {
    val o = new Opts(args)
    val code =
      try { run(o); 0 }
      catch { case t: Throwable => System.err.println(GraftMain.failureRecord(t)); t.printStackTrace(); 3 }
    System.exit(code)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def run(o: Opts): Unit = {
    val nproc = o("nproc").toInt
    val input = o("input")
    val work = Paths.get(o("work"))
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$nproc]").getOrCreate()
    val t1 = System.nanoTime()
    GraftSession.get()
    val t2 = System.nanoTime()
    val w = Workload(o("workload"), spark, input)
    val t3 = System.nanoTime()
    val setup = Map("session.start_s" -> (t1 - t0) / 1e9, "session.configure_s" -> (t2 - t1) / 1e9,
      "workload.prepare_s" -> (t3 - t2) / 1e9,
      "jvm_uptime_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
    println("PB_READY")
    System.out.flush()

    val sc = spark.sparkContext
    val snap = TaskMetricsCollector.install(sc)
    // Micro-batch durations are the Avro stream's end-to-end metric, so its
    // timed iterations carry the progress listener; the JSON workload gets it
    // only for the Avro pass of its traced run.
    val batchLedger = new BatchLedger
    if (w.streaming) spark.streams.addListener(batchLedger)

    val heap = ManagementFactory.getMemoryMXBean
    val iters = mutable.ArrayBuffer.empty[Map[String, Any]]
    def iteration(k: Int, wl: Workload = w, name: String = "",
        ledger: Option[JobLedger] = None): Map[String, Any] = {
      val dir = work.resolve(if (name.isEmpty) s"iter-$k" else name)
      wl.prepare(dir)
      val s0 = snap(); val gc0 = gcMs
      val job0 = ledger.map(_.nextJobId)
      batchLedger.take()
      val start = System.nanoTime()
      val outcome =
        try Right(wl.iterate(dir))
        catch { case t: Throwable => t.printStackTrace(); Left(GraftMain.failureRecord(t)) }
      val wall = (System.nanoTime() - start) / 1e9
      val s1 = snap() - s0
      val gc = (gcMs - gc0) / 1e3
      val traced = ledger.zip(job0).map { case (l, j0) =>
        val t0 = System.nanoTime()
        val jobs = l.since(j0)
        val stages = wl.attribute(jobs, start)
        Map[String, Any]("jobs" -> jobs.size, "stages" -> stages, "job_sites" -> jobs.map(_.callSite),
          "attribute_s" -> (System.nanoTime() - t0) / 1e9)
      }.getOrElse(Map.empty)
      // Live heap after the iteration: collect, give the context cleaner
      // time to drop the iteration's shuffle/broadcast state, collect again.
      System.gc(); Thread.sleep(300); System.gc()
      val heapMb = heap.getHeapMemoryUsage.getUsed / 1e6
      val rec = Map[String, Any](
        "k" -> k, "dir" -> dir.toString, "wall_s" -> wall, "cpu_s" -> s1.cpuMs / 1e3,
        "shuffle_mb" -> (s1.shufReadB + s1.shufWriteB) / 1e6, "tasks" -> s1.tasks,
        "gc_s" -> gc, "heap_mb" -> heapMb, "batches" -> batchLedger.take(),
        "summary" -> outcome.fold(_ => null, identity), "error" -> outcome.fold(identity, _ => null),
        "traced" -> ledger.isDefined) ++ traced
      System.err.println(s"[perfbench] iteration $k: ${"%.3f".format(wall)} s")
      rec
    }

    val trace = o.get("trace").contains("1")
    iters += iteration(0)
    var layers: Map[String, Any] = Map.empty
    var auxIter: Map[String, Any] = null
    val tracer = new Tracer(snap, System.nanoTime())
    if (!trace) {
      // A fixed count, so every run's medians cover the same JIT-warming
      // iterations; run.py sizes it from --seconds.
      for (k <- 1 to o("warm").toInt) iters += iteration(k)
    } else {
      // After the warm-up: untraced, traced, untraced. The tracing overhead
      // is the traced iteration against the mean of its neighbours, which
      // cancels a steady JIT drift.
      val k0 = o("warmup").toInt
      for (k <- 1 to k0) iters += iteration(k)
      iters += iteration(k0 + 1)
      val ledger = new JobLedger
      sc.addSparkListener(ledger)
      tracer.time("traced_iteration", "trace")(iters += iteration(k0 + 2, ledger = Some(ledger)))
      sc.removeSparkListener(ledger)
      iters += iteration(k0 + 3)
      tracer.time("layers", "trace") {
        layers = w.trace(tracer, work.resolve("trace"))
        // The Avro stream's layers, measured in the JSON workload's traced
        // run: one StreamRunner pass for the micro-batch progress, then the
        // Avro envelope by differencing.
        o.get("aux-input").map(new AvroStream(spark, _)).foreach { a =>
          spark.streams.addListener(batchLedger)
          tracer.time("aux_stream", "layers") { auxIter = iteration(-1, a, "aux-stream") }
          layers ++= a.envelopeLayer(tracer)
        }
      }
    }

    Files.writeString(Paths.get(o("result")), js(Map(
      "setup" -> setup, "iterations" -> iters.toSeq, "layers" -> layers, "aux_iteration" -> auxIter,
      "spans" -> tracer.spans.map(_.record(tracer.origin)), "spark_version" -> spark.version)))
    spark.stop()
  }

  // ------------------------------------------------------------ tracing

  /** Spans recorded from the benchmark's own code around calls into each
    * layer. `time` runs one action and captures wall, executor CPU and
    * shuffle bytes between drained listener-bus edges (`snap` drains).
    * Span times are reported in seconds from `origin`.
    */
  final class Tracer(snap: () => TaskMetricsCollector.Snap, val origin: Long) {
    val spans = mutable.ArrayBuffer.empty[Span]
    def time(name: String, parent: String)(body: => Unit): Span = {
      val s0 = snap(); val t0 = System.nanoTime()
      body
      val t1 = System.nanoTime()
      val d = snap() - s0
      val s = Span(name, parent, t0, t1, d.cpuMs * 1000000L, d.shufReadB + d.shufWriteB)
      spans += s
      s
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    /** Materialize a layer's input once, so the next layer is timed alone. */
    def materialize(name: String, df: DataFrame): DataFrame = {
      var out: DataFrame = null
      time(s"materialize:$name", "layers") { out = df.localCheckpoint(true) }
      out
    }
    /** Self time of `layer` over a materialized input: (input → layer →
      * noop) − (input → noop), with CPU and shuffle differenced the same way.
      */
    def layer(name: String, input: DataFrame, out: DataFrame): (Double, Double, Double) = {
      val base = time(s"baseline:$name", "layers")(noop(input))
      val full = time(name, "layers")(noop(out))
      (full.wallS - base.wallS, full.cpuS - base.cpuS, full.shuffleMb - base.shuffleMb)
    }
  }

  // ----------------------------------------------------------- workloads

  trait Workload {
    def prepare(dir: Path): Unit
    def iterate(dir: Path): Map[String, Any]
    /** Whether `iterate` runs a streaming query. */
    def streaming: Boolean = false
    /** Work of the traced iteration's jobs, by workload stage. */
    def attribute(jobs: Seq[JobLedger#Job], iterStartNs: Long): Map[String, Any] = Map.empty
    /** Per-layer metrics from the workload's layer passes. */
    def trace(t: Tracer, dir: Path): Map[String, Any]
  }

  object Workload {
    def apply(name: String, spark: SparkSession, input: String): Workload = name match {
      case "etl_json_assign" => new JsonAssign(spark, input)
      case "etl_avro_stream" => new AvroStream(spark, input)
      case "curate_neardup" => new CurateNearDup(spark, input)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  /** The generator's `env.properties`: settings passed as environment. */
  private def inputEnv(input: String): Map[String, String] = {
    val p = new java.util.Properties()
    val r = Files.newBufferedReader(Paths.get(input, "env.properties"))
    try p.load(r) finally r.close()
    p.asScala.toMap
  }

  private def dirBytesAndFiles(dir: Path): (Long, Long) = {
    val files = Files.walk(dir).iterator().asScala.filter(p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toVector
    (files.map(Files.size).sum, files.size.toLong)
  }

  private def summaryMap(s: ProcessSummary): Map[String, Any] = Map(
    "event_count" -> s.eventCount, "empty_count" -> s.emptyCount,
    "non_empty_count" -> s.nonEmptyCount, "error_count" -> s.errorCount,
    "written_to_db_count" -> s.writtenToDbCount)

  /** The ETL chain's layers after the envelope, shared by both ETL traces:
    * transforms, then dedup against `existing`, then the parquet sink.
    */
  private def traceTail(t: Tracer, pipeline: Pipeline, env: DataFrame, dir: Path,
      existing: Option[DataFrame]): Map[String, Any] = {
    val cfg = pipeline.cfg
    val tr = Transforms(env, cfg.transform, pipeline.batchTime)
    val (trSelf, trCpu, _) = t.layer("transforms", env, tr)
    val out = t.materialize("transforms", tr)
    val keys = cfg.target.skipDuplicatesWith
    val deduped = existing match {
      case Some(ex) => Joins.dedupAgainst(out, ex, keys)
      case None => out.dropDuplicates(keys)
    }
    val (ddSelf, ddCpu, ddShuf) = t.layer("dedup", out, deduped)
    val dd = t.materialize("dedup", deduped)
    val inRows = out.count().toDouble
    val outRows = dd.count().toDouble
    val base = t.time("baseline:sinks", "layers")(t.noop(dd))
    val sinkDir = dir.resolve("sink")
    val full = t.time("sinks", "layers")(new ParquetSink(sinkDir.toString).write(dd))
    val (bytes, files) = dirBytesAndFiles(sinkDir)
    Map("transforms.self_s" -> trSelf, "transforms.cpu_s" -> trCpu,
      "dedup.self_s" -> ddSelf, "dedup.cpu_s" -> ddCpu, "dedup.shuffle_mb" -> ddShuf,
      "dedup.dropped_share" -> (if (inRows > 0) 1.0 - outRows / inRows else 0.0),
      "sinks.self_s" -> (full.wallS - base.wallS), "sinks.bytes_written" -> bytes.toDouble,
      "sinks.files_written" -> files.toDouble)
  }

  /** `GraftMain.execute`, assign strategy, over the generated events topic. */
  final class JsonAssign(spark: SparkSession, input: String) extends Workload {
    private val yaml = Files.readString(Paths.get(input, "config.yaml"))
    private val menv = inputEnv(input)
    private val payload = StructType.fromDDL(menv("GRAFT_PAYLOAD_SCHEMA"))
    // Config parsed and pipeline built as part of set-up, like a task's start.
    private val cfg: PipelineConfig = ConfigYaml.fromYaml(yaml)
    private val pipeline = new Pipeline(cfg, payload)

    def prepare(dir: Path): Unit = {
      val sink = dir.resolve("sink")
      Files.createDirectories(sink)
      Files.list(Paths.get(input, "preseed")).iterator().asScala.foreach(f =>
        Files.copy(f, sink.resolve(f.getFileName)))
    }

    private def env(dir: Path): GraftMain.Env = (menv ++ Map(
      "CONSUMER_CONFIG" -> yaml.replace("@SINK@", dir.resolve("sink").toString),
      "GRAFT_SOURCE_DIR" -> input,
      "GRAFT_K6_DIM_DIR" -> input)).get

    def iterate(dir: Path): Map[String, Any] = summaryMap(GraftMain.execute(env(dir)))

    def trace(t: Tracer, dir: Path): Map[String, Any] = {
      prepare(dir)
      val e = env(dir)
      val raw = MessageSource.fromEvents(spark, input, cfg.source.topic,
        startMs = e("DATA_INTERVAL_START").map(_.toLong), endMs = e("DATA_INTERVAL_END").map(_.toLong))
      val src = t.time("sources", "layers")(t.noop(raw))
      val rawM = t.materialize("sources", raw)

      val envDf = pipeline.envelope(rawM)
      val (envSelf, envCpu, _) = t.layer("envelope_json", rawM, envDf)
      val noOps = new Pipeline(cfg.copy(source = cfg.source.copy(
        messageFieldsFilter = Nil, flagFieldConfig = Nil)), payload)
      val noOpsSpan = t.time("envelope_json_without_payload_ops", "layers")(t.noop(noOps.envelope(rawM)))
      val withOps = t.spans.find(_.name == "envelope_json").get
      val envM = t.materialize("envelope_json", envDf)
      val counts = envM.agg(
        count(when(col("kafka_error"), 1)),
        count(when(col("kafka_message").isNull && !col("kafka_error") && col("kafka_hash").isNotNull, 1)),
        count(when(col("kafka_message").isNull, 1))).head()

      val dim = GraftMain.loadK6Dim(spark, cfg, e).get
      val masked = Joins.k6Mask(envM, dim, cfg.target.k6Filter.get)
      val (k6Self, k6Cpu, _) = t.layer("k6_mask", envM, masked)
      val maskedM = t.materialize("k6_mask", masked)
      val nullAfter = maskedM.where(col("kafka_message").isNull).count()

      val existing = new ParquetSink(dir.resolve("sink").toString)
        .existing(spark, cfg.target.skipDuplicatesWith)
      Map(
        "sources.self_s" -> src.wallS, "sources.cpu_s" -> src.cpuS, "sources.shuffle_mb" -> src.shuffleMb,
        "envelope_json.self_s" -> envSelf, "envelope_json.cpu_s" -> envCpu,
        "envelope_json.error_rows" -> counts.getLong(0).toDouble,
        "envelope_json.filtered_rows" -> counts.getLong(1).toDouble,
        "payload_ops.self_s" -> (withOps.wallS - noOpsSpan.wallS),
        "payload_ops.cpu_s" -> (withOps.cpuS - noOpsSpan.cpuS),
        "k6_mask.self_s" -> k6Self, "k6_mask.cpu_s" -> k6Cpu,
        "k6_mask.masked_rows" -> (nullAfter - counts.getLong(2)).toDouble,
      ) ++ traceTail(t, pipeline, maskedM, dir.resolve("out"), existing)
    }
  }

  /** `Pipeline` + `StreamRunner.runAvailableNow` over a file-backed topic of
    * Confluent-framed Avro, one file per micro-batch.
    */
  final class AvroStream(spark: SparkSession, input: String) extends Workload {
    private val payload = StructType.fromDDL(inputEnv(input)("GRAFT_PAYLOAD_SCHEMA"))
    private val yaml = Files.readString(Paths.get(input, "config.yaml"))
    // Writer schemas by id, as a registry would resolve them at plan build.
    private val schemas: Map[Int, String] =
      Files.list(Paths.get(input, "schemas")).iterator().asScala.map { f =>
        f.getFileName.toString.stripSuffix(".avsc").toInt -> Files.readString(f)
      }.toMap
    private def config(dir: Path): PipelineConfig =
      ConfigYaml.fromYaml(yaml.replace("@SINK@", dir.resolve("sink").toString))
    private val pipeline0 = new Pipeline(config(Paths.get(input)), payload, avroSchemasById = schemas)
    private val topic = Paths.get(input, "topic").toString

    def prepare(dir: Path): Unit = Files.createDirectories(dir)

    override def streaming: Boolean = true

    def iterate(dir: Path): Map[String, Any] = {
      val cfg = config(dir)
      val pipeline = new Pipeline(cfg, payload, avroSchemasById = schemas)
      val runner = new StreamRunner(pipeline, new ParquetSink(cfg.target.table), dir.resolve("ckpt").toString)
      val stream = spark.readStream.schema(MessageSource.schema)
        .option("maxFilesPerTrigger", "1").parquet(topic)
      runner.runAvailableNow(spark, stream)
      summaryMap(runner.summary)
    }

    /** The topic read as one batch; `sources` over the file-stream's files. */
    private def readTopic(t: Tracer): (Span, DataFrame) = {
      val raw = spark.read.schema(MessageSource.schema).parquet(topic)
      val src = t.time("sources_avro", "layers")(t.noop(raw))
      (src, t.materialize("sources_avro", raw))
    }

    private def envelope(t: Tracer, rawM: DataFrame): (Map[String, Any], DataFrame) = {
      val envDf = pipeline0.envelope(rawM)
      val (envSelf, envCpu, _) = t.layer("envelope_avro", rawM, envDf)
      val envM = t.materialize("envelope_avro", envDf)
      val errors = envM.where(col("kafka_error")).count()
      (Map("envelope_avro.self_s" -> envSelf, "envelope_avro.cpu_s" -> envCpu,
        "envelope_avro.error_rows" -> errors.toDouble), envM)
    }

    def envelopeLayer(t: Tracer): Map[String, Any] = envelope(t, readTopic(t)._2)._1

    def trace(t: Tracer, dir: Path): Map[String, Any] = {
      val (src, rawM) = readTopic(t)
      val (env, envM) = envelope(t, rawM)
      env ++ Map(
        "sources.self_s" -> src.wallS, "sources.cpu_s" -> src.cpuS, "sources.shuffle_mb" -> src.shuffleMb,
      ) ++ traceTail(t, pipeline0, envM, dir, None)
    }
  }

  /** `CurateMain.run` over the generated corpus. */
  final class CurateNearDup(spark: SparkSession, input: String) extends Workload {
    private val yaml = Files.readString(Paths.get(input, "config.yaml"))
    private val cfg0 = CurateConfig.fromYaml(yaml)
    private def config(dir: Path) = CurateConfig.fromYaml(yaml.replace("@OUT@", dir.resolve("out").toString))

    def prepare(dir: Path): Unit = Files.createDirectories(dir)

    def iterate(dir: Path): Map[String, Any] = {
      val cfg = config(dir)
      val report = CurateMain.run(spark, cfg)
      CurateMain.writeReport(spark, cfg, report)
      report.stages.toMap
    }

    /** CurateMain's stages end at the lines that record their counts. A job
      * submitted from CurateMain.scala belongs to the stage its line falls
      * in; any other job (AQE query stages, Dedup's checkpoints) to the
      * stage of the next CurateMain job, the action that waited for it.
      * Lines are read from the source, so the map follows edits; a stage
      * whose count line is gone fails the traced run.
      */
    private lazy val stageEnds: Seq[(String, Int)] = {
      val src = Paths.get(System.getProperty("perfbench.src", "."), "src/main/scala/graft/CurateMain.scala")
      val lines = Files.readAllLines(src).asScala.toVector
      Seq("input" -> "\"input\"", "filters" -> "\"after_filters\"",
        "exact_dedup" -> "\"after_exact_dedup\"", "near_dedup" -> "\"after_near_dedup\"")
        .map { case (stage, marker) =>
          val line = lines.indexWhere(l => l.contains("stages +=") && l.contains(marker)) + 1
          if (line == 0) throw new IllegalStateException(s"no `stages += $marker` line in $src")
          stage -> line
        } :+ ("write" -> Int.MaxValue)
    }

    override def attribute(jobs: Seq[JobLedger#Job], iterStartNs: Long): Map[String, Any] = {
      val names = stageEnds.map(_._1)
      val own: JobLedger#Job => Option[String] = j =>
        if (!j.callSite.contains("CurateMain.scala:")) None
        else j.callSite.split(":").last.trim.toIntOption
          .map(line => stageEnds.collectFirst { case (n, end) if line <= end => n }.get)
      val sorted = jobs.sortBy(j => (j.start, j.id))
      val stageOf = sorted.indices.map { i =>
        sorted.drop(i).iterator.map(own).collectFirst { case Some(n) => n }.getOrElse("write")
      }
      var prevEnd = System.currentTimeMillis() - (System.nanoTime() - iterStartNs) / 1000000L
      names.map { n =>
        val js = sorted.zip(stageOf).collect { case (j, s) if s == n => j }
        val end = (prevEnd +: js.map(_.end)).max
        val wall = (end - prevEnd) / 1e3
        prevEnd = end
        n -> Map("wall_s" -> wall, "cpu_s" -> js.map(_.cpuNs).sum / 1e9,
          "shuffle_mb" -> js.map(_.shuffleB).sum / 1e6, "jobs" -> js.size)
      }.toMap
    }

    /** Pair generation and clustering alone, over the exact-deduplicated
      * corpus. The stage metrics come from the traced iteration.
      */
    def trace(t: Tracer, dir: Path): Map[String, Any] = {
      val docs = spark.read.parquet(cfg0.input)
      val id = cfg0.idColumn
      val deduped = docs.join(Dedup.exact(docs, id, md5(col(cfg0.textColumn)))
        .select(col("kept_id").as(id)), id)
      val dd = t.materialize("exact_dedup", deduped)
      var pairs = 0L; var removed = 0L
      val span = t.time("near_dedup", "layers") {
        val p = Dedup.jaccardPairs(dd, id, cfg0.textColumn, n = 3,
          threshold = cfg0.nearDupThreshold.get).localCheckpoint(true)
        pairs = p.count()
        removed = Dedup.connectedComponents(p).where(col("id") =!= col("component")).count()
      }
      val n = dd.count().toDouble
      Map("near_dedup.pairs_out" -> pairs.toDouble, "near_dedup.cpu_s" -> span.cpuS,
        "near_dedup.shuffle_mb" -> span.shuffleMb,
        "near_dedup.removed_share" -> (if (n > 0) removed / n else 0.0))
    }
  }
}
