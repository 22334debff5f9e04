package graftbench

import graft.{Caching, GraftSession, SparkEntry, Verify}
import graft.sources.{ParquetSink, Sink}
import graft.taxi.TaxiPipeline
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark harness: runs one workload in this JVM and writes what it
  * measured to `result=<file>` as JSON. It drives the program only
  * through public entry points and times each call from outside.
  *
  * Arguments are `key=value`:
  *  - `mode`: `catalog` (the queries in `names`, in order, on the
  *    tables in `sf`), `taxi` (TaxiPipeline on the parquet in `raw`)
  *    or `survey` (composes and runs every batch query once, recording
  *    the jobs each starts while composing);
  *  - `seconds`: the timed region starts passes until this many
  *    seconds have gone;
  *  - `trace=1` attaches Spark's listeners on every second pass and
  *    reports per-layer totals for those passes;
  *  - `cpus`, `work` (scratch directory), `dump` (Verify output).
  *
  * Each run is one client in a closed loop: an operation starts when
  * the previous one has returned.
  */
object Harness {
  private implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val run = new Run(opt)
    val out = opt("mode") match {
      case "catalog" => run.catalog()
      case "taxi" => run.taxi()
      case "survey" => run.survey()
      case m => sys.error(s"unknown mode $m")
    }
    Files.writeString(Paths.get(opt("result")), Serialization.write(out))
  }
}

/** One operation of the timed region: a catalog query or a taxi stage. */
final case class Op(pass: Int, name: String, latency: Double, error: String)

final class Run(opt: Map[String, String]) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val cpus = opt("cpus")
  private val seconds = opt("seconds").toDouble
  private val traced = opt.get("trace").contains("1")
  private val work = opt("work")
  private val tr = new Tracer
  private val ops = ArrayBuffer.empty[Op]
  private val passWall = ArrayBuffer.empty[(Int, Boolean, Double)]
  private var spark: SparkSession = _
  private var collector: Collector = _
  private var streams: StreamCollector = _
  private var firstOpMs = 0L
  private var gcTracedMs = 0L
  private val trackerMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val sinkFiles = mutable.Map.empty[String, (Long, Long)]
    .withDefaultValue((0L, 0L))

  private def newSession(): SparkSession = {
    val s = GraftSession.create(s"local[$cpus]", cpus)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Reads every input byte once, so the first timed scan does not
    * wait on the disk. */
  private def pretouch(dir: String): Unit = {
    val buf = new Array[Byte](1 << 20)
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).foreach { p =>
        val in = Files.newInputStream(p)
        try while (in.read(buf) >= 0) () finally in.close()
      }
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def attach(): Unit = {
    if (collector == null) {
      collector = new Collector
      streams = new StreamCollector
      heapPools.foreach(_.resetPeakUsage())
    }
    spark.sparkContext.addSparkListener(collector)
    spark.streams.addListener(streams)
    tr.tagging = Some(spark.sparkContext)
  }

  private def detach(): Unit = if (collector != null) {
    org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(collector)
    spark.streams.removeListener(streams)
    tr.tagging = None
  }

  private def tracedPasses: Set[Int] = passWall.filter(_._2).map(_._1).toSet

  /** Repeats `pass` until `seconds` have gone; the last pass runs to
    * its end. A traced run alternates traced and untraced passes after
    * the first, and runs at least one of each, so that tracing
    * overhead compares passes that follow the same settling pass. */
  private def timed(pass: Int => Unit): HostLoad = {
    val load = new HostLoad
    firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var n = 0
    def traceDone = !traced || (tracedPasses.nonEmpty && passWall.size > 2)
    while (!traceDone || System.nanoTime() - t0 < seconds * 1e9) {
      val isTraced = traced && n % 2 == 1
      if (isTraced) attach()
      tr.pass = n
      val gc0 = gcMs
      val w0 = System.nanoTime()
      pass(n)
      passWall += ((n, isTraced, (System.nanoTime() - w0) / 1e9))
      if (isTraced) {
        gcTracedMs += gcMs - gc0
        detach()
      }
      n += 1
    }
    load
  }

  private def common(load: HostLoad): Map[String, Any] = {
    val (la0, la1, other) = load.finish()
    val base = Map(
      "setup_s" -> (firstOpMs - jvmStartMs) / 1e3,
      "session_create_s" -> tr.spans.filter(_.name == "session.create").map(_.sec).sum,
      "session_warm_s" -> tr.spans.filter(_.name == "session.warm").map(_.sec).sum,
      "passes" -> passWall.map { case (p, t, w) =>
        Map("pass" -> p, "traced" -> t, "wall_s" -> w) },
      "ops" -> ops.map(o => Map("pass" -> o.pass, "name" -> o.name,
        "latency_s" -> o.latency, "error" -> o.error)),
      "host" -> Map("loadavg_start" -> la0, "loadavg_end" -> la1,
        "other_cpu_frac" -> other))
    if (!traced) base
    else {
      base ++ Map("layers" -> layers(), "spans" -> tr.spans
        .filter(s => tracedPasses(s.pass))
        .map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "op" -> s.op, "pass" -> s.pass, "start_ns" -> s.start,
          "end_ns" -> s.end)))
    }
  }

  // ---------------------------------------------------------------- catalog

  def catalog(): Map[String, Any] = {
    val names = opt("names").split(",").toSeq
    val sf = opt("sf")
    spark = tr("session.create")(newSession())
    val queries = SparkEntry.queries
    tr("session.warm") {
      // the untimed warm pass is Verify's dump of the same queries: it
      // fills codegen, JIT and the page cache and leaves the outputs
      // for the oracle check. Verify stops the session when it is done.
      Verify.main(Array(sf, opt("dump")) ++ names)
      spark = newSession()
      pretouch(sf)
      Caching.releaseAll()
      spark.catalog.clearCache()
    }
    val load = timed { pass =>
      names.foreach { name =>
        val op = s"$pass:$name"
        var error = ""
        var latency = 0.0
        tr("query", op) {
          val t0 = System.nanoTime()
          try {
            val df = tr("compose", op)(queries(name)(spark, sf))
            tr("catalyst", op)(df.queryExecution.executedPlan)
            if (tr.tagging.isDefined) df.queryExecution.tracker.phases
              .foreach { case (k, v) => trackerMs(k) += v.durationMs }
            tr("execute", op)(df.write.format("noop").mode("overwrite").save())
          } catch { case e: Throwable => error = e.toString.take(400) }
          latency = (System.nanoTime() - t0) / 1e9
          tr("release", op) {
            Caching.releaseAll()
            spark.catalog.clearCache()
          }
        }
        ops += Op(pass, name, latency, error)
      }
    }
    val out = common(load)
    spark.stop()
    out
  }

  // ------------------------------------------------------------------- taxi

  /** Times each `Sink.write` as a span, and remembers when the first
    * write of the stage began. */
  private final class TimedSink(inner: Sink, stage: String, op: String)
      extends Sink {
    var firstWrite = 0L
    override def write(df: DataFrame, table: String, mode: SaveMode): Unit = {
      if (firstWrite == 0L) firstWrite = System.nanoTime()
      tr(s"sink.$stage", op)(inner.write(df, table, mode))
    }
  }

  private def dirFiles(dir: String): (Long, Long) =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }

  private def taxiPass(raw: String, pass: Int): Unit = {
    val cleanDir = s"$work/clean"
    val tablesDir = s"$work/tables"
    def stage(name: String)(body: String => Unit): Unit = {
      val op = s"$pass:$name"
      var error = ""
      val t0 = System.nanoTime()
      try tr(name, op)(body(op))
      catch { case e: Throwable => error = e.toString.take(400) }
      if (pass >= 0) ops += Op(pass, name, (System.nanoTime() - t0) / 1e9, error)
    }
    stage("taxi.clean") { op =>
      val sink = new TimedSink(new ParquetSink(cleanDir), "clean", op)
      val in = tr("read", op)(spark.read.parquet(raw))
      val cleaned = tr("clean", op)(TaxiPipeline.clean(in))
      sink.write(cleaned, "trips", SaveMode.Overwrite)
    }
    stage("taxi.analytics") { op =>
      val sink = new TimedSink(new ParquetSink(tablesDir), "analytics", op)
      val in = tr("read", op)(spark.read.parquet(s"$cleanDir/trips"))
      tr("run", op) {
        val t0 = System.nanoTime()
        TaxiPipeline.run(in, sink, overwrite = true)
        if (sink.firstWrite > 0) tr.record("prewrite", op, t0, sink.firstWrite)
      }
    }
    tr("release", s"$pass:release") {
      Caching.releaseAll()
      spark.catalog.clearCache()
    }
    if (tr.tagging.isDefined) {
      def add(stage: String, d: String) = {
        val (n, b) = dirFiles(d)
        val (n0, b0) = sinkFiles(stage)
        sinkFiles(stage) = (n0 + n, b0 + b)
      }
      add("clean", cleanDir)
      add("analytics", tablesDir)
    }
  }

  def taxi(): Map[String, Any] = {
    val raw = opt("raw")
    spark = tr("session.create")(newSession())
    tr("session.warm") {
      pretouch(raw)
      taxiPass(raw, -1)
    }
    val load = timed(pass => taxiPass(raw, pass))
    val out = common(load)
    spark.stop()
    out
  }

  // ----------------------------------------------------------------- survey

  /** Composes and runs every batch query once with the listeners on;
    * one JSON object per query with its compose time and jobs. */
  def survey(): Map[String, Any] = {
    val sf = opt("sf")
    spark = newSession()
    attach()
    val queries = SparkEntry.queries
    val names = opt.get("names").map(_.split(",").toSeq)
      .getOrElse(queries.keys.toSeq.sorted)
    tr.pass = 0
    val rows = names.map { name =>
      val op = s"0:$name"
      val t0 = System.nanoTime()
      var composeS = 0.0
      val error = try {
        val df = tr("compose", op)(queries(name)(spark, sf))
        composeS = (System.nanoTime() - t0) / 1e9
        df.write.format("noop").mode("overwrite").save()
        ""
      } catch { case e: Throwable => e.toString.take(400) }
      val total = (System.nanoTime() - t0) / 1e9
      Caching.releaseAll()
      spark.catalog.clearCache()
      (name, composeS, total, error)
    }
    org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
    val composeJobs = collector.jobs.filter(_.phase == "compose")
      .groupBy(_.op.drop(2)).map { case (k, v) => k -> v.size }
    spark.stop()
    Map("queries" -> rows.map { case (n, c, t, e) =>
      Map("name" -> n, "compose_s" -> c, "total_s" -> t,
        "compose_jobs" -> composeJobs.getOrElse(n, 0), "error" -> e) })
  }

  // ------------------------------------------------------------ per layer

  /** Length of the part of [a, b] (epoch ms) covered by `jobs`. */
  private def covered(a: Long, b: Long, jobs: Seq[JobSpan]): Long = {
    val iv = jobs.map(j => (math.max(a, j.start), math.min(b, j.end)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (0L, -1L)
    iv.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total
  }

  /** Per-layer totals over the traced passes, divided by their number. */
  private def layers(): Map[String, Double] = {
    val n = tracedPasses.size.toDouble
    val spans = tr.spans.filter(s => tracedPasses(s.pass))
    val nano0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    def epoch(ns: Long) = ms0 + (ns - nano0) / 1000000L
    def sum(name: String) = spans.filter(_.name == name).map(_.sec).sum / n
    val jobsByOp = collector.jobs.groupBy(_.op)
    /** Seconds of `name` spans not covered by their operation's jobs
      * started in `phases`. */
    def gap(name: String, phases: String => Boolean) = spans.filter(_.name == name)
      .map { s =>
        val js = jobsByOp.getOrElse(s.op, ArrayBuffer.empty[JobSpan])
          .filter(j => phases(j.phase)).toSeq
        s.sec - covered(epoch(s.start), epoch(s.end), js) / 1e3
      }.sum / n
    val accs = collector.byPhase.toMap
    def tot(f: Acc => Long, keep: String => Boolean = _ => true) =
      accs.filter(a => keep(a._1)).values.map(f).sum.toDouble
    val mb = 1048576.0
    val notCompose = (p: String) => p != "compose"
    val sinks = (p: String) => p.startsWith("sink.")
    val isTaxi = spans.exists(_.name == "taxi.clean")
    val execName = if (isTaxi) Set("taxi.clean", "taxi.analytics") else Set("execute")
    val execS = spans.filter(s => execName(s.name)).map(_.sec).sum / n
    val opNames = if (isTaxi) execName else Set("query")
    val opSpans = spans.filter(s => opNames(s.name))
    val childS = opSpans.map { o =>
      spans.filter(c => c.parent == o.id).map(_.sec).sum
    }
    val unreconciled = opSpans.zip(childS).count { case (o, c) =>
      o.sec > 0 && math.abs(1 - c / o.sec) > 0.10 }
    val ops = opSpans.size / n
    val taskS = tot(_.taskMs, notCompose) / 1e3 / n
    val (files, bytes) = sinkFiles.values.foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d) }
    def sinkOf(stage: String) = Map(
      s"sink.$stage.write_s" -> sum(s"sink.$stage"),
      s"sink.$stage.rows" -> tot(_.outRows, _ == s"sink.$stage") / n,
      s"sink.$stage.mb" -> sinkFiles(stage)._2 / mb / n,
      s"sink.$stage.files" -> sinkFiles(stage)._1 / n)
    Map(
      "compose.s" -> sum("compose"),
      "compose.jobs" -> tot(_.jobs, _ == "compose") / n,
      "compose.self_s" -> gap("compose", Set("compose")),
      "catalyst.s" -> sum("catalyst"),
      "catalyst.analysis_s" -> trackerMs("analysis") / 1e3 / n,
      "catalyst.optimization_s" -> trackerMs("optimization") / 1e3 / n,
      "catalyst.planning_s" -> trackerMs("planning") / 1e3 / n,
      "sched.jobs" -> tot(_.jobs) / n,
      "sched.stages" -> tot(_.stages) / n,
      "sched.tasks" -> tot(_.tasks) / n,
      "sched.jobs_per_query" -> tot(_.jobs) / n / math.max(1.0, ops),
      "sched.driver_gap_s" -> execName.toSeq.map(gap(_, accs.keySet)).sum[Double],
      "exec.s" -> execS,
      "exec.task_s" -> taskS,
      "exec.busy_cores" -> (if (execS > 0) taskS / execS else 0.0),
      "exec.max_task_s" -> accs.values.map(_.maxTaskMs).maxOption.getOrElse(0L) / 1e3,
      "exec.shuffle_read_mb" -> tot(_.shuffleRead) / mb / n,
      "exec.shuffle_write_mb" -> tot(_.shuffleWrite) / mb / n,
      "exec.spill_mb" -> tot(_.spill) / mb / n,
      "exec.gc_s" -> gcTracedMs / 1e3 / n,
      "exec.peak_mem_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / mb,
      "scan.input_mb" -> tot(_.inBytes) / mb / n,
      "scan.input_rows" -> tot(_.inRows) / n,
      "caching.release_s" -> sum("release"),
      "caching.peak_cached_mb" -> collector.cachedPeak / mb,
      "stream.batches" -> streams.batches / n,
      "stream.input_rows" -> streams.inputRows / n,
      "stream.add_batch_s" -> streams.phaseMs("addBatch") / 1e3 / n,
      "stream.planning_s" -> streams.phaseMs("queryPlanning") / 1e3 / n,
      "stream.wal_commit_s" -> streams.phaseMs("walCommit") / 1e3 / n,
      "stream.commit_offsets_s" -> streams.phaseMs("commitOffsets") / 1e3 / n,
      "sink.write_s" -> (sum("sink.clean") + sum("sink.analytics")),
      "sink.rows" -> tot(_.outRows, sinks) / n,
      "sink.mb" -> bytes / mb / n,
      "sink.files" -> files / n,
      "taxi.clean_s" -> sum("taxi.clean"),
      "taxi.analytics_s" -> sum("taxi.analytics"),
      "taxi.prewrite_s" -> sum("prewrite"),
      "trace.unattributed_frac" -> (if (opSpans.isEmpty) 0.0
        else 1 - childS.sum / opSpans.map(_.sec).sum),
      "trace.unreconciled_ops" -> unreconciled.toDouble / n,
    ) ++ sinkOf("clean") ++ sinkOf("analytics")
  }
}
