package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** One benchmark run in one JVM: set up (the session and one untimed
  * warm-up pass of the workload's fixed work, which also writes the query
  * outputs the checks read), run timed passes of that work until
  * `<seconds>` have gone by, dump the last upsert table for the fold check,
  * and write the raw record to `<out>/run.json`. `perfbench/run.py` builds
  * this, launches it, checks the outputs and turns the record into metrics.
  *
  * Usage: Main <workload> <seed> <trace 0|1> <sfDir> <outDir> <cores> <seconds>
  */
object Main {
  val Upsert = Workloads.UpsertShape(steps = 12, rowsPerBatch = 4000, keys = 20000,
    snapshotEvery = 4, vacuumEvery = 4, keepN = 2)
  /** Batches of the upsert warm-up pass: a snapshot, deltas and a vacuum. */
  val UpsertWarmupSteps = 5

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, traceS, sfDir, out, coresS, secondsS) = argv
    val (seed, cores, seconds) = (seedS.toLong, coresS.toInt, secondsS.toDouble)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val queryList = workload match {
      case "short_queries" => Workloads.shortQueries
      case "heavy_operators" => Workloads.heavyOperators
      case "upsert_stream" => Nil
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val listeners = if (traceS == "1") Some(new Listeners) else None
    var spark: SparkSession = null
    val rec = new Recorder(listeners.isDefined)
    val setupSpans = new java.util.LinkedHashMap[String, Double]()
    def setupPhase[A](name: String)(f: => A): A = {
      val t0 = Clock.nowMs()
      try rec.span(name)(f) finally setupSpans.put(name, Clock.nowMs() - t0)
    }

    setupPhase("session.start") {
      var b = graft.GraftSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
      if (listeners.isDefined) b = b.config("spark.hadoop.fs.file.impl", classOf[TracingFileSystem].getName)
      spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      rec.sc = spark.sparkContext
      listeners.foreach { l =>
        spark.sparkContext.addSparkListener(l)
        spark.listenerManager.register(l)
        spark.streams.addListener(l.streaming)
      }
    }
    val log = if (workload != "upsert_stream") None else Some(setupPhase("streaming.changelog") {
      val l = Workloads.changeLog(seed, Upsert)
      val session = spark
      import session.implicits._
      session.createDataset(l.flatten).write.parquet(s"$out/changelog")
      l
    })
    // The warm-up pass, with untimed ops: every op of the first pass in a
    // JVM pays its own class loading, code generation and JIT, about as
    // much again as its warm cost, and how much of it lands on which op
    // depends on the order. For the query workloads
    // it is every query once. Every third query, from an offset set by the
    // seed, is written out for the output checks (so any three consecutive
    // seeds check every query, and ten seeds of any kind miss one with
    // p < 0.02); the rest go to the noop sink. For upsert_stream it is the
    // first batches of the change log through a sink of its own. No query
    // of these workloads reads a derived layout such as Scans.hiveEventsDir,
    // so none is built.
    val dump = s"$out/dump"
    val checked = queryList.sorted.zipWithIndex
      .collect { case (q, i) if (i + seed) % 3 == 0 => q }
    setupPhase("session.warmup") {
      log match {
        case None =>
          if (checked.nonEmpty) Workloads.dumpQueries(spark, sfDir, checked, dump)
          Workloads.queryPass(spark, sfDir, queryList.sorted.filterNot(checked.contains),
            new Recorder(false))
        case Some(l) => Workloads.upsertStream(spark, l.take(UpsertWarmupSteps), Upsert,
          s"$out/warmup", new Recorder(false))
      }
    }
    if (listeners.isDefined) require(
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
        .isInstanceOf[TracingFileSystem], "tracing file system is not installed")
    // the traced records cover the timed passes only
    listeners.foreach { l =>
      org.apache.spark.sql.graft.ListenerBus.flush(spark)
      l.reset()
    }

    // the host-contention probe brackets the timed work; its own time is
    // not set-up, so setup_s leaves it out
    val probeStart = Clock.nowMs()
    val probeBefore = Host.cpuProbe()
    val probeMs = Clock.nowMs() - probeStart
    val stat0 = Host.procStat()
    // Timed passes of the fixed work, whole passes until `seconds` have
    // gone by. Each query pass runs in its own order drawn from the seed;
    // each upsert pass feeds the same change log into a fresh table.
    val order = new scala.util.Random(seed)
    val passMs = Seq.newBuilder[Double]
    var upsertRun: Option[Workloads.UpsertRun] = None
    val firstOp = Clock.nowMs()
    var pass = 0
    while (pass == 0 || Clock.nowMs() - firstOp < seconds * 1000) {
      val p0 = Clock.nowMs()
      log match {
        case None => Workloads.queryPass(spark, sfDir, order.shuffle(queryList), rec)
        case Some(l) =>
          upsertRun = Some(Workloads.upsertStream(spark, l, Upsert, s"$out/upsert$pass", rec))
      }
      passMs += Clock.nowMs() - p0
      pass += 1
    }
    val stat1 = Host.procStat()
    val probeAfter = Host.cpuProbe()
    val peakRssMb = Host.vmHwmMb()
    listeners.foreach(_ => org.apache.spark.sql.graft.ListenerBus.flush(spark))

    // the fold check reads the last upsert pass's table, outside the
    // timed region
    val dump0 = Clock.nowMs()
    val upsertInfo: Map[String, Any] = upsertRun.fold(Map.empty[String, Any]) { run =>
      val versions = Workloads.dumpUpsert(spark, run, Upsert, dump)
      Map("versions_checked" -> versions, "last_batch" -> run.lastBatch,
        "bytes_written" -> run.watch.bytesWritten, "files_written" -> run.watch.filesWritten,
        "versions_deleted" -> run.watch.versionsDeleted, "live_bytes" -> run.watch.liveBytes,
        "reads" -> run.reads,
        "shape" -> Map("steps" -> Upsert.steps, "rows_per_batch" -> Upsert.rowsPerBatch,
          "keys" -> Upsert.keys, "snapshot_every" -> Upsert.snapshotEvery,
          "vacuum_every" -> Upsert.vacuumEvery, "keep_n" -> Upsert.keepN))
    }
    val identity = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "traced" -> listeners.isDefined,
      "cpu_probe_before_s" -> probeBefore, "cpu_probe_after_s" -> probeAfter,
      "cpu_probe_s" -> math.max(probeBefore, probeAfter),
      "steal_frac" -> Host.stealFrac(stat0, stat1))
    val record = Map(
      "identity" -> identity,
      "jvm_start" -> jvmStart, "first_op" -> firstOp, "probe_ms" -> probeMs,
      "setup_ms" -> setupSpans.asScala.toMap,
      "pass_ms" -> passMs.result(),
      "peak_rss_mb" -> peakRssMb,
      "dump_ms" -> (Clock.nowMs() - dump0),
      "ops" -> rec.ops.asScala.toSeq,
      "spans" -> rec.spans.asScala.toSeq,
      "jobs" -> listeners.map(_.jobRecords).getOrElse(Nil),
      "phases" -> listeners.map(_.phases.asScala.toSeq).getOrElse(Nil),
      "progress" -> listeners.map(_.progress.asScala.toSeq).getOrElse(Nil),
      "fs_events" -> (if (listeners.isDefined) TracingFileSystem.events.asScala.toSeq else Nil),
      "callback_ms" -> listeners.map(_.callbackNanos.get / 1e6).getOrElse(0.0),
      "checked" -> checked,
      "upsert" -> upsertInfo)
    Files.writeString(Paths.get(out, "run.json"), Json.write(record))
    spark.stop()
  }
}

/** Host-contention readings, the same devices as `graft.Bench`: a
  * fixed-work single-thread CPU probe and the `/proc/stat` steal share.
  */
object Host {
  private var blackhole = 0L
  private var warm = false

  def cpuProbe(): Double = {
    def once(): Double = {
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      val t0 = System.nanoTime()
      while (i < 150000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      blackhole ^= x
      (System.nanoTime() - t0) / 1e9
    }
    if (!warm) { (1 to 3).foreach(_ => once()); warm = true } // JIT-warm the loop itself
    once()
  }

  def procStat(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** The JVM's peak resident set (`VmHWM`), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
