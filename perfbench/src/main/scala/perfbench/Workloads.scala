package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** One generated change row: the events shape the upsert sink keys on. */
final case class Change(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** The workloads. Each is a closed loop with one client: the next op is
  * issued only after the previous one has finished.
  */
object Workloads {

  /** Declared queries that each take about a second or less even cold,
    * spread across families, where the fixed per-query cost (table opens,
    * builds, planning, job scheduling) dominates and the heavy kernels do
    * little. Twenty-four of them fit a cold warm-up pass of about 25 s and a
    * timed pass of about 13 s on four cores, and still leave the latency
    * tail ten samples beyond p58.
    */
  val shortQueries: Seq[String] = Seq(
    "agg_quantile", "agg_gini", "window_rank_topn", "window_pct_change",
    "join_inner_equi", "join_semi", "join_anti", "sql_q6_revenue_change",
    "sql_q14_promo_share", "ts_tumbling_day", "dq_completeness",
    "dq_skew_profile", "scan_parquet", "scan_csv", "text_normalize",
    "setop_union_distinct", "sort_limit", "topk_nlargest", "filter_pred",
    "explode_array", "project_rename", "ann_cosine_lsh", "vec_cosine_topk",
    "sample_stratified")

  /** The data-bound LLM-pipeline, graph and ANN operators, where execution
    * and eager build jobs dominate. `graph_resource_alloc` is left out: on
    * four cores it alone takes about a minute and would bury the rest.
    */
  val heavyOperators: Seq[String] = Seq(
    "dedup_docs_components", "dedup_docs_ngram_jaccard", "dedup_span_ngram",
    "text_ngram_novelty", "graph_triangles", "graph_kcore_peel",
    "er_fuzzy_entities", "agg_describe", "vec_kmeans_lloyd", "pipe_clean",
    "ann_cosine_ivfpq", "mm_decode_features")

  /** Runs each query once, in the given order, through the noop sink (the
    * sink `graft.Bench` uses: it evaluates every output column of every
    * row, where `count()` would let the optimizer prune them).
    */
  def queryPass(spark: SparkSession, sfDir: String, order: Seq[String],
      rec: Recorder): Unit =
    order.foreach { name =>
      // Ann memoizes built indexes; clearing makes every op do the same work
      graft.operators.Ann.clearIndexes()
      rec.op("query", name) {
        val df = rec.span("queries.build") {
          val built = graft.SparkEntry.queries(name)(spark, sfDir)
          if (rec.tracing) recordTracker(built, rec)
          built
        }
        rec.span("exec.write")(df.write.format("noop").mode("overwrite").save())
      }
    }

  /** Planner phases that ran while the DataFrame was built. */
  private def recordTracker(df: DataFrame, rec: Recorder): Unit =
    df.queryExecution.tracker.phases.foreach { case (phase, s) =>
      rec.addChild(s"planner.$phase", s.startTimeMs.toDouble, s.endTimeMs.toDouble)
    }

  /** Writes every name's result as parquet with the oracle's SQL, the
    * layout `tools/check.py` reads (it joins all part files). A query that
    * throws writes nothing, which the check counts as failed.
    */
  def dumpQueries(spark: SparkSession, sfDir: String, names: Seq[String],
      dir: String): Unit = {
    names.foreach { name =>
      graft.operators.Ann.clearIndexes()
      try graft.SparkEntry.queries(name)(spark, sfDir).write
        .mode("overwrite").parquet(s"$dir/$name")
      catch { case e: Exception => System.err.println(s"[perfbench] dump $name failed: $e") }
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(dir, "oracle_sql.json"), Json.write(oracle))
  }

  /** Shape of the upsert stream. Keys are skewed (the key is
    * `keys * u^3` for uniform u), so low keys are updated many times per
    * batch and across batches. A full snapshot is written every
    * `snapshotEvery` batches and a delta otherwise; every `vacuumEvery`
    * batches the sink vacuums down to `keepN` snapshots, which keeps at
    * least the last `snapshotEvery` versions readable.
    */
  final case class UpsertShape(steps: Int, rowsPerBatch: Int, keys: Int,
      snapshotEvery: Int, vacuumEvery: Int, keepN: Int)

  def changeLog(seed: Long, shape: UpsertShape): IndexedSeq[IndexedSeq[Change]] = {
    val rnd = new scala.util.Random(seed)
    val types = Array("click", "purchase", "error", "signup", "view")
    val t0 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00").getTime
    (0 until shape.steps).map { step =>
      (0 until shape.rowsPerBatch).map { i =>
        val u = rnd.nextDouble()
        Change(step.toLong * shape.rowsPerBatch + i,
          new java.sql.Timestamp(t0 + step * 60000L + i),
          (shape.keys * u * u * u).toLong, types(rnd.nextInt(types.length)),
          math.round(rnd.nextDouble() * 1e6) / 100.0)
      }
    }
  }

  /** Counters of the upsert run, read from the table directory between
    * ops (outside op timing).
    */
  final class TableWatch(dir: Path) {
    private var seen = Map.empty[String, (Long, Long)]
    var bytesWritten, filesWritten, versionsDeleted = 0L
    private var versions = Set.empty[String]

    private def files: Seq[(String, Long, Long)] =
      if (!Files.exists(dir)) Nil
      else {
        val s = Files.walk(dir)
        try s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
          (dir.relativize(p).toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
        }.toList finally s.close()
      }

    def versionDirs: Set[String] =
      if (!Files.exists(dir)) Set.empty
      else {
        val s = Files.list(dir)
        try s.iterator.asScala.map(_.getFileName.toString)
          .filter(_.matches("[vd]\\d+")).toSet finally s.close()
      }

    /** Counts the files that appeared or changed since the last call. */
    def afterWrite(): Unit = {
      val now = files
      now.foreach { case (p, size, mtime) =>
        if (!seen.get(p).contains((size, mtime))) { bytesWritten += size; filesWritten += 1 }
      }
      seen = now.map { case (p, s, m) => p -> (s, m) }.toMap
      val vs = versionDirs
      versionsDeleted += (versions -- vs).size
      versions = vs
    }

    def liveBytes: Long = files.map(_._2).sum

    /** Deltas a read of version `id` folds over its base snapshot. */
    def deltasFor(id: Long): Int = {
      val vs = versionDirs
      val snap = vs.filter(_.startsWith("v")).map(_.drop(1).toLong).filter(_ <= id).max
      vs.filter(_.startsWith("d")).map(_.drop(1).toLong).count(d => d > snap && d <= id)
    }

    def pointer: Long =
      Files.readString(dir.resolve("_current")).trim.split(",")(1).toLong
  }

  /** Result of the upsert loop needed after the timed region. */
  final case class UpsertRun(watch: TableWatch, tableDir: String, lastBatch: Long,
      reads: Seq[Map[String, Any]])

  private def aggregateRead(df: DataFrame, rec: Recorder): Unit =
    rec.span("exec.write")(df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .write.format("noop").mode("overwrite").save())

  /** Feeds the change log batch by batch through a MemoryStream into
    * `Streams.upsertSink`. After each batch the client reads the latest
    * table and a retained older version, 1 to `snapshotEvery` batches
    * back in turn: the number of
    * deltas a read folds sets its cost, so every run reads the same mix.
    */
  def upsertStream(spark: SparkSession, log: IndexedSeq[IndexedSeq[Change]],
      shape: UpsertShape, work: String, rec: Recorder): UpsertRun = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tableDir = s"$work/upsert_table"
    val watch = new TableWatch(Paths.get(tableDir))
    val reads = Seq.newBuilder[Map[String, Any]]
    val stream = MemoryStream[Change]
    val query = graft.streaming.Streams.upsertSink(stream.toDF(), tableDir,
      s"$work/upsert_checkpoint", snapshotEvery = shape.snapshotEvery,
      vacuumEvery = shape.vacuumEvery, keepN = shape.keepN)
    try {
      log.indices.foreach { step =>
        rec.op("write", s"batch$step") {
          rec.span("streaming.batch") {
            stream.addData(log(step))
            query.processAllAvailable()
          }
        }
        watch.afterWrite()
        val latest = watch.pointer
        reads += Map("kind" -> "latest", "version" -> latest, "deltas" -> watch.deltasFor(latest))
        rec.op("read", "latest") {
          aggregateRead(rec.span("streaming.read_latest")(
            graft.streaming.Streams.readUpsertTable(spark, tableDir)), rec)
        }
        val v = math.max(0L, latest - (1 + step % shape.snapshotEvery))
        reads += Map("kind" -> "version", "version" -> v, "deltas" -> watch.deltasFor(v))
        rec.op("read", "version") {
          aggregateRead(rec.span("streaming.read_version")(
            graft.streaming.Streams.readUpsertTableVersion(spark, tableDir, v)), rec)
        }
      }
    } finally query.stop()
    UpsertRun(watch, tableDir, watch.pointer, reads.result())
  }

  /** Writes the final table and two retained older versions for the fold
    * check (the previous one, and the one `snapshotEvery` back, which
    * folds the most deltas over an older snapshot); returns their ids.
    */
  def dumpUpsert(spark: SparkSession, run: UpsertRun, shape: UpsertShape,
      dir: String): Seq[Long] = {
    graft.streaming.Streams.readUpsertTable(spark, run.tableDir)
      .write.mode("overwrite").parquet(s"$dir/final")
    val versions = Seq(1, shape.snapshotEvery).map(run.lastBatch - _).filter(_ >= 0)
    versions.foreach { v =>
      graft.streaming.Streams.readUpsertTableVersion(spark, run.tableDir, v)
        .write.mode("overwrite").parquet(s"$dir/v$v")
    }
    versions
  }
}
