package ubabench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.{Graft, SparkEntry}
import graft.functions.Text
import graft.operators.{Decontaminate, Dedup, Split}
import graft.streaming.{StatefulFunnel, StatefulRetention}

/** The JVM side of one benchmark run: one workload in a fresh JVM.
  *
  * Usage: `Main <workload> <workDir> <seconds> <trace 0|1> <launchEpochNs>`
  *
  * Reads the generated inputs under `<workDir>/in`, writes raw samples to
  * `<workDir>/result.json` and query outputs for the oracle check under
  * `<workDir>/out`. Statistics are computed by run.py from the raw samples.
  */
object Main {

  val UbaQueries: Seq[String] = Seq(
    "retention_count", "retention_sum", "u43_retention_decay", "q16_cohort_matrix",
    "u1_funnel_stages", "u2_funnel_report", "u21_funnel_latency", "q10_sessionize",
    "q22_session_stats", "u5_transitions", "u9_top_paths", "u11_growth_accounting",
    "u4_skew_salted", "u14_skew_profile")

  val CurationStages: Seq[String] = Seq(
    "Text.withGateProfile", "Dedup.exact", "Dedup.minhashLshPairs",
    "Dedup.connectedComponents", "Dedup.keepCanonical", "Dedup.winnowingPairs",
    "Decontaminate.contaminationSpans", "Split.assignSplit", "Split.packSequences",
    "manifest")

  // stream_ingest schedule: the generator sends one batch every IntervalMs,
  // StreamBatches batches per pass (README: why these values)
  val IntervalMs = 20L
  val StreamBatches = 100

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Tiny JSON writer for the result file (numbers, strings, lists, maps). */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  /** Live heap: the heap in use right after a full collection. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** One closed-loop operation's outcome. */
  final case class Op(name: String, seconds: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val Array(workload, work, secondsArg, traceArg, launchArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val in = s"$work/in"
    val result = mutable.LinkedHashMap[String, Any]()
    val layer = mutable.LinkedHashMap[String, Any]()

    // ── set-up: JVM start → SparkSession → registry → inputs opened ────
    val t0 = System.nanoTime()
    val spark = Graft.localSession("ubabench", cores = Runtime.getRuntime.availableProcessors())
    val t1 = System.nanoTime()
    Graft.registerAll(spark)
    val t2 = System.nanoTime()
    val inputs = (if (workload == "curation_pipeline") Seq("documents") else Seq("events"))
      .map(n => n -> SparkEntry.tbl(spark, in, n)).toMap
    val t3 = System.nanoTime()
    result("setup_s") = (epochNs() - launchArg.toLong) / 1e9
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    layer("Graft.localSession_s") = (t1 - t0) / 1e9
    layer("Graft.registerAll_s") = (t2 - t1) / 1e9
    layer("sources.tbl_s") = (t3 - t2) / 1e9

    val tracer = new Tracer(spark.sparkContext)
    val engine = new EngineListener
    val bench = new Bench(spark, tracer, engine, in, work)
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    // a pass: its wall time, the JVM's CPU time over it (idle waits do not
    // count), the live heap after it, its operations, whether it was traced
    var cpuMark = os.getProcessCpuTime
    def record(traced: Boolean, wall: Double, ops: Seq[Op], extra: Map[String, Any]): Unit = {
      val cpu = os.getProcessCpuTime
      passes += Map("traced" -> traced, "wall_s" -> wall, "cpu_s" -> (cpu - cpuMark) / 1e9,
        "live_heap_mb" -> liveHeapMb(),
        "ops" -> ops.map(o => Map("name" -> o.name, "s" -> o.seconds, "ok" -> o.ok))) ++ extra
    }
    var cold = true
    val runPass: Boolean => (Double, Seq[Op], Map[String, Any]) = workload match {
      case "uba_sweep" => traced => bench.ubaPass(cold)
      case "curation_pipeline" => traced => bench.curationPass(inputs("documents"))
      case "stream_ingest" => traced => bench.streamPass(inputs("events"), traced)
    }
    def tracedPass(): Unit = {
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(engine)
      spark.listenerManager.register(engine)
      cpuMark = os.getProcessCpuTime
      tracer.start()
      val (wall, ops, extra) = tracer.span("pass")(runPass(true))
      tracer.stop()
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      spark.listenerManager.unregister(engine)
      spark.sparkContext.removeSparkListener(engine)
      record(traced = true, wall, ops, extra)
    }

    // ── cold pass, then the measured window ─────────────────────────────
    cpuMark = os.getProcessCpuTime
    val (coldWall, coldOps, coldExtra) = runPass(false)
    cold = false
    record(traced = false, coldWall, coldOps, coldExtra + ("cold" -> true))
    // whole passes until the window closes, at least one. A traced run
    // puts a traced pass after each untraced one and ends untraced, so each
    // traced pass sits between two untraced passes and drift along the run
    // (warm-up, cleanup of earlier passes) cancels out of the overhead.
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def untracedPass(): Unit = {
      cpuMark = os.getProcessCpuTime
      val (wall, ops, extra) = runPass(false)
      record(traced = false, wall, ops, extra)
    }
    do {
      untracedPass()
      if (trace) tracedPass()
    } while (System.nanoTime() < deadline)
    if (trace) untracedPass()

    // ── outside the timed region: outputs for the correctness checks ────
    result("checks") = bench.checks(workload, inputs)
    if (trace) {
      if (workload == "curation_pipeline") {
        tracer.start()
        layer ++= bench.functionLayer(inputs("documents"))
        tracer.stop()
      }
      layer ++= bench.spanLayers(workload)
      result("spans") = tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end))
    }
    result("layer") = layer
    result("passes") = passes
    Files.writeString(Paths.get(s"$work/result.json"), json(result))
    spark.stop()
  }
}

/** The three workloads, written against the library's public entry points. */
final class Bench(spark: SparkSession, tracer: Tracer, engine: EngineListener,
    in: String, work: String) {
  import Main.Op

  private val builders = SparkEntry.queries
  private def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ── uba_sweep ────────────────────────────────────────────────────────
  /** One pass: every query once, closed loop, each built through
    * `SparkEntry.queries` and run to its complete result. The cold pass
    * writes each result as parquet, the files the oracle check reads;
    * later passes write into Spark's noop sink, which has no file I/O. A
    * query that throws counts as a failed operation. */
  def ubaPass(cold: Boolean): (Double, Seq[Op], Map[String, Any]) = {
    val (ops, wall) = timed(Main.UbaQueries.map { q =>
      val (ok, s) = timed(tracer.span(s"SparkEntry.$q") {
        try {
          val df = tracer.span(s"SparkEntry.$q.plan") {
            val d = builders(q)(spark, in)
            d.queryExecution.executedPlan
            d
          }
          tracer.span(s"SparkEntry.$q.exec") {
            if (cold) df.write.mode("overwrite").parquet(s"$work/out/$q") else noop(df)
          }
          true
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"$q failed: $e")
          false
        }
      })
      Op(q, s, ok)
    })
    (wall, ops, Map.empty)
  }

  // ── curation_pipeline ───────────────────────────────────────────────
  /** One pass of the composed curation chain. Each stage is called and
    * materialized inside its own span, the way the rehearsal cuts it. */
  def curationPass(documents: DataFrame): (Double, Seq[Op], Map[String, Any]) = {
    val ops = mutable.ArrayBuffer[Op]()
    def stage[T](name: String)(body: => T): T = {
      val (r, s) = timed(tracer.span(s"operators.$name")(body))
      ops += Op(name, s, ok = true)
      r
    }
    val cap = Dedup.CapStats(spark, "lsh")
    val t = System.nanoTime()
    val gated = stage("Text.withGateProfile") {
      val docs = documents.select(col("doc_id"), col("source"), col("lang"),
        call_function("nfc_normalize", col("text")).as("text"))
      Text.withGateProfile(docs, col("text"), minWords = 10, minRequiredWords = 0)
        .where(!col("script_mixed"))
        .where(col("quality") >= 0.6 && col("passes_quality"))
        .select(col("doc_id"), col("source"), col("lang"), col("text"),
          col("quality"), col("n_tokens"))
        .localCheckpoint()
    }
    val uniq = stage("Dedup.exact") {
      gated.join(Dedup.exact(gated).where(!col("is_dup")).select(col("doc_id")), "doc_id")
        .localCheckpoint()
    }
    val pairs = stage("Dedup.minhashLshPairs") {
      Dedup.minhashLshPairs(uniq, k = 32, bands = 8, threshold = 0.6, capStats = Some(cap)).localCheckpoint()
    }
    val labels = stage("Dedup.connectedComponents") {
      Dedup.connectedComponents(pairs).localCheckpoint()
    }
    val clean = stage("Dedup.keepCanonical") {
      Dedup.keepCanonical(uniq, labels).localCheckpoint()
    }
    val winnowPairs = stage("Dedup.winnowingPairs") {
      Dedup.winnowingPairs(clean.select(col("doc_id"), col("text"))).count()
    }
    val decond = stage("Decontaminate.contaminationSpans") {
      val train = clean.where(col("doc_id") % 20 =!= 0)
      val eval = gated.where(col("doc_id") % 20 === 0).select(col("doc_id"), col("text"))
      val excised = Decontaminate.contaminationSpans(
          train.select(col("doc_id"), col("text")), eval, k = 4)
        .groupBy(col("doc_id"))
        .agg(sum(col("span_end") - col("span_start") + 1).as("_rm"))
      train.join(excised.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("lang"), col("quality"),
          (col("n_tokens") - coalesce(col("_rm"), lit(0L))).as("n_tokens"))
        .localCheckpoint()
    }
    val split = stage("Split.assignSplit") {
      Split.assignSplit(decond, "doc_id").localCheckpoint()
    }
    val packed = stage("Split.packSequences") {
      Split.packSequences(
        split.where(col("split") === "train").select(col("doc_id"), col("n_tokens")),
        "doc_id", "n_tokens", budget = 2048, bins = 32).localCheckpoint()
    }
    val manifest = stage("manifest") {
      packed.groupBy(col("bin"), col("seq_id").as("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_toks"),
          sum(Dedup.hash60(concat(lit("shard|"), col("doc_id").cast("string")))
            .cast("decimal(38,0)")).as("_hs"))
        .select(col("bin"), col("shard_id"), col("n_docs"),
          col("n_toks").cast("long").as("n_toks"),
          expr("CAST(_hs % 1000000000000000000 AS BIGINT)").as("checksum"))
        .collect()
    }
    val wall = (System.nanoTime() - t) / 1e9
    lastCuration = Some((uniq, clean))
    (wall, ops.toSeq, Map(
      "manifest" -> manifest.map(r => (0 until r.length).map(r.get)).toSeq,
      "keepers" -> clean.count(), "lsh_pairs" -> pairs.count(),
      "dropped_buckets" -> cap.buckets.value.longValue, "winnow_pairs" -> winnowPairs))
  }
  private var lastCuration: Option[(DataFrame, DataFrame)] = None

  // ── stream_ingest ───────────────────────────────────────────────────
  private var streamRun = 0
  private val streamTables = mutable.ArrayBuffer[String]()

  /** One open-loop pass: fresh streaming queries, a timer thread that adds
    * one generator batch to both MemoryStreams every IntervalMs regardless
    * of how far the queries have got, then a drain until both have
    * reported every offset. */
  def streamPass(events: DataFrame, traced: Boolean): (Double, Seq[Op], Map[String, Any]) = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    streamRun += 1
    val rows = eventRows(events)
    val per = (rows.length + Main.StreamBatches - 1) / Main.StreamBatches
    val retIn = MemoryStream[(Long, String, java.sql.Timestamp)]
    val funIn = MemoryStream[(Long, String, java.sql.Timestamp)]
    val retName = s"ret$streamRun"
    val funName = s"fun$streamRun"
    // completion times of each query's micro-batches, from the public
    // progress listener (end offset → nanoTime the progress arrived)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val end = Option(p.sources.headOption.map(_.endOffset).orNull).fold(-1L)(_.trim.toLong)
        val st = p.stateOperators
        done.add(Map("query" -> p.name, "end_offset" -> end, "done_ns" -> System.nanoTime(),
          "batch_id" -> p.batchId, "input_rows" -> p.numInputRows,
          "trigger_ms" -> p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L),
          "add_batch_ms" -> p.durationMs.asScala.get("addBatch").map(_.longValue).getOrElse(0L),
          "state_update_ms" -> st.map(_.allUpdatesTimeMs).sum,
          "state_remove_ms" -> st.map(_.allRemovalsTimeMs).sum,
          "state_commit_ms" -> st.map(_.commitTimeMs).sum,
          "state_rows" -> st.map(_.numRowsTotal).sum,
          "state_bytes" -> st.map(_.memoryUsedBytes).sum,
          "rows_removed" -> st.map(_.numRowsRemoved).sum,
          "watermark" -> Option(p.eventTime.get("watermark")).getOrElse("")))
      }
    }
    spark.streams.addListener(listener)
    def start(ds: org.apache.spark.sql.Dataset[_], name: String): StreamingQuery =
      ds.toDF().writeStream.format("memory").queryName(name).outputMode("update")
        .option("checkpointLocation", s"$work/tmp/ckpt-$name").start()
    val (ret, fun) = tracer.span("streaming.start") {
      (start(StatefulRetention.perUserStatsEvicting(
          retIn.toDF().toDF("user_id", "event_type", "ts"), "2024-01-01", 7, "signup", "purchase"),
          retName),
        start(StatefulFunnel.perUserStagesEvicting(
          funIn.toDF().toDF("user_id", "event_type", "ts"), FunnelSteps,
          windowDays = 7), funName))
    }
    val sent = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val t0 = System.nanoTime() + 200L * 1000000L
    val gen = new Thread(() => {
      for (k <- 0 until Main.StreamBatches) {
        val due = t0 + k * Main.IntervalMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val sendNs = System.nanoTime()
        val slice = rows.slice(k * per, (k + 1) * per)
        val oR = retIn.addData(slice).json.trim.toLong
        val oF = funIn.addData(slice).json.trim.toLong
        sent.add(Map("k" -> k, "due_ns" -> due, "send_ns" -> sendNs,
          "offset" -> Map(retName -> oR, funName -> oF)))
      }
    }, "ubabench-generator")
    gen.start()
    gen.join()
    ret.processAllAvailable()
    fun.processAllAvailable()
    val lastDone = tracer.span("streaming.drain") {
      // progress events reach the listener asynchronously: wait until both
      // queries have reported a batch covering the last offset
      val lastBatch = sent.asScala.maxBy(_("k").asInstanceOf[Int])
      val last = lastBatch("offset").asInstanceOf[Map[String, Long]]
      val until = System.nanoTime() + 20L * 1000000000L
      def seen(p: Map[String, Any] => Boolean) = done.asScala.exists(p)
      def covered(name: String) = seen(d => d("query") == name && d("end_offset").asInstanceOf[Long] >= last(name))
      while (!(covered(retName) && covered(funName)) && System.nanoTime() < until) Thread.sleep(5)
      // the final watermark's no-data batch evicts what the window closed;
      // a traced pass waits for it so its state counts do not depend on
      // batch timing. Retention's clock sees every event, the funnel's only
      // step events.
      val wmRet = finalWatermark(rows.iterator)
      val wmFun = finalWatermark(rows.iterator.filter(r => FunnelSteps.contains(r._2)))
      def settled(name: String, wm: String) =
        seen(d => d("query") == name && d("watermark") == wm && d("input_rows") == 0L)
      while (traced && !(settled(retName, wmRet) && settled(funName, wmFun)) &&
          System.nanoTime() < until)
        Thread.sleep(10)
      done.asScala.filter(_("input_rows") != 0L).map(_("done_ns").asInstanceOf[Long]).max
    }
    ret.stop()
    fun.stop()
    spark.streams.removeListener(listener)
    val wall = (lastDone - t0) / 1e9
    streamTables += retName
    val ops = done.asScala.toSeq.filter(_("input_rows") != 0L)
      .map(d => Op(d("query").toString, d("trigger_ms").asInstanceOf[Long] / 1000.0, ok = true))
    (wall, ops, Map("sent" -> sent.asScala.toSeq, "progress" -> done.asScala.toSeq))
  }

  private var rowsCache: Option[Array[(Long, String, java.sql.Timestamp)]] = None
  private def eventRows(events: DataFrame): Array[(Long, String, java.sql.Timestamp)] =
    rowsCache.getOrElse {
      // the file is in send order and is one row group, so collect keeps it
      val r = events.select(col("user_id"), col("event_type"), col("ts")).collect()
        .map(x => (x.getLong(0), x.getString(1), x.getTimestamp(2)))
      rowsCache = Some(r)
      r
    }

  private val FunnelSteps = Seq("signup", "click", "purchase")

  /** The watermark after every event has been seen: max event time minus
    * the operators' one-hour delay, as StreamingQueryProgress prints it. */
  private def finalWatermark(rows: Iterator[(Long, String, java.sql.Timestamp)]): String = {
    val maxMs = rows.map(_._3.getTime).max - 3600L * 1000L
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(maxMs))
  }

  // ── correctness outputs (outside every timed region) ────────────────
  def checks(workload: String, inputs: Map[String, DataFrame]): Map[String, Any] =
    workload match {
      case "uba_sweep" =>
        val oracle = SparkEntry.oracleSql
        Files.writeString(Paths.get(s"$work/out/oracle_sql.json"),
          Main.json(Main.UbaQueries.map(q => q -> oracle(q)).toMap))
        Map("oracle_dir" -> s"$work/out")
      case "curation_pipeline" =>
        val (uniq, clean) = lastCuration.get
        uniq.select("doc_id").coalesce(1).write.mode("overwrite").parquet(s"$work/out/uniq")
        clean.select("doc_id").coalesce(1).write.mode("overwrite").parquet(s"$work/out/clean")
        Map("uniq_dir" -> s"$work/out/uniq", "clean_dir" -> s"$work/out/clean")
      case "stream_ingest" =>
        // the final streamed state of every pass against batch
        // retention_count over the same events; emissions are monotone, so
        // a user's greatest emission is their final state
        val batch = builders("retention_count")(spark, in).select(col("user_id"), col("stats").as("b"))
          .localCheckpoint()
        Map("passes" -> streamTables.toSeq.map { t =>
          val streamed = spark.table(t)
            .select(col("user_id"), to_json(col("stats")).as("stats"))
            .groupBy("user_id").agg(max("stats").as("s"))
          val j = streamed.join(batch, Seq("user_id"), "full_outer")
          Map("users_batch" -> batch.count(), "users_streamed" -> streamed.count(),
            "mismatched_users" -> j.where(!col("s").eqNullSafe(col("b"))).count())
        })
    }

  // ── per-layer metrics from the traced passes ─────────────────────────
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Spark's counters per span, summed over the spans of one name, per
    * traced pass, medians across passes. */
  def spanLayers(workload: String): Map[String, Any] = {
    val out = mutable.LinkedHashMap[String, Any]()
    engine.attributePlans(tracer)
    val spans = tracer.spans
    val passIds = spans.filter(_.name == "pass").map(_.id).toSet
    def counters(ids: Iterable[Int]): Counters = {
      val c = new Counters
      ids.flatMap(engine.perSpan.get).foreach { x =>
        c.jobs += x.jobs; c.stages += x.stages; c.tasks += x.tasks; c.taskFailures += x.taskFailures
        c.shuffleWrite += x.shuffleWrite; c.shuffleRead += x.shuffleRead; c.fetchWaitMs += x.fetchWaitMs
        c.spill += x.spill; c.peakExecMem = math.max(c.peakExecMem, x.peakExecMem)
        c.runMs += x.runMs; c.cpuNs += x.cpuNs; c.gcMs += x.gcMs
        c.recordsRead += x.recordsRead; c.bytesRead += x.bytesRead
        c.exchanges += x.exchanges; c.nonCodegenOps += x.nonCodegenOps
      }
      c
    }
    def descendants(root: Int): Seq[Int] = {
      val kids = spans.filter(_.parent == root).map(_.id).toSeq
      root +: kids.flatMap(descendants)
    }
    val perPass = passIds.toSeq.sorted.map(p => descendants(p))
    // span-attributed jobs must add up to every job the listener saw
    val attributed = perPass.map(ids => counters(ids).jobs).sum
    out("bench.unattributed_jobs") = engine.totalJobs.get - attributed
    def perName(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
    def med(name: String)(f: Span => Double): Double = median(perName(name).map(f))
    workload match {
      case "uba_sweep" =>
        Main.UbaQueries.foreach { q =>
          out(s"SparkEntry.$q.plan_s") = med(s"SparkEntry.$q.plan")(tracer.selfSeconds)
          out(s"SparkEntry.$q.exec_s") = med(s"SparkEntry.$q.exec")(tracer.selfSeconds)
          out(s"SparkEntry.$q.jobs") = med(s"SparkEntry.$q")(s => counters(descendants(s.id)).jobs.toDouble)
          out(s"SparkEntry.$q.shuffle_bytes") =
            med(s"SparkEntry.$q")(s => counters(descendants(s.id)).shuffleWrite.toDouble)
        }
      case "curation_pipeline" =>
        Main.CurationStages.foreach { st =>
          out(s"operators.${st}_s") = med(s"operators.$st")(tracer.selfSeconds)
          out(s"operators.$st.shuffle_bytes") =
            med(s"operators.$st")(s => counters(descendants(s.id)).shuffleWrite.toDouble)
        }
        out("operators.Dedup.connectedComponents.jobs") =
          med("operators.Dedup.connectedComponents")(s => counters(descendants(s.id)).jobs.toDouble)
      case _ =>
    }
    val total = counters(perPass.flatten)
    val n = math.max(1, perPass.size).toDouble
    val passWall = perName("pass").map(_.seconds).sum
    out("sources.records_read") = total.recordsRead / n
    out("sources.bytes_read") = total.bytesRead / n
    out("spark.jobs") = total.jobs / n
    out("spark.stages") = total.stages / n
    out("spark.tasks") = total.tasks / n
    out("spark.task_failures") = total.taskFailures / n
    out("spark.shuffle_write_bytes") = total.shuffleWrite / n
    out("spark.shuffle_read_bytes") = total.shuffleRead / n
    out("spark.shuffle_fetch_wait_s") = total.fetchWaitMs / 1000.0 / n
    out("spark.spill_bytes") = total.spill / n
    out("spark.peak_exec_mem_mb") = total.peakExecMem / 1048576.0
    out("spark.executor_run_s") = total.runMs / 1000.0 / n
    out("spark.executor_cpu_s") = total.cpuNs / 1e9 / n
    out("spark.gc_s") = total.gcMs / 1000.0 / n
    out("spark.core_busy_frac") =
      if (passWall > 0) total.runMs / 1000.0 / (passWall * Runtime.getRuntime.availableProcessors()) else 0.0
    out("spark.exchanges") = total.exchanges / n
    out("spark.non_codegen_ops") = total.nonCodegenOps / n
    out("spark.storage.checkpoints") = engine.checkpointRdds.size / n
    out("spark.storage.bytes") = engine.storageBytes / n
    out.toMap
  }

  /** ns/row of each native expression as one projection over the cached
    * corpus into a noop sink, and of the declarative chains two of them
    * replace: median of three runs, less the same projection of a trivial
    * expression (`length(text)`), so job overhead does not count. */
  def functionLayer(documents: DataFrame): Map[String, Any] = {
    // the native forms run over the corpus replicated 16x; the declarative
    // chains, 20-200x slower per row, over its first 400 documents
    def cached(df: DataFrame): (DataFrame, Long) = {
      val c = df.select(col("text"))
        .withColumn("sh", Dedup.hashedShingleSetNative(col("text")))
        .withColumn("sig", Dedup.minhashSignatureNative(col("sh"), 32))
        .cache()
      (c, c.count())
    }
    val big = cached(documents.crossJoin(spark.range(16).toDF("_rep")))
    val small = cached(documents.orderBy("doc_id").limit(400))
    val exprs: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "functions.GateMetrics.ns_per_row" -> ColumnBridge.column(
        graft.functions.GateMetrics(ColumnBridge.expression(col("text")))),
      "functions.HashedShingles.ns_per_row" -> Dedup.hashedShingleSetNative(col("text")),
      "functions.HashedShingles.declarative_ns_per_row" -> Dedup.hashedShingleSet(col("text")),
      "functions.MinhashSig.ns_per_row" -> Dedup.minhashSignatureNative(col("sh"), 32),
      "functions.MinhashSig.declarative_ns_per_row" -> Dedup.minhashSignature(col("sh"), 32),
      "functions.SignBands.ns_per_row" ->
        graft.functions.SignBands.bandKeys(col("sig"), (0 until 8).map(b => s"b$b:"), 16, dim = 32),
      "functions.PositionalGramHashes.ns_per_row" ->
        call_function("positional_gram_hashes", col("text"), lit(8)),
      "functions.UnicodeNorm.ns_per_row" -> call_function("nfc_normalize", col("text")))
    def nanos(name: String, corpus: DataFrame, e: org.apache.spark.sql.Column): Double =
      median((0 until 3).map(_ => tracer.span(name) {
        val t = System.nanoTime()
        noop(corpus.select(e.as("x")))
        (System.nanoTime() - t).toDouble
      }))
    val base = Seq(big, small).map { case (c, _) => c -> nanos("functions.baseline", c, length(col("text"))) }.toMap
    val out = exprs.map { case (name, e) =>
      val (corpus, rows) = if (name.contains("declarative")) small else big
      name -> (nanos(name, corpus, e) - base(corpus)) / rows
    }
    big._1.unpersist()
    small._1.unpersist()
    out.toMap
  }
}
