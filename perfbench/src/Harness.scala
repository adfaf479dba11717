package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap => LMap}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GetJsonObject
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.{GraftSession, SparkEntry}
import graft.selector.Selector
import graft.streaming.{MessageSource, Pipeline}

/** JVM side of the benchmark: runs one workload in one local[cpus] session
  * and writes its record (metrics, checks, geometry) as JSON.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1>
  *          <constants.json> <profile> <workDir> <recordOut>
  */
object Harness {
  private val mapper = new ObjectMapper()

  final case class Ctx(spark: SparkSession, workload: String, seed: Long, seconds: Int,
      traced: Boolean, c: JsonNode, work: String, spans: Spans, progress: ProgressLog,
      exec: Option[ExecCounters]) {
    val e2e = LMap[String, (Double, String, Int)]() // name -> (value, unit, samples)
    val named = LMap[String, (Double, String, Int)]() // the workload's own metric names
    val layer = LMap[String, Double]()
    val checks = ArrayBuffer[(String, Boolean, String)]()
    private var gc0 = 0L
    private var exec0 = Map.empty[String, Double]
    var timed0, timed1 = 0L // the timed phase, on the spans' clock
    /** Marks the end of set-up (inputs, session start and the workload's
      * cold first pass, which doubles as warm-up): timing and the JVM and
      * execution probes start here. */
    def setupDone(): Unit = {
      log("set-up done")
      e2e("setup_s") = ((System.currentTimeMillis() - Jvm.startMs) / 1000.0, "s", 1)
      gc0 = Jvm.gcMs
      timed0 = spans.now
      Jvm.resetPeak()
      exec.foreach { e => Bus.drain(sc); exec0 = e.counts }
    }
    /** Marks the end of the timed phase; output checks follow. */
    def timingDone(): Unit = {
      log("timed phase done")
      timed1 = spans.now
      layer("exec.gc_s") = (Jvm.gcMs - gc0) / 1000.0
      layer("mem.heap_peak_mb") = Jvm.heapPeakBytes / 1048576.0
      Bus.drain(sc) // every progress and execution event delivered
      exec.foreach(_.counts.foreach { case (k, v) => layer(k) = v - exec0.getOrElse(k, 0.0) })
    }
    var attempted = 0L
    var failed = 0L
    val extra = LMap[String, Any]()
    def check(name: String, ok: Boolean, detail: String): Unit = checks += ((name, ok, detail))
    def sc = spark.sparkContext
    /** A query builder call; Spark jobs it starts count as builder jobs. */
    def builder[T](id: String)(f: => T): T = {
      exec.foreach(_.inBuilder = true)
      try call(id, "builder")(f)
      finally exec.foreach { e => Bus.drain(sc); e.inBuilder = false }
    }
    /** Span around a call into the program; Spark jobs started inside it
      * are parented to it. */
    def call[T](id: String, name: String)(f: => T): T = spans(id, name) {
      val prev = sc.getLocalProperty("perfbench.span")
      if (spans.on) sc.setLocalProperty("perfbench.span", spans.current)
      try f finally if (spans.on) sc.setLocalProperty("perfbench.span", prev)
    }
  }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - Jvm.startMs) / 1000.0}%.2fs $msg")

  def main(argv: Array[String]): Unit = {
    log("main")
    val Array(workload, seedS, secondsS, traceS, constPath, profile, work, out) = argv
    val consts = mapper.readTree(Files.readString(Paths.get(constPath))).get(profile)
    val c = consts.get(workload)
    require(c != null, s"unknown workload $workload")
    val cpus = Runtime.getRuntime.availableProcessors().toString
    Files.createDirectories(Paths.get(work, "local"))
    val spark = GraftSession.tuned(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log("session ready")
    val seed = seedS.toLong
    try {
      val spans = new Spans(traceS == "1")
      val progress = new ProgressLog
      spark.streams.addListener(progress)
      val exec = if (spans.on) {
        val e = new ExecCounters(spans); spark.sparkContext.addSparkListener(e); Some(e)
      } else None
      val ctx = Ctx(spark, workload, seed, secondsS.toInt, spans.on, c, work, spans, progress, exec)
      val t0 = System.nanoTime()
      try workload match {
        case "filter-fanout" => fanout(ctx)
        case "filter-pipeline" => pipeline(ctx)
        case "batch-keys" => batchKeys(ctx)
      } catch { case e: Throwable =>
        ctx.check("workload completed", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        ctx.failed = math.max(ctx.failed, math.max(1L, ctx.attempted))
        ctx.attempted = math.max(ctx.attempted, 1L)
        e.printStackTrace()
      }
      ctx.extra("wall_s") = (System.nanoTime() - t0) / 1e9
      ctx.check("stream queries terminated without error", progress.failures.isEmpty,
        progress.failures.mkString("; "))
      write(ctx, profile, consts, out)
    } finally spark.stop()
  }

  // ---- shared pieces ----------------------------------------------------

  private def ms(ns: Long): Double = ns / 1e6

  /** Order-independent digest of rows: their count and the sum of their
    * 32-bit hashes. */
  def digestCols(cols: Seq[Column]): (Column, Column) =
    (count(lit(1)).as("n"), sum(hash(cols: _*).cast("long")).as("h"))
  def digest(df: DataFrame): (Long, Long) = {
    val (n, h) = digestCols(df.columns.toSeq.map(col))
    val r = df.agg(n, h).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def jsonProbes(p: LogicalPlan): Int =
    p.collect { case n => n.expressions.map(_.collect { case _: GetJsonObject => 1 }.size).sum }.sum

  private def optimizedPlan(q: StreamingQuery): LogicalPlan =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.optimizedPlan

  /** Nearest-rank percentile. */
  def pct(xs: collection.Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }
  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-layer figures every streaming workload reports from its progress. */
  private def streamLayers(ctx: Ctx, bs: collection.Seq[Batch]): Unit = {
    def d(k: String) = bs.map(_.durMs.getOrElse(k, 0L).toDouble).sum
    ctx.layer("stream.batches") = bs.size
    ctx.layer("source.latest_offset_ms") = d("latestOffset")
    ctx.layer("source.get_batch_ms") = d("getBatch")
    ctx.layer("stream.query_planning_ms") = d("queryPlanning")
    ctx.layer("stream.add_batch_ms") = d("addBatch")
    ctx.layer("stream.wal_commit_ms") = d("walCommit")
    ctx.layer("stream.commit_offsets_ms") = d("commitOffsets")
    ctx.layer("state.rows_total") = if (bs.isEmpty) 0 else bs.map(_.stateRowsTotal).max
    ctx.layer("state.rows_updated") = bs.map(_.stateRowsUpdated).sum
    ctx.layer("state.memory_bytes") = if (bs.isEmpty) 0 else bs.map(_.stateMemBytes).max
    ctx.layer("state.commit_ms") = bs.map(_.stateCommitMs).sum
    // micro-batch phases as spans, in MicroBatchExecution's order
    if (ctx.traced) bs.foreach { b =>
      val id = s"batch-${b.run.take(8)}-${b.batchId}"
      val t0 = b.startMs * 1000000L
      val trig = Span(id, "stream.trigger", t0, b.endMs * 1000000L, "")
      ctx.spans.add(trig)
      var at = t0
      Seq("latestOffset" -> "source.latestOffset", "walCommit" -> "stream.walCommit",
        "getBatch" -> "source.getBatch", "queryPlanning" -> "stream.queryPlanning",
        "addBatch" -> "stream.addBatch", "commitOffsets" -> "stream.commitOffsets")
        .foreach { case (k, name) =>
          val dur = b.durMs.getOrElse(k, 0L) * 1000000L
          ctx.spans.add(Span(id, name, at, at + dur, s"$id/stream.trigger"))
          at += dur
        }
    }
  }

  private def list(dir: String): Seq[Path] = {
    val st = Files.list(Paths.get(dir))
    try st.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .sortBy(_.getFileName.toString)
    finally st.close()
  }

  // ---- filter-fanout ----------------------------------------------------

  /** The Filters.subscriptionFanOut shape over generated subscriptions:
    * one CASE per selector, keep the matches, explode. */
  def fanOut(ev: DataFrame, subs: Seq[(String, Column)]): DataFrame =
    ev.select(col("event_id"), col("event_type"), round(col("value"), 2).as("value"),
      explode(filter(array(subs.map { case (n, sel) =>
        when(sel, lit(n)).otherwise(lit(null).cast("string")) }: _*),
        x => x.isNotNull)).as("subscription"))

  private val fanCols = Seq("event_id", "event_type", "value", "subscription")

  private def fanout(ctx: Ctx): Unit = {
    import ctx._
    val nMsgs = c.get("messages").asLong
    val corpus = s"$work/corpus"
    val subs = mapper.readTree(Paths.get(work, "selectors.json").toFile).elements().asScala
      .map(p => p.get(0).asText -> p.get(1).asText).toSeq
    val t = System.nanoTime()
    val compiled = call("setup", "selector.compile") {
      subs.map { case (n, s) => n -> Selector.compileEvents(s) }
    }
    layer("selector.compile_ms") = ms(System.nanoTime() - t)

    def start(i: Int): StreamingQuery = call(s"drain-$i", "drain.start") {
      val ev = call(s"drain-$i", "source.fileStream") {
        MessageSource.fileStream(spark, corpus, Map("maxFilesPerTrigger" -> c.get("files_per_trigger").asText))
      }
      val (n, h) = digestCols(fanCols.map(col))
      fanOut(ev, compiled).observe("digest", n, h)
        .writeStream.format("noop").queryName(s"fanout_$i")
        .option("checkpointLocation", s"$work/ck/fanout_$i")
        .trigger(Trigger.AvailableNow()).start()
    }
    def drain(i: Int): (Double, String, LogicalPlan) = call(s"drain-$i", "drain") {
      val t0 = System.nanoTime()
      val q = start(i)
      q.awaitTermination()
      ((System.nanoTime() - t0) / 1e9, q.runId.toString, optimizedPlan(q))
    }
    // set-up ends with one whole drain in a fresh JVM: the cold start,
    // which also warms the JIT, so the timed drains run at a steady speed
    val (coldS, _, coldPlan) = drain(0)
    val probes = jsonProbes(coldPlan)
    setupDone()
    val warm = ArrayBuffer[(Double, String, LogicalPlan)]()
    val tw = System.nanoTime()
    while (warm.size < 2 || (System.nanoTime() - tw) / 1e9 < seconds) warm += drain(warm.size + 1)
    timingDone()

    // stream == batch: the same function as a batch job over the corpus
    val ref = call("verify", "verify.batch") {
      digest(fanOut(MessageSource.normalize(spark.read.parquet(corpus)), compiled).select(fanCols.map(col): _*))
    }
    val runs = warm.map(_._2).map(r => r -> progress.batches(r))
    runs.foreach { case (r, bs) =>
      val rows = bs.map(_.rows).sum
      val obs = bs.flatMap(_.observed)
      val dig = (obs.map(_._1).sum, obs.map(_._2).sum)
      attempted += nMsgs
      val lost = math.max(0L, nMsgs - rows)
      val ok = lost == 0 && rows == nMsgs && dig == ref
      if (!ok) failed += math.max(lost, 1L)
      check(s"drain ${r.take(8)}: all $nMsgs messages read, digest == batch", ok,
        s"rows=$rows batches=${bs.size} digest=$dig batch=$ref")
    }
    check("selector.json_probes == props references", probes == 2 * subs.size,
      s"probes=$probes refs=${2 * subs.size}")

    val warmBatches = warm.flatMap(w => progress.batches(w._2))
    val durs = warmBatches.map(_.durMs.getOrElse("triggerExecution", 0L).toDouble)
    val rate = median(warm.map(nMsgs / _._1))
    // where a drain's time goes: micro-batch execution (addBatch, which
    // evaluates the selectors), the rest of each micro-batch, and query
    // start and stop outside any micro-batch
    val drainMs = warm.map(_._1 * 1000).sum
    def phaseMs(k: String) = warmBatches.map(_.durMs.getOrElse(k, 0L)).sum.toDouble
    named("add_batch_share") = (phaseMs("addBatch") / drainMs, "ratio", warmBatches.size)
    named("batch_overhead_share") = ((phaseMs("triggerExecution") - phaseMs("addBatch")) / drainMs,
      "ratio", warmBatches.size)
    named("query_start_stop_share") = ((drainMs - phaseMs("triggerExecution")) / drainMs, "ratio", warm.size)
    layer("stream.query_start_stop_ms") = drainMs - phaseMs("triggerExecution")
    named("cold_start_s") = (coldS, "s", 1)
    e2e("throughput_per_s") = (rate, "1/s", warm.size)
    e2e("latency_p50_ms") = (median(durs), "ms", durs.size)
    named("msgs_per_s") = (rate, "1/s", warm.size)
    named("batch_p50_ms") = (median(durs), "ms", durs.size)
    if (durs.size >= 100) named("batch_p90_ms") = (pct(durs, 0.9), "ms", durs.size)
    layer("selector.json_probes") = probes
    streamLayers(ctx, warmBatches)
    extra("selectors") = subs.map { case (n, s) => s"$n: $s" }
    extra("warm_drains") = warm.size
  }

  // ---- filter-pipeline --------------------------------------------------

  private def pipeline(ctx: Ctx): Unit = {
    import ctx._
    val interval = c.get("interval_ms").asLong
    // the watched directory doubles as the `events` table of a fixture-style
    // directory, so the registered batch key reads exactly the streamed files
    val (stage, watched) = (s"$work/stage", s"$work/sf/events.parquet")
    val files = list(stage)
    val nFiles = files.size
    val total = nFiles * c.get("messages_per_file").asLong
    Files.createDirectories(Paths.get(watched))
    // MessageSource.fileStream on an EMPTY directory falls back to the
    // ns-long rawSchema, and the first Spark-written file then fails with
    // PARQUET_COLUMN_DATA_TYPE_MISMATCH; start with one file in place.
    def release(i: Int): Unit = Files.move(files(i), Paths.get(watched, files(i).getFileName.toString),
      StandardCopyOption.ATOMIC_MOVE)
    release(0)
    val customer = spark.read.parquet(s"$work/sf/customer.parquet")
    val t = System.nanoTime()
    call("setup", "selector.compile") {
      Selector.compileEvents(Pipeline.acceptSelector); Selector.compileEvents(Pipeline.rescheduleSelector)
    }
    layer("selector.compile_ms") = ms(System.nanoTime() - t)

    // cold start: the query's first micro-batch takes the file already in
    // place, in a fresh JVM; the open loop starts once it has committed
    val tc = System.nanoTime()
    val ev = call("open", "source.fileStream") { MessageSource.fileStream(spark, watched) }
    val q = call("open", "pipeline.filterPipeline") { Pipeline.filterPipeline(ev, customer) }
      .writeStream.format("noop").outputMode(OutputMode.Update())
      .option("checkpointLocation", s"$work/ck/open").start()
    def batches = progress.batches(q.runId.toString)
    val coldDeadline = System.currentTimeMillis() + 120000L
    while (!batches.exists(_.rows > 0) && q.isActive && System.currentTimeMillis() < coldDeadline)
      Thread.sleep(5)
    named("cold_start_s") = ((System.nanoTime() - tc) / 1e9, "s", 1)
    layer("selector.json_probes") = jsonProbes(optimizedPlan(q))

    // open loop: file i >= 1 is due at t0 + i * interval whatever the
    // stream does. Its first `warmup_s` belong to set-up: in a fresh JVM the
    // micro-batches take about twice as long at first and settle over some
    // twenty seconds, so lag is timed only on the files due after
    val t0 = System.currentTimeMillis()
    val timedFrom = t0 + c.get("warmup_s").asLong * 1000
    def due(i: Int) = t0 + i * interval
    val released = new Array[Long](nFiles)
    val gen = new Thread(() => {
      for (i <- 1 until nFiles) {
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        release(i)
        released(i) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    gen.start()
    Thread.sleep(math.max(0L, timedFrom - System.currentTimeMillis()))
    setupDone()
    gen.join()
    val deadline = System.currentTimeMillis() + 60000L
    while (batches.map(_.rows).sum < total && System.currentTimeMillis() < deadline && q.isActive)
      Thread.sleep(10)
    q.stop()
    val bs = batches
    val rows = bs.map(_.rows).sum
    attempted += total
    failed += math.max(0L, total - rows)
    check(s"open loop: all $total messages read", rows == total, s"rows=$rows batches=${bs.size}")

    // closed loop: the same files drained again through the same function,
    // `drain_files_per_trigger` at a time. Its rate is the pipeline's
    // capacity; its update rows, folded to the final row per key, are the
    // stream result the batch twin checks
    val fin = scala.collection.concurrent.TrieMap[(Long, String), org.apache.spark.sql.Row]()
    val td = System.nanoTime()
    val dq = call("drain", "drain") {
      val ev = call("drain", "source.fileStream") {
        MessageSource.fileStream(spark, watched, Map("maxFilesPerTrigger" -> c.get("drain_files_per_trigger").asText))
      }
      val dq = Pipeline.filterPipeline(ev, customer).writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", s"$work/ck/drain")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach(r => fin((r.getLong(0), r.getString(1))) = r) }
        .trigger(Trigger.AvailableNow()).start()
      dq.awaitTermination()
      dq
    }
    val drainS = (System.nanoTime() - td) / 1e9
    timingDone()
    val ds = progress.batches(dq.runId.toString)
    val drained = ds.map(_.rows).sum
    attempted += total
    failed += math.max(0L, total - drained)
    check(s"closed-loop drain: all $total messages read", drained == total, s"rows=$drained batches=${ds.size}")

    // which batch took each file: the file source's metadata log
    val fileBatch = sourceLog(s"$work/ck/open/sources/0")
    val endOf = bs.map(b => b.batchId -> b.endMs).toMap
    val opened = 1 until nFiles
    val batchOf = opened.map(i => fileBatch.get(files(i).getFileName.toString))
    check("every released file committed", batchOf.forall(_.exists(endOf.contains)),
      s"${batchOf.count(_.exists(endOf.contains))}/${opened.size}")
    val timed = opened.indices.filter(j => due(opened(j)) >= timedFrom)
    val lags = timed.flatMap(j => batchOf(j).flatMap(endOf.get).map(end => (end - due(opened(j))).toDouble))
    val late = timed.map(j => released(opened(j)) - due(opened(j)))
    val timedBatches = bs.filter(_.startMs >= timedFrom)
    val backlog = timedBatches.map { b =>
      opened.count(i => released(i) <= b.endMs) - batchOf.count(_.exists(_ <= b.batchId))
    }
    val capacity = total / drainS
    val offered = c.get("messages_per_file").asDouble * 1000 / interval
    e2e("throughput_per_s") = (capacity, "1/s", ds.size)
    e2e("latency_p50_ms") = (median(lags), "ms", lags.size)
    named("drain_msgs_per_s") = (capacity, "1/s", ds.size)
    layer("stream.query_start_stop_ms") = drainS * 1000 - ds.map(_.durMs.getOrElse("triggerExecution", 0L)).sum
    named("offered_msgs_per_s") = (offered, "1/s", 1)
    named("offered_share_of_drain") = (offered / capacity, "ratio", 1)
    named("lag_p50_ms") = (median(lags), "ms", lags.size)
    if (lags.size >= 100) named("lag_p90_ms") = (pct(lags, 0.9), "ms", lags.size)
    layer("source.backlog_files_max") = if (backlog.isEmpty) 0 else backlog.max
    layer("source.generator_late_ms_max") = if (late.isEmpty) 0 else late.max
    streamLayers(ctx, timedBatches)
    extra("timed_batches") = timedBatches.map(b => Map("start_s" -> (b.startMs - timedFrom) / 1000.0,
      "ms" -> b.durMs.getOrElse("triggerExecution", 0L), "rows" -> b.rows))

    // the batch phase: registered keys of the streaming pack over the
    // streamed files, through builder, Catalyst planning and execution.
    // The batch twin `stream_filter_pipeline` must equal the stream result.
    // On traced runs `stream_redelivery` follows: its builder writes the
    // redelivery ledger, a catalog table, and its full result goes to the
    // DuckDB oracle compare
    val tablesBefore = spark.catalog.listTables().count()
    def key(k: String)(exec: DataFrame => Any): Any = {
      val t1 = System.nanoTime()
      val df = builder(k) { SparkEntry.queries(k)(spark, s"$work/sf") }
      val t2 = System.nanoTime()
      call(k, "plan") { df.queryExecution.executedPlan }
      val t3 = System.nanoTime()
      val out = call(k, "exec") { exec(df) }
      val t4 = System.nanoTime()
      layer("builder.s") = layer.getOrElse("builder.s", 0.0) + (t2 - t1) / 1e9
      layer("plan.s") = layer.getOrElse("plan.s", 0.0) + (t3 - t2) / 1e9
      layer(s"key.$k.builder_s") = (t2 - t1) / 1e9
      layer(s"key.$k.exec_s") = (t4 - t3) / 1e9
      out
    }
    val batchRows = key("stream_filter_pipeline")(_.collect()).asInstanceOf[Array[org.apache.spark.sql.Row]]
    val same = batchRows.length == fin.size &&
      batchRows.forall(r => fin.get((r.getLong(0), r.getString(1))).contains(r))
    attempted += 1
    if (!same) failed += 1
    check("stream result == batch result", same, s"stream=${fin.size} rows, batch=${batchRows.length} rows")
    // per-layer figures only, so untraced runs leave it out
    if (traced) {
      attempted += 1
      key("stream_redelivery")(_.coalesce(1).write.mode("overwrite").parquet(s"$work/results/stream_redelivery"))
      layer("artifact.catalog_tables_built") = spark.catalog.listTables().count() - tablesBefore
      extra("oracle") = Map("tables" -> s"$work/sf", "results" -> s"$work/results",
        "sql" -> Map("stream_redelivery" -> SparkEntry.oracleSql.getOrElse("stream_redelivery", null)))
    }
    extra("files") = nFiles
  }

  /** file name -> batchId from a file-source metadata log directory
    * (plain and compacted entries). */
  def sourceLog(dir: String): Map[String, Long] = {
    val st = Files.list(Paths.get(dir))
    try st.iterator().asScala.filter(p => p.getFileName.toString.forall(ch => ch.isDigit || ch == '.' ||
        "compact".contains(ch)) && !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .filter(_.startsWith("{"))
      .map { l =>
        val n = mapper.readTree(l)
        Paths.get(new java.net.URI(n.get("path").asText)).getFileName.toString -> n.get("batchId").asLong
      }.toMap
    finally st.close()
  }

  // ---- batch-keys -------------------------------------------------------

  private def batchKeys(ctx: Ctx): Unit = {
    import ctx._
    val sfDir = s"$work/sf"
    val keys = c.get("keys").elements().asScala.map(_.asText).toSeq
    val registry = SparkEntry.queries
    val order = new scala.util.Random(seed).shuffle(keys)

    final case class KeyRun(key: String, builderS: Double, planS: Double, execS: Double)
    def pass(p: Int): Seq[KeyRun] = order.map { k =>
      val id = s"p$p:$k"
      attempted += 1
      call(id, "key") {
        try {
          val t0 = System.nanoTime()
          val df = builder(id) { registry(k)(spark, sfDir) }
          val t1 = System.nanoTime()
          call(id, "plan") { df.queryExecution.executedPlan }
          val t2 = System.nanoTime()
          call(id, "exec") { df.write.format("noop").mode("overwrite").save() }
          val t3 = System.nanoTime()
          KeyRun(k, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
        } catch { case e: Throwable =>
          failed += 1
          check(s"key $k pass $p", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
          KeyRun(k, Double.NaN, Double.NaN, Double.NaN)
        }
      }
    }
    def total(ks: Seq[KeyRun]) = ks.map(k => k.builderS + k.planS + k.execS).sum
    val tablesBefore = spark.catalog.listTables().count()
    val cold = pass(0)
    val tablesBuilt = spark.catalog.listTables().count() - tablesBefore
    setupDone()
    val warm = ArrayBuffer[Seq[KeyRun]]()
    val tw = System.nanoTime()
    while (warm.size < 2 || (System.nanoTime() - tw) / 1e9 < seconds) warm += pass(warm.size + 1)
    timingDone()

    val perKey = warm.flatten.map(k => (k.builderS + k.planS + k.execS) * 1000)
    val warmTotals = warm.map(total).toSeq
    e2e("throughput_per_s") = (keys.size / median(warmTotals), "1/s", warm.size)
    e2e("latency_p50_ms") = (median(perKey), "ms", perKey.size)
    named("cold_pass_s") = (total(cold), "s", 1)
    named("warm_pass_s") = (median(warmTotals), "s", warmTotals.size)
    val all = cold ++ warm.flatten
    layer("builder.s") = all.map(_.builderS).sum
    layer("plan.s") = all.map(_.planS).sum
    layer("artifact.catalog_tables_built") = tablesBuilt
    keys.foreach { k =>
      layer(s"key.$k.builder_s") = median(warm.flatten.filter(_.key == k).map(_.builderS))
      layer(s"key.$k.exec_s") = median(warm.flatten.filter(_.key == k).map(_.execS))
    }

    // full results for the DuckDB oracle compare (run after the JVM exits)
    val oracle = SparkEntry.oracleSql
    val outDir = s"$work/results"
    keys.foreach { k =>
      try call("verify", s"verify.write") {
        registry(k)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$k")
      } catch { case e: Throwable =>
        failed += 1
        check(s"key $k full result written", ok = false, e.getMessage)
      }
    }
    extra("oracle") = Map("tables" -> sfDir, "results" -> outDir,
      "sql" -> keys.map(k => k -> oracle.getOrElse(k, null)).toMap)
    extra("key_order") = order
  }

  // ---- record -----------------------------------------------------------

  private def write(ctx: Ctx, profile: String, consts: JsonNode, out: String): Unit = {
    import ctx._
    exec.foreach { e =>
      Bus.drain(sc)
      layer("builder.jobs") = e.builderJobs
      layer("storage.retained_bytes") = e.rddBytesPeak
    }
    val self = spans.selfNs
    def selfS(names: String*) = names.map(n => self.getOrElse(n, 0L)).sum / 1e9
    if (spans.on) {
      // wall time of the timed phase during which a Spark job was running
      layer("exec.s") = spans.coveredNs("spark.job", timed0, timed1) / 1e9
      layer("self.selector_s") = selfS("selector.compile")
      layer("self.source_s") = selfS("source.fileStream", "source.latestOffset", "source.getBatch")
      layer("self.stream_s") = selfS("stream.trigger", "stream.walCommit", "stream.queryPlanning",
        "stream.commitOffsets")
      layer("self.builder_s") = selfS("builder")
      layer("self.plan_s") = selfS("plan")
      layer("self.exec_s") = selfS("exec", "stream.addBatch")
      layer("self.spark_job_s") = selfS("spark.job")
      val f = Paths.get(work, "spans.jsonl")
      Files.write(f, spans.all.map(s => mapper.writeValueAsString(toJava(LMap(
        "id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "parent" -> s.parent)))).asJava)
      extra("spans_file") = f.toString
      extra("spans") = spans.all.size
    }
    val rt = Runtime.getRuntime
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val rec = LMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "profile" -> profile,
      "geometry" -> Map("cpus" -> rt.availableProcessors, "master" -> sc.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_heap_mb" -> rt.maxMemory / 1048576, "host_cores" -> os.getAvailableProcessors,
        "host_mem_mb" -> os.getTotalMemorySize / 1048576),
      "versions" -> Map("spark" -> spark.version, "jdk" -> System.getProperty("java.version")),
      "constants" -> mapper.convertValue(consts, classOf[java.util.Map[String, Any]]),
      "end_to_end" -> e2e.map { case (k, (v, u, n)) => k -> Map("value" -> v, "unit" -> u, "samples" -> n) },
      "named" -> named.map { case (k, (v, u, n)) => k -> Map("value" -> v, "unit" -> u, "samples" -> n) },
      "per_layer" -> layer,
      "attempted" -> attempted, "failed" -> failed,
      "checks" -> checks.map { case (n, ok, d) => Map("check" -> n, "ok" -> ok, "detail" -> d) })
    rec ++= extra
    Files.writeString(Paths.get(out), mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(toJava(rec)))
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }; j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }
}
