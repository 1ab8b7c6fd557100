package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Seeded document text for the stream. Row `v` of the rate source is a
  * planted duplicate of an earlier row (at most one second of input back)
  * with probability 1/5; otherwise it is an original with its own text.
  */
object StreamText {
  val Words = 5000
  val TokensPerDoc = 24

  private def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The original row whose text row `v` carries. */
  def origin(seed: Long, v: Long, rate: Long): Long = {
    var x = v
    while (x > 0 && java.lang.Long.remainderUnsigned(mix(seed * 31 + x), 5) == 0) {
      x -= 1 + java.lang.Long.remainderUnsigned(mix(seed * 131 + x * 7919), math.min(x, rate))
    }
    x
  }

  def text(seed: Long, original: Long): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < TokensPerDoc) {
      if (i > 0) sb.append(' ')
      var w = java.lang.Long.remainderUnsigned(mix(seed ^ (original * 64 + i)), Words)
      sb.append('w')
      do { sb.append(('a' + (w % 26)).toChar); w /= 26 } while (w > 0)
      i += 1
    }
    sb.toString
  }
}

/** Open-loop streaming dedup: Spark's `rate` source at fixed input rates,
  * seeded text, `StreamingDedup.simhash` with a 10 s watermark horizon and
  * a collecting sink that stamps every emitted row with its emission time.
  */
object Stream {
  val Horizon = "10 seconds"
  /** Rows scheduled in the first seconds of a rung are the query's own
    * start-up; their latency is not part of the steady state.
    */
  val WarmScheduleMs = 2000.0

  final case class Batch(id: Long, emitMs: Double, values: Array[Long], tsMs: Array[Long])

  def rung(spark: SparkSession, rec: Recorder, parent: Span, seed: Long, rate: Long,
           checkpoint: String, stop: (Double, Array[StreamingQueryProgress]) => Boolean)
      : Json.Obj = {
    val text = udf((v: Long) => StreamText.text(seed, StreamText.origin(seed, v, rate)))
    val docs = spark.readStream.format("rate")
      .option("rowsPerSecond", rate).option("numPartitions", 1).load()
      .withColumn("text", text(col("value")))
    val batches = new ConcurrentLinkedQueue[Batch]
    val span = rec.open(parent.id, "rung", s"rate-$rate")
    rec.current.set(span)
    val sink = (df: DataFrame, id: Long) => {
      val rows = df.collect()
      val now = rec.nowMs()
      batches.add(Batch(id, now, rows.map(_.getLong(0)),
        rows.map(_.getTimestamp(1).getTime)))
      ()
    }
    val q = graft.streaming.StreamingDedup.simhash(docs, "text", "timestamp", Horizon)
      .select(col("value"), col("timestamp"))
      .writeStream
      // no trigger interval: a batch starts as soon as the previous one
      // ends and the source has released another second of rows, so the
      // latency does not depend on how trigger ticks align with seconds
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink)
      .start()
    val t0 = rec.nowMs()
    while (q.isActive && !stop((rec.nowMs() - t0) / 1e3, q.recentProgress)) Thread.sleep(50)
    q.stop()
    rec.close(span)
    rec.current.set(null)
    q.exception.foreach(e => throw e)
    summarize(seed, rate, span, batches.asScala.toSeq, q.recentProgress)
  }

  /** Latencies, backlog and the correctness check of one rung. Only
    * batches whose progress was reported count: a batch cut by `stop()`
    * may have reached the sink without being committed.
    */
  def summarize(seed: Long, rate: Long, span: Span, batches: Seq[Batch],
                progress: Array[StreamingQueryProgress]): Json.Obj = {
    val o = new Json.Obj
    o("rate") = rate
    o("span") = span.id
    o("wall_s") = (span.end - span.start) / 1e3
    val done = progress.filter(_.sources.nonEmpty)
    val lastId = if (done.isEmpty) -1L else done.map(_.batchId).max
    val endSeconds = done.map(endSecond).foldLeft(0L)(math.max)
    val processed = endSeconds * rate
    val kept = batches.filter(_.id <= lastId)
    val emitted = mutable.HashSet.empty[Long]
    var duplicates = 0L
    kept.foreach(_.values.foreach(v => if (!emitted.add(v)) duplicates += 1))
    var expected = 0L
    var missing = 0L
    var v = 0L
    while (v < processed) {
      if (StreamText.origin(seed, v, rate) == v) {
        expected += 1
        if (!emitted.contains(v)) missing += 1
      }
      v += 1
    }
    val extra = emitted.count(x => x >= processed || StreamText.origin(seed, x, rate) != x)
    o("processed_rows") = processed
    o("expected_rows") = expected
    o("emitted_rows") = emitted.size
    o("missing") = missing
    o("extra") = extra + duplicates
    o("ok") = missing == 0 && extra == 0 && duplicates == 0 && processed > 0
    val startTs = kept.flatMap(b => b.tsMs.headOption).minOption
      .map(_.toDouble).getOrElse(span.start)
    val lat = kept.flatMap(b => b.tsMs.iterator.filter(_ >= startTs + WarmScheduleMs)
      .map(ts => (b.emitMs - ts) / 1e3))
    o("latencies_s") = lat.sorted
    o("text_bytes") = processed * approxTextBytes(seed)
    // per micro-batch that ran (idle triggers report no addBatch): its
    // processing seconds and the seconds of the schedule it consumed
    val ran = done.filter(_.durationMs.containsKey("addBatch")).toSeq
    o("batch_busy_s") = ran.map(_.durationMs.get("triggerExecution").doubleValue / 1e3)
    o("batch_input_s") = ran.map(p => endSecond(p) - startSecond(p))
    // backlog: rows due by the schedule at each trigger minus rows processed
    val backlog = done.map { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val due = math.max(0.0, (t - startTs) / 1e3 * rate)
      val end = endSecond(p) * rate
      due - end
    }
    o("backlog_rows") = backlog.toSeq
    o
  }

  /** Seconds of the rate source's schedule consumed after a batch. */
  def endSecond(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(0L)

  /** Seconds of the rate source's schedule consumed before a batch. */
  def startSecond(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.startOffset)).map(_.trim.toLong).getOrElse(0L)

  /** Mean size of a generated document (ASCII), from a 1000-doc sample. */
  def approxTextBytes(seed: Long): Double =
    (0L until 1000L).map(i => StreamText.text(seed, i).length + 1.0).sum / 1000

  def run(opts: Map[String, String], rec: Recorder, res: Json.Obj, root: Span,
          seconds: Double, traced: Boolean, work: String, session: () => SparkSession): Unit = {
    val seed = opts("seed").toLong
    val rates = opts("rates").split(",").map(_.toLong).toSeq
    var n = 0
    def checkpoint() = { n += 1; s"$work/checkpoints/q$n" }
    var spark: SparkSession = null
    spark = Setup.sessions(rec, res, session)
    val warm = rec.open(root.id, "pass", "warmup")
    // warm-up at the middle rate (the top one, past capacity, builds a
    // backlog on a cold JVM): until four batches with input have completed
    rung(spark, rec, warm, seed, rates(rates.size / 2), checkpoint(),
      (t, ps) => t > 30 || ps.count(_.numInputRows > 0) >= 4)
    rec.close(warm)
    res("warmup_s") = (warm.end - warm.start) / 1e3
    // each rung processes 0.4 × `seconds` of its schedule (a rung needs a
    // few batches past start-up) and ends when that input is processed;
    // the top rung, past capacity, takes longer than its schedule
    val perRung = math.max(3L, (seconds * 0.4).round)
    def ladder(kind: String): Json.Obj = {
      val pass = rec.open(root.id, "pass", kind)
      val cpu0 = Proc.cpuSeconds()
      val rungs = new Json.Arr
      rates.foreach { r =>
        val rungCpu0 = Proc.cpuSeconds()
        val o = rung(spark, rec, pass, seed, r, checkpoint(),
          (t, ps) => ps.exists(endSecond(_) >= perRung) || t > 3 * perRung + 20)
        // the last batch may take more than the rung's schedule
        o("scheduled_rows") = perRung * r
        o("cpu_s") = Proc.cpuSeconds() - rungCpu0
        rungs += o
      }
      rec.close(pass)
      val p = new Json.Obj
      p("kind") = kind
      p("span") = pass.id
      p("wall_s") = (pass.end - pass.start) / 1e3
      p("cpu_s") = Proc.cpuSeconds() - cpu0
      p("rungs") = rungs
      p
    }
    val w0 = Proc.window()
    val t0 = rec.nowMs()
    val passes = new Json.Arr
    passes += ladder("timed")
    // the last rung's state store is still loaded: its query stopped only
    res("live_mb") = Proc.liveMb()
    if (traced) {
      rec.attach(spark)
      passes += ladder("traced")
    }
    res("window") = Proc.windowSince(w0, (rec.nowMs() - t0) / 1e3)
    res("passes") = passes
  }
}
