package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.mapreduce.{HashPartition, MapleJuiceJob, RangePartition, Workloads}

/** Benchmark harness: one JVM, one `local[N]` session, one driver thread.
  *
  * Usage: `perfbench.Main key=value ...` with keys `workload`, `seed`,
  * `seconds`, `trace` (0|1), `work` (work directory), `out` (result file),
  * plus, for `batch`, `inputs` (generated MapleJuice inputs) and `data`
  * (catalog tables), and for `stream_dedup`, `rates`. `perfbench/run.py`
  * builds the argument list; it also checks correctness and computes every
  * metric from the result file this program writes.
  *
  * Batch workloads run as: three session starts (see [[Setup]]), two
  * warm-up passes over every op (the first, JVM-cold, also writes the
  * outputs the correctness check reads), then complete timed passes
  * while `seconds` holds at least half of another pass. A traced run then
  * attaches the listeners and spends another `seconds` on traced passes,
  * so the result also carries the tracing overhead (traced minus untraced
  * pass walls).
  */
object Main {

  val WarmupPasses = 2

  /** Catalog ops of the batch workload, after the MapleJuice jobs: scan +
    * aggregate, also through its GraftSql twin, and an iterative BFS (25
    * Spark jobs per call).
    */
  val CatalogOps = Seq("q1", "q1@sql", "g3")

  /** One operation: a public entry-point call (`build`) plus the action
    * that materializes its result. `action(df, dir, check)` writes the
    * result to `dir` when `check` is set (the outputs the correctness check
    * reads) and may otherwise run a no-op write.
    */
  final case class Op(name: String, build: SparkSession => DataFrame,
                      action: (DataFrame, String, Boolean) => Unit, stated: Long,
                      views: Option[SparkSession => Unit] = None)

  private val parquetOrNoop = (df: DataFrame, path: String, check: Boolean) =>
    if (check) df.write.mode("overwrite").parquet(path)
    else df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val opts = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val rec = new Recorder
    val res = new Json.Obj
    res("workload") = workload
    res("cores") = cores
    res("heap_mb") = Runtime.getRuntime.maxMemory / 1048576.0

    var spark: SparkSession = null
    def newSession(): SparkSession = {
      if (spark != null) spark.stop()
      val s = graft.core.GraftSession.tuned(
        SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-$workload")
          .config("spark.local.dir", s"$work/spark-local")
          .config("spark.sql.warehouse.dir", s"$work/warehouse")
          .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints"),
        shufflePartitions = cores).getOrCreate()
      spark = s
      s
    }

    val runRoot = rec.open(0, "run", workload)
    try {
      workload match {
        case "stream_dedup" =>
          Stream.run(opts, rec, res, runRoot, seconds, traced, work, () => newSession())
        case "batch" =>
          val ops = maplejuiceOps(opts("inputs"), s"$work/out", cores) ++
            catalogOps(opts("data"), CatalogOps)
          res("op_names") = ops.map(_.name)
          val oracles = new Json.Obj
          ops.foreach(o => graft.SparkEntry.oracleSql.get(o.name.stripSuffix("@sql"))
            .foreach(sql => oracles(o.name.stripSuffix("@sql")) = sql))
          res("oracles") = oracles
          batch(ops, rec, res, runRoot, seconds, traced, work, () => newSession())
      }
    } finally {
      // stop() drains the listener bus, so every job/stage span is in
      if (spark != null) spark.stop()
      rec.close(runRoot)
    }
    res("codegen_fallbacks") = rec.codegenFallbacks.get
    res("peak_rss_mb") = Proc.peakRssMb()
    if (traced) res("spans") = Json.spans(rec.all)
    Files.writeString(Paths.get(opts("out")), Json.render(res))
  }

  /** The catalog ops, each also runnable as its SQL twin (`name@sql`). */
  def catalogOps(dir: String, names: Seq[String]): Seq[Op] = {
    val queries = graft.SparkEntry.queries
    def full(short: String) = queries.keys.find(_.startsWith(short + "_"))
      .getOrElse(sys.error(s"unknown catalog op $short"))
    def referenced(sql: String): Seq[String] = graft.sql.GraftSql.tableNames
      .filter(t => s"\\b$t\\b".r.findFirstIn(sql.toLowerCase).isDefined)
    // stated input: the tables the op's oracle SQL reads
    def stated(name: String): Long =
      referenced(graft.SparkEntry.oracleSql.getOrElse(name, ""))
        .map(t => new java.io.File(s"$dir/$t.parquet").length).sum
    names.map { n =>
      if (n.endsWith("@sql")) {
        val q = full(n.stripSuffix("@sql"))
        // traced passes also time the view registration GraftSql.run does
        val tables = graft.sql.GraftSql.texts.get(q).toSeq.flatMap(referenced)
        Op(s"$q@sql", s => graft.sql.GraftSql.run(s, dir, q), parquetOrNoop, stated(q),
          Some(s => graft.sql.GraftSql.registerViews(s, dir, tables)))
      } else {
        val q = full(n)
        Op(q, s => queries(q)(s, dir), parquetOrNoop, stated(q))
      }
    }
  }

  /** Condorcet (two chained MapleJuice jobs, phase 1 materialized as text
    * the way the reference hands it to phase 2) and word count through
    * the hash and the range partitioner.
    */
  def maplejuiceOps(inputs: String, out: String, cores: Int): Seq[Op] = {
    def size(p: String) = new java.io.File(p).length
    val ballots = s"$inputs/ballots.txt"
    val text = s"$inputs/text.txt"
    // every MapleJuice job writes its output, as the reference's jobs do
    def keysOnly(df: DataFrame, path: String, check: Boolean): Unit =
      df.select(col("_1")).write.mode("overwrite").text(path)
    def tsv(df: DataFrame, path: String, check: Boolean): Unit = {
      import df.sparkSession.implicits._
      MapleJuiceJob.writeTsv(df.as[(String, String)], path)
    }
    Seq(
      Op("condorcet_p1", s => MapleJuiceJob.run(s.read.textFile(ballots),
        Workloads.CondorcetMaple1, Workloads.CondorcetJuice1, cores).toDF(),
        keysOnly, size(ballots)),
      Op("condorcet_p2", s => MapleJuiceJob.run(s.read.textFile(s"$out/condorcet_p1"),
        Workloads.CondorcetMaple2, new Workloads.CondorcetJuice2Compat(10), 1).toDF(),
        tsv, 0L),
      Op("wordcount_hash", s => MapleJuiceJob.run(s.read.textFile(text),
        Workloads.WordCountMaple, Workloads.WordCountJuice, cores, HashPartition).toDF(),
        tsv, size(text)),
      Op("wordcount_range", s => MapleJuiceJob.run(s.read.textFile(text),
        Workloads.WordCountMaple, Workloads.WordCountJuice, cores, RangePartition).toDF(),
        tsv, size(text)))
  }

  def batch(ops: Seq[Op], rec: Recorder, res: Json.Obj, root: Span, seconds: Double,
            traced: Boolean, work: String, session: () => SparkSession): Unit = {
    val out = s"$work/out"
    var spark: SparkSession = null

    def runPass(kind: String, check: Boolean = false): Json.Obj = {
      val pass = rec.open(root.id, "pass", kind)
      val cpu0 = Proc.cpuSeconds()
      val opsJson = new Json.Arr
      val sc = spark.sparkContext
      ops.foreach { op =>
        spark.catalog.clearCache()
        if (kind == "traced") op.views.foreach { register =>
          val v = rec.open(pass.id, "views", op.name)
          sc.setLocalProperty(Recorder.SpanKey, v.id.toString)
          register(spark)
          rec.close(v)
          sc.setLocalProperty(Recorder.SpanKey, null)
        }
        val o = rec.open(pass.id, "op", op.name)
        sc.setLocalProperty(Recorder.OpKey, o.id.toString)
        val j = new Json.Obj
        j("name") = op.name
        j("stated_bytes") = op.stated
        try {
          val b = rec.open(o.id, "build", op.name, o.id)
          sc.setLocalProperty(Recorder.SpanKey, b.id.toString)
          val df = op.build(spark)
          rec.close(b)
          // parsing (SQL twins) and analysis run eagerly inside the call
          df.queryExecution.tracker.phases.foreach { case (phase, p) =>
            b.attrs(s"${phase}_ms") = (p.endTimeMs - p.startTimeMs).toDouble
          }
          val a = rec.open(o.id, "action", op.name, o.id)
          sc.setLocalProperty(Recorder.SpanKey, a.id.toString)
          op.action(df, s"$out/${op.name}", check)
          rec.close(a)
          j("build_s") = (b.end - b.start) / 1e3
          j("action_s") = (a.end - a.start) / 1e3
          j("ok") = true
        } catch { case NonFatal(e) =>
          j("ok") = false
          j("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          System.err.println(s"[perfbench] ${op.name} failed: $e")
        }
        rec.close(o)
        sc.setLocalProperty(Recorder.SpanKey, null)
        sc.setLocalProperty(Recorder.OpKey, null)
        j("wall_s") = (o.end - o.start) / 1e3
        j("span") = o.id
        opsJson += j
      }
      rec.close(pass)
      val p = new Json.Obj
      p("kind") = kind
      p("span") = pass.id
      p("wall_s") = (pass.end - pass.start) / 1e3
      p("cpu_s") = Proc.cpuSeconds() - cpu0
      p("rdd_block_mb") = rec.rddBlockBytes.getAndSet(0) / 1048576.0
      p("ops") = opsJson
      p
    }

    spark = Setup.sessions(rec, res, session)
    val warm = (0 until WarmupPasses).map(i => runPass("warmup", check = i == 0))
    res("warmup_s") = warm.map(_("wall_s").asInstanceOf[Double]).sum
    res("warmup") = warm

    // timed passes: start another complete pass while at least half of a
    // pass of the median length seen so far still fits in the window, so
    // the pass count is the window over the pass length, rounded
    val passes = new Json.Arr
    val w0 = Proc.window()
    val t0 = rec.nowMs()
    def elapsed = (rec.nowMs() - t0) / 1e3
    def window(kind: String): Double = {
      val start = elapsed
      val walls = mutable.ArrayBuffer.empty[Double]
      def median = { val s = walls.sorted; s(s.size / 2) }
      while (walls.isEmpty || elapsed - start + median / 2 <= seconds) {
        val p = runPass(kind)
        walls += p("wall_s").asInstanceOf[Double]
        passes += p
      }
      elapsed - start
    }
    window("timed")
    res("live_mb") = Proc.liveMb()
    if (traced) {
      rec.attach(spark)
      rec.rddBlockBytes.set(0)
      res("traced_window_s") = window("traced")
    }
    res("window") = Proc.windowSince(w0, elapsed)
    res("passes") = passes
  }
}
