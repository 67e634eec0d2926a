package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analyze.CricketQueries
import graft.extract.Extractors
import graft.ingest.IngestJob
import graft.model.Cricsheet
import graft.publish.PublishJob
import graft.sources.ZipSource
import graft.streaming.{StreamDedup, StreamIngest, StreamSimilarity}

/** JVM side of the benchmark: one warm session, the workload's set-up
  * and one unmeasured step, then a fixed number of closed-loop steps.
  * Inputs are laid out by run.py under `<work>/inputs`; results go to
  * `<work>/result.json` for run.py to turn into metrics.
  *
  * Usage: Harness --workload W --work DIR --steps N --trace 0|1 --cores K
  */
object Harness {

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One timed operation inside a step. */
  final case class Op(kind: String, wallS: Double, spark: Map[String, Long],
                      progress: Map[String, Long])

  /** Times operations for the current step; counts Spark work and
    * streaming progress only while tracing is on.
    */
  final class Measure(spark: SparkSession) {
    val ops = ArrayBuffer[Op]()
    def apply[T](kind: String)(body: => T): T = {
      val traced = Trace.isOn
      val before = if (traced) { Trace.drain(spark); Trace.Counters.snapshot() } else Map.empty[String, Long]
      val p0 = Trace.progress.synchronized(Trace.progress.size)
      val t0 = now()
      val out = Trace.span(kind)(body)
      val wall = secs(t0)
      if (traced) {
        Trace.drain(spark)
        val after = Trace.Counters.snapshot()
        val prog = Trace.progress.synchronized(Trace.progress.drop(p0).toList)
        val summed = prog.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
        ops += Op(kind, wall, after.map { case (k, v) => k -> (v - before(k)) }, summed)
      } else ops += Op(kind, wall, Map.empty, Map.empty)
      out
    }
  }

  /** Output checks, run outside every timed region. */
  object Checks {
    var attempted = 0
    var failed = 0
    val messages = ArrayBuffer[String]()
    private var opFailed = false
    def expect(ok: Boolean, what: => String): Unit =
      if (!ok) { opFailed = true; if (messages.size < 50) messages += what }
    /** Close the checks of one operation: it counts as failed when any
      * expectation since the last close failed. */
    def closeOp(): Unit = {
      attempted += 1
      if (opFailed) failed += 1
      opFailed = false
    }
  }

  /** Per-layer numbers that are not spans (bytes, file counts, set-up
    * phase times), reported by their median or last value. */
  val extras = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  def extra(name: String, v: Double): Unit =
    extras.getOrElseUpdate(name, ArrayBuffer()) += v

  trait Workload {
    /** Bring the generated inputs under `dir` to their steady state. */
    def setup(spark: SparkSession, dir: String): Unit
    /** One closed-loop step. */
    def step(spark: SparkSession, i: Int, m: Measure): Unit
    /** Check step `i`'s outputs; one [[Checks.closeOp]] per operation. */
    def check(spark: SparkSession, i: Int): Unit
    def finish(spark: SparkSession): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = opt("work")
    val nSteps = opt("steps").toInt
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt

    val t0 = now()
    val spark = graft.core.Sessions.local(cores)
    val sessionS = secs(t0)
    val floorMs = jobFloorMs(spark)

    val w: Workload = opt("workload") match {
      case "weekly" => new Weekly(work)
      case "stream" => new Stream(work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // The set-up is traced too (the weekly one is where the archive is
    // read). It ends with one unmeasured step, so every code path the
    // measured steps take has run once.
    if (traced) Trace.on(spark)
    val b0 = now()
    Trace.trace("setup") {
      w.setup(spark, s"$work/inputs")
      w.step(spark, 0, new Measure(spark))
    }
    val bootS = secs(b0)
    if (traced) Trace.off(spark)
    w.check(spark, 0)

    // The same steps on every run, whatever the host's speed: steps get
    // heavier as state grows, so a time-boxed loop would take the
    // median over a different set of steps on a faster or slower run.
    val steps = ArrayBuffer[(Boolean, Double, Seq[Op])]()
    val start = now()
    var i = 1
    var broken = false
    while (!broken && i <= nSteps) {
      val on = traced && steps.size % 2 == 0
      if (on) Trace.on(spark)
      val m = new Measure(spark)
      val t = now()
      try {
        val wall =
          try { Trace.trace("step") { w.step(spark, i, m) }; secs(t) }
          finally if (on) Trace.off(spark)
        steps += ((on, wall, m.ops.toSeq))
        w.check(spark, i)
      } catch {
        // a failing step is a failed operation; later steps would
        // start from a broken state, so the run stops here
        case NonFatal(e) =>
          Checks.expect(false, s"step $i failed: $e")
          Checks.closeOp()
          broken = true
      }
      i += 1
    }
    val measuredS = secs(start)
    val f0 = now()
    if (!broken) w.finish(spark)
    val finishS = secs(f0)

    val sparkVersion = spark.version
    spark.stop()
    writeResult(s"$work/result.json", Map(
      "session_s" -> sessionS,
      "boot_s" -> bootS,
      "measured_s" -> measuredS,
      "finish_s" -> finishS,
      "harness_s" -> secs(t0),
      "job_floor_ms" -> floorMs,
      "steps" -> steps.map { case (on, wall, ops) =>
        Map("traced" -> on, "wall_s" -> wall, "ops" -> ops.map(o => Map(
          "kind" -> o.kind, "wall_s" -> o.wallS, "spark" -> o.spark,
          "progress" -> o.progress)))
      },
      "extras" -> extras.toMap,
      "spans" -> Trace.spanMaps,
      "checks" -> Map("attempted" -> Checks.attempted,
        "failed" -> Checks.failed, "messages" -> Checks.messages),
      "env" -> Map("spark_version" -> sparkVersion, "cores" -> cores,
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
        "peak_rss_kb" -> peakRssKb())))
  }

  /** Median wall of an empty one-task job: the fixed cost every Spark
    * job pays on this session. */
  def jobFloorMs(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    val ts = (0 until 25).map { _ =>
      val t = now(); sc.parallelize(Seq(1), 1).count(); secs(t) * 1000
    }.drop(5).sorted
    (ts(ts.size / 2) + ts((ts.size - 1) / 2)) / 2
  }

  def peakRssKb(): Long =
    Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def duBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => duBytes(c.getPath)).sum).getOrElse(0L)
  }

  def lineCount(path: String): Long = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().count(_.nonEmpty).toLong finally src.close()
  }

  def moveAll(from: String, to: String): Seq[String] = {
    new File(to).mkdirs()
    val files = Option(new File(from).listFiles).map(_.toSeq).getOrElse(Nil)
      .filter(_.isFile).sortBy(_.getName)
    files.foreach(f => Files.move(f.toPath, Paths.get(to, f.getName),
      StandardCopyOption.ATOMIC_MOVE))
    files.map(_.getName)
  }

  // ---- JSON --------------------------------------------------------------

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def writeResult(path: String, v: Any): Unit = {
    val pw = new PrintWriter(path, "UTF-8")
    try pw.write(json(v)) finally pw.close()
  }

  // ---- ground truth and CSV checks -----------------------------------------

  final case class Truth(id: Int, date: String, team1: String, team2: String,
                         total1: Int, total2: Int, deliveries: Int, winner: String)

  def readTruth(path: String): Map[Int, Truth] = {
    val src = Source.fromFile(path)
    try src.getLines().drop(1).map { l =>
      val f = l.split("\t", -1)
      val t = Truth(f(0).toInt, f(1), f(2), f(3), f(4).toInt, f(5).toInt,
        f(6).toInt, f(7))
      t.id -> t
    }.toMap finally src.close()
  }

  /** Split one CSV record (RFC 4180 quoting; no embedded newlines). */
  def splitCsv(line: String): Array[String] = {
    val out = ArrayBuffer[String](); val cur = new StringBuilder
    var q = false; var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (q) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') q = false
        else cur += c
      } else if (c == '"') q = true
      else if (c == ',') { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.toString
    out.toArray
  }

  /** Header and rows of the single part file Spark wrote under `dir`. */
  def csvRows(dir: String): (Map[String, Int], Iterator[Array[String]], Source) = {
    val part = new File(dir).listFiles
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .getOrElse(throw new IllegalStateException(s"no CSV part under $dir"))
    val src = Source.fromFile(part, "UTF-8")
    val lines = src.getLines()
    val header = splitCsv(lines.next()).zipWithIndex.toMap
    (header, lines.map(splitCsv), src)
  }

  def expectedNote(ts: Iterable[Truth]): String = {
    val last = ts.maxBy(t => (t.date, t.id))
    val d = last.date.split("-")
    s"Updated till the match between ${last.team1} and ${last.team2} on ${d(2)}/${d(1)}/${d(0)}"
  }

  /** The published CSVs and note against the truth of `expected`. */
  def checkPublished(out: String, note: String, expected: Seq[Truth]): Unit = {
    val order = expected.sortBy(t => (t.date, t.id))
    val (h, rows, src) = csvRows(s"$out/matchwise_data.csv")
    try {
      var n = 0
      rows.foreach { r =>
        val t = if (n < order.size) order(n) else null
        n += 1
        Checks.expect(t != null && r(h("match_id")).toInt == t.id,
          s"matchwise row $n: match ${r(h("match_id"))} out of (date, match_id) order")
        Checks.expect(r(h("match_number")) == n.toString,
          s"matchwise row $n: match_number ${r(h("match_number"))} is not dense")
        if (t != null) {
          Checks.expect(r(h("team_1_total_runs")) == t.total1.toString &&
            r(h("team_2_total_runs")) == t.total2.toString,
            s"match ${t.id}: team totals ${r(h("team_1_total_runs"))}/" +
              s"${r(h("team_2_total_runs"))}, expected ${t.total1}/${t.total2}")
          Checks.expect(r(h("winner")) == t.winner,
            s"match ${t.id}: winner ${r(h("winner"))}, expected ${t.winner}")
        }
      }
      Checks.expect(n == order.size, s"matchwise has $n rows, expected ${order.size}")
    } finally src.close()
    val (dh, drows, dsrc) = csvRows(s"$out/deliverywise_data.csv")
    try {
      var n = 0L; var runs = 0L
      val numberOf = order.zipWithIndex.map { case (t, i) => t.id.toString -> (i + 1).toString }.toMap
      var numbered = true
      drows.foreach { r =>
        n += 1; runs += r(dh("total_runs")).toLong
        numbered &&= numberOf.get(r(dh("match_id"))).contains(r(dh("match_number")))
      }
      Checks.expect(n == order.map(_.deliveries.toLong).sum,
        s"deliverywise has $n rows, expected ${order.map(_.deliveries.toLong).sum}")
      Checks.expect(runs == order.map(t => (t.total1 + t.total2).toLong).sum,
        s"deliverywise total_runs sum $runs disagrees with the match totals")
      Checks.expect(numbered, "deliverywise match_number disagrees with matchwise")
    } finally dsrc.close()
    Checks.expect(note == expectedNote(expected),
      s"version note '$note', expected '${expectedNote(expected)}'")
  }

  // ---- workloads -------------------------------------------------------------

  /** The analysis notebook's queries (graft.analyze.CricketQueries)
    * that the ground truth can answer, each with its expected rows, as
    * `Row.toString`, for the published matches. */
  val Queries: Seq[(String, DataFrame => DataFrame, Seq[Truth] => Seq[String])] = Seq(
    ("matchesPerYear", CricketQueries.matchesPerYear, ts => perYear(ts)),
    ("teamMatchesPerYear", CricketQueries.teamMatchesPerYear(_, "Alpha"),
      ts => perYear(ts.filter(t => t.team1 == "Alpha" || t.team2 == "Alpha"))),
    ("allTeams", CricketQueries.allTeams,
      ts => ts.flatMap(t => Seq(t.team1, t.team2)).distinct.sorted.map(t => s"[$t]")),
    ("noResultSplit", CricketQueries.noResultSplit, ts => {
      val none = ts.count(_.winner == "no result")
      Seq(s"[$none,${ts.size - none}]")
    }))

  private def perYear(ts: Seq[Truth]): Seq[String] =
    ts.groupBy(_.date.take(4).toInt).toSeq.sortBy(_._1)
      .map { case (y, g) => s"[$y,${g.size}]" }

  /** Pipeline.main's landing-directory path, one weekly drip per step:
    * ledger ingest (cap 10) -> staging re-read -> extract -> publish ->
    * per-stage ledger flags, then the analyst's queries on the newly
    * published matchwise table. */
  final class Weekly(work: String) extends Workload {
    private val truth = readTruth(s"$work/truth.tsv")
    private var dir = ""
    private var landed = Seq.empty[Int]
    private var staged = Seq.empty[String]
    private var note = ""
    // the last publish's persisted scan and the drip's queries, kept
    // until their outputs are checked
    private var raw: DataFrame = null
    private var ran = Seq.empty[(String, DataFrame, Seq[Truth] => Seq[String])]

    private def ids(names: Seq[String]) = names.map(_.stripSuffix(".json").toInt)

    /** Extract and publish `scan` in Pipeline.main's order, marking each
      * stage's ledger flag for `files` once its CSV is written. Returns
      * the published matchwise frame. */
    private def publish(spark: SparkSession, scan: DataFrame, files: Seq[String]): DataFrame = {
      raw = scan
      val ledger = s"$dir/ledger"
      val matchwise = PublishJob.buildMatchwise(Extractors.matchwise(scan))
      val deliverywise = PublishJob.buildDeliverywise(
        Extractors.deliverywise(scan), matchwise)
      Trace.span("publish.matchwise_csv") {
        PublishJob.writeCsv(matchwise, s"$dir/out/matchwise_data.csv") }
      Trace.span("ingest.mark_stage") {
        IngestJob.markStage(spark, ledger, files, IngestJob.MatchwiseStatus) }
      Trace.span("publish.deliverywise_csv") {
        PublishJob.writeCsv(deliverywise, s"$dir/out/deliverywise_data.csv") }
      Trace.span("ingest.mark_stage") {
        IngestJob.markStage(spark, ledger, files, IngestJob.DeliverywiseStatus) }
      note = Trace.span("publish.version_note") { PublishJob.versionNote(matchwise) }
      matchwise
    }

    /** Each query built on the published frame and run into the noop
      * sink. */
    private def analyze(matchwise: DataFrame): Unit =
      ran = Queries.map { case (name, q, expect) =>
        val df = Trace.span("analyze.build") { q(matchwise) }
        Trace.span("analyze.exec") {
          df.write.format("noop").mode("overwrite").save() }
        (name, df, expect)
      }

    private def release(): Unit = {
      if (raw != null) raw.unpersist()
      raw = null
      ran = Nil
    }

    /** Persisted and materialized inside the caller's span, so the read
      * is timed apart from the extract that fuses into the CSV writes. */
    private def persisted(df: DataFrame): DataFrame = {
      val r = df.persist(); r.count(); r
    }

    /** Publish the archive, then backfill the ledger with the same
      * files, both stages marked done. */
    def setup(spark: SparkSession, d: String): Unit = {
      dir = d
      val corpus = new File(s"$d/landing").list.toSeq
      landed = ids(corpus)
      // Pipeline.main's archive path: the first full publish, from the
      // zip (no ledger files to mark)
      Trace.span("rebuild") {
        publish(spark, Trace.span("sources.zip_read") {
          persisted(ZipSource.readMatches(spark, s"$d/corpus.zip")) }, Nil)
      }
      checkPublished(s"$dir/out", note, landed.map(truth))
      Checks.closeOp()
      release()
      val ledger = s"$d/ledger"
      staged = Trace.span("ingest.backfill") {
        val f = IngestJob.run(spark, s"$d/landing", s"$d/staging", ledger, corpus.size + 1)
        IngestJob.markStage(spark, ledger, f, IngestJob.MatchwiseStatus)
        IngestJob.markStage(spark, ledger, f, IngestJob.DeliverywiseStatus)
        f
      }
      check(spark, -1)
    }

    def step(spark: SparkSession, i: Int, m: Measure): Unit = {
      // the week's new files arrive before the scheduled run starts
      landed ++= ids(moveAll(s"$dir/pool/drip$i", s"$dir/landing"))
      val matchwise = m("drip") {
        staged = Trace.span("ingest.run") {
          IngestJob.run(spark, s"$dir/landing", s"$dir/staging", s"$dir/ledger") }
        publish(spark, Trace.span("model.read_staging") {
          persisted(Cricsheet.read(spark, s"$dir/staging")) }, staged)
      }
      m("queries") { analyze(matchwise) }
    }

    def check(spark: SparkSession, i: Int): Unit = {
      if (i >= 0) checkPublished(s"$dir/out", note, landed.map(truth))
      val flags = IngestJob.ledger(spark, s"$dir/ledger")
        .filter(col("file_name").isin(staged: _*))
        .filter(col(IngestJob.MatchwiseStatus) && col(IngestJob.DeliverywiseStatus))
        .count()
      Checks.expect(flags == staged.size,
        s"drip $i: $flags of ${staged.size} ledger rows have both stage flags")
      if (i >= 0) {
        Checks.expect(staged.size == IngestJob.DefaultLimit,
          s"drip $i staged ${staged.size} files, expected ${IngestJob.DefaultLimit}")
        extra("publish.csv_bytes", duBytes(s"$dir/out").toDouble)
        extra("ingest.ledger_files", countFiles(s"$dir/ledger").toDouble)
      }
      Checks.closeOp()
      if (i >= 0) {
        val published = landed.map(truth)
        for ((name, df, expect) <- ran) {
          val got = df.collect().map(_.toString).toSeq
          val want = expect(published)
          Checks.expect(got == want, s"drip $i: $name returned " +
            s"${got.take(4).mkString(" ")} (${got.size} rows), expected " +
            s"${want.take(4).mkString(" ")} (${want.size} rows)")
        }
        Checks.expect(ran.size == Queries.size, s"drip $i ran ${ran.size} queries")
        Checks.closeOp()
      }
      release()
    }

    private def countFiles(path: String): Long = {
      val f = new File(path)
      if (f.isFile) { if (f.getName.endsWith(".crc")) 0 else 1 }
      else Option(f.listFiles).map(_.map(c => countFiles(c.getPath)).sum).getOrElse(0L)
    }
  }

  /** One round = one new batch per operator, each run to termination
    * with an AvailableNow trigger. */
  final class Stream(work: String) extends Workload {
    private val truth = readTruth(s"$work/truth.tsv")
    private var dir = ""
    private var round = 0
    private var landedMatches = Seq.empty[Int]
    // (batch id, input rows) of every micro-batch of each operator's
    // last query
    private val batches = mutable.Map[String, Seq[(Long, Long)]]()

    private def await(q: org.apache.spark.sql.streaming.StreamingQuery, op: String): Unit = {
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      batches(op) = q.recentProgress.map(p => (p.batchId, p.numInputRows)).toSeq
    }

    private def runRound(spark: SparkSession, m: Measure): Unit = {
      val r = round
      val p = s"$dir/pool"; val l = s"$dir/landing"; val s = s"$dir/state"
      m("ingest") {
        landedMatches ++= moveAll(s"$p/ingest/round$r", s"$l/ingest")
          .map(_.stripSuffix(".json").toInt)
        await(StreamIngest.run(spark, s"$l/ingest", s"$s/ingest/staging",
          s"$s/ingest/checkpoint"), "ingest")
      }
      m("dedup") {
        moveAll(s"$p/dedup/round$r", s"$l/dedup")
        await(StreamDedup.run(spark, s"$l/dedup", s"$s/dedup/state",
          s"$s/dedup/out", s"$s/dedup/checkpoint"), "dedup")
      }
      m("similarity") {
        moveAll(s"$p/similarity/round$r", s"$l/similarity")
        await(StreamSimilarity.run(spark, s"$l/similarity", s"$s/similarity/state",
          s"$s/similarity/out", s"$s/similarity/checkpoint"), "similarity")
      }
      for (op <- Seq("ingest", "dedup", "similarity"))
        extra(s"streaming.$op.state_bytes", duBytes(s"$s/$op").toDouble)
      round += 1
    }

    def setup(spark: SparkSession, d: String): Unit = {
      dir = d
      runRound(spark, new Measure(spark))
      check(spark, -1)
    }
    def step(spark: SparkSession, i: Int, m: Measure): Unit = runRound(spark, m)

    def check(spark: SparkSession, i: Int): Unit = {
      val staged = s"$dir/state/ingest/staging"
      val mw = graft.core.Connectors.readStaging(spark, s"$staged/matchwise")
      val dw = graft.core.Connectors.readStaging(spark, s"$staged/deliverywise")
      val exp = landedMatches.map(truth)
      Checks.expect(mw.count() == exp.size,
        s"round $round: ${mw.count()} staged matches, expected ${exp.size}")
      Checks.closeOp()
      Checks.expect(dw.count() == exp.map(_.deliveries.toLong).sum,
        s"round $round: staged deliveries disagree with the landed files")
      Checks.closeOp()
      // round r is each operator's batch r, and it read the round's file
      val r = round - 1
      for (op <- Seq("dedup", "similarity")) {
        val rows = lineCount(s"$dir/landing/$op/round$r.json")
        Checks.expect(batches.getOrElse(op, Nil).contains((r.toLong, rows)),
          s"round $r: $op's batches ${batches.getOrElse(op, Nil)} do not include " +
            s"batch $r with its $rows new rows")
        Checks.closeOp()
      }
    }

    /** Staged rows equal Extractors on the same files, and a replay of
      * the last batch leaves the dedup and similarity outputs and state
      * row-identical (at-least-once foreachBatch delivery). */
    override def finish(spark: SparkSession): Unit = {
      val staged = s"$dir/state/ingest/staging"
      val raw = Cricsheet.read(spark, s"$dir/landing/ingest")
      // a few thousand rows: compare them sorted on the driver
      def same(a: DataFrame, b: DataFrame, what: String): Unit = {
        val cols = b.columns.toSeq.map(col)
        def rows(df: DataFrame) = df.select(cols: _*).collect().map(_.toString).sorted.toSeq
        Checks.expect(rows(a) == rows(b),
          s"StreamIngest $what rows differ from Extractors on the same files")
      }
      same(graft.core.Connectors.readStaging(spark, s"$staged/matchwise"),
        Extractors.matchwise(raw), "matchwise")
      same(graft.core.Connectors.readStaging(spark, s"$staged/deliverywise"),
        Extractors.deliverywise(raw), "deliverywise")
      Checks.closeOp()

      val last = round - 1
      def snapshot(paths: Seq[String]): Seq[Seq[String]] = paths.map { p =>
        spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
      }
      val s = s"$dir/state"
      val dedupPaths = Seq(s"$s/dedup/out", s"$s/dedup/state/docs", s"$s/dedup/state/bands")
      val before = snapshot(dedupPaths)
      val docs = spark.read.schema(StreamDedup.docSchema)
        .json(s"$dir/landing/dedup/round$last.json")
      StreamDedup.processBatch(spark, docs, last, s"$s/dedup/state",
        s"$s/dedup/out", 0.5)
      Checks.expect(snapshot(dedupPaths) == before,
        "StreamDedup replay of the last batch changed its output or state")
      Checks.expect(before.head.nonEmpty, "StreamDedup found none of the planted duplicates")
      Checks.closeOp()

      val simPaths = Seq(s"$s/similarity/out", s"$s/similarity/state/vecs",
        s"$s/similarity/state/buckets")
      val before2 = snapshot(simPaths)
      val vecs = spark.read.schema(StreamSimilarity.vecSchema)
        .json(s"$dir/landing/similarity/round$last.json")
      StreamSimilarity.processBatch(spark, vecs, last,
        s"$s/similarity/state", s"$s/similarity/out", 8, 0.9)
      Checks.expect(snapshot(simPaths) == before2,
        "StreamSimilarity replay of the last batch changed its output or state")
      Checks.expect(before2.head.nonEmpty,
        "StreamSimilarity found none of the planted near-neighbours")
      Checks.closeOp()
    }
  }
}
