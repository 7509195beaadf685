package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{FeedbackGenerator, FeedbackPipeline, LiveCountsService,
  MemorySource, TriggerMetrics}

/** The live-dashboard path: feedback messages from the reference's five
  * bot profiles flow MemorySource → FeedbackPipeline.parse →
  * startForeachBatch(saveAndLogFn(…, "feedback_raw")) in append mode,
  * released open loop by one generator thread at their due times, while
  * a dashboard client polls `GET /counts` on LiveCountsService. After
  * the base rate come rate steps ×4, ×16 and ×64, then the
  * update-mode epoch-0 replay of the reference's 146,626-message
  * backlog as one trigger.
  */
object StreamWorkload {

  /** (profile, msg/s) of `bots/bot_*.py`: 1,100 msg/s in all. */
  val Profiles: Seq[(String, Int)] = Seq("random" -> 100, "random50" -> 50,
    "revista" -> 250, "inserso" -> 500, "masculino" -> 200)
  val ReplayRows = 146626
  val Steps: Seq[Int] = Seq(4, 16, 64)
  val WarmBatches = 8
  val WarmSize = 300
  val Replays = 3
  /** Seconds at the base rate before the measured base phase: trigger
    * times still fall by a third over a new JVM's first seconds. */
  val WarmInS = 5.0

  final case class Phase(name: String, seconds: Double, due: Array[Double],
      msgs: Array[String])

  /** Messages of all profiles at `mult` × their rate for `seconds`,
    * merged by due time (ms from the phase start). Message numbers
    * start at a seed-derived offset so each seed sends other messages. */
  def phase(name: String, seed: Long, mult: Int, seconds: Double,
      counters: mutable.Map[String, Int]): Phase = {
    val rnd = new scala.util.Random(seed * 7919 + mult)
    val all = Profiles.flatMap { case (p, rate) =>
      val r = rate.toDouble * mult
      val offset = rnd.nextDouble()
      val n = (r * seconds).toInt
      val k0 = counters.getOrElse(p, (seed % 100000).toInt * 10000)
      counters(p) = k0 + n
      (0 until n).map(i => ((i + offset) * 1000.0 / r,
        FeedbackGenerator.message(p, k0 + i)))
    }.sortBy(_._1)
    Phase(name, seconds, all.map(_._1).toArray, all.map(_._2).toArray)
  }

  private def readCsv(path: Path): Seq[(Long, Long, Double)] =
    Files.readAllLines(path).asScala.drop(1).filter(_.nonEmpty).map { l =>
      val f = l.split(",")
      (f(0).toLong, f(1).toLong, f(2).toDouble)
    }.toSeq

  /** The program's sink, `saveAndLogFn`, wrapped to time each call and
    * to follow the running total it logs (the CSV's `count` column). */
  final class Sink(ctx: Ctx, csv: Path) {
    val inner: (DataFrame, Long) => Unit = TriggerMetrics.saveAndLogFn(csv, "feedback_raw")
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Double)]()
    @volatile var lastEpoch = -1L
    @volatile var counted = 0L
    private var read = 0
    val fn: (DataFrame, Long) => Unit = { (df, epoch) =>
      val t0 = Clock.nowMs()
      ctx.rec.span("stream.sink", epoch)(inner(df, epoch))
      batches.add((epoch, t0, Clock.nowMs()))
      val rows = readCsv(csv)
      counted += rows.drop(read).map(_._2).sum
      read = rows.length
      lastEpoch = epoch
    }
  }

  def run(ctx: Ctx): (SparkSession, Json.Obj) = {
    val rec = ctx.rec
    val csvDir = Paths.get(ctx.workDir, "trigger_csv")
    Files.createDirectories(csvDir)

    // Inputs, generated before anything is timed.
    val genStart = Clock.nowMs()
    val counters = mutable.Map.empty[String, Int]
    val warm = phase("warm", ctx.seed, 1, WarmInS, counters)
    val base = phase("base", ctx.seed, 1, ctx.seconds * 0.7, counters)
    val steps = Steps.map(m => phase(s"x$m", ctx.seed, m, ctx.seconds * 0.1, counters))
    val replayMsgs = {
      val rnd = new scala.util.Random(ctx.seed)
      val weights = Profiles.map(_._2)
      (0 until ReplayRows).map { i =>
        var x = rnd.nextInt(weights.sum)
        val p = Profiles.find { case (_, w) => x -= w; x < 0 }.get._1
        FeedbackGenerator.message(p, 500000000 + (ctx.seed % 1000).toInt * 200000 + i)
      }
    }
    val genMs = Clock.nowMs() - genStart

    var setupNo = 0
    def setup(): (SparkSession, MemorySource, StreamingQuery, Sink, Path,
        LiveCountsService.Handle, Json.Obj) = {
      setupNo += 1
      val t0 = Clock.nowMs()
      val spark = rec.span("setup.session")(Main.session(ctx))
      val t1 = Clock.nowMs()
      val csv = csvDir.resolve(s"live_$setupNo.csv")
      Files.deleteIfExists(csv)
      TriggerMetrics.initCsv(csv)
      val sink = new Sink(ctx, csv)
      val (src, query) = rec.span("setup.stream_start") {
        val src = new MemorySource(spark)
        val q = FeedbackPipeline.startForeachBatch(
          FeedbackPipeline.parse(src.load(spark)), sink.fn, "append")
        (src, q)
      }
      val t2 = Clock.nowMs()
      // Warm-up: a few base-rate-sized batches through the whole
      // pipeline, one trigger each, then the dashboard service over the
      // view the sink maintains.
      val handle = rec.span("setup.warmup") {
        (0 until WarmBatches).foreach { b =>
          src.add((0 until WarmSize).map(k => FeedbackGenerator.message("random", -1 - b * WarmSize - k)))
          val limit = Clock.nowMs() + 60000
          while (sink.lastEpoch < b && Clock.nowMs() < limit) Thread.sleep(1)
          if (sink.lastEpoch < b) throw new IllegalStateException(s"warm-up trigger $b did not finish in 60 s")
        }
        val h = LiveCountsService.start(spark, "global_temp.feedback_raw")
        Http.call(h.port, "GET", "/counts", null)
        h
      }
      val t3 = Clock.nowMs()
      (spark, src, query, sink, csv, handle, Json.obj("start" -> t0,
        "session_ms" -> (t1 - t0), "stream_start_ms" -> (t2 - t1),
        "warmup_ms" -> (t3 - t2), "total_ms" -> (t3 - t0)))
    }

    val setups = mutable.ArrayBuffer.empty[Json.Obj]
    var state: (SparkSession, MemorySource, StreamingQuery, Sink, Path,
      LiveCountsService.Handle, Json.Obj) = null
    (1 to Main.Setups).foreach { _ =>
      if (state != null) { state._6.stop(); Main.stop(state._1) }
      state = setup()
      setups += state._7
    }
    val (spark, src, query, sink, csv, counts, _) = state
    val queryId = query.id.toString
    val warmRows = (WarmBatches * WarmSize).toLong

    // Dashboard: four pages polling every 2 s, staggered (2 req/s).
    val start = Clock.nowMs() + 50
    val ingestMs = (warm.seconds + base.seconds + steps.map(_.seconds).sum) * 1000
    val pollReqs = (0 until (ingestMs / 500).toInt).map(i =>
      HttpLoad.Req(i, "counts", start + i * 500.0, "GET", "/counts", null))
    @volatile var pollOutcome: HttpLoad.Outcome = null
    val poller = new Thread(() => {
      pollOutcome = HttpLoad.run(counts.port, 4, pollReqs, rec, "stream.counts_request")
    }, "bench-dashboard")
    poller.start()

    // Generator: wakes when the next message is due and releases every
    // due message as one MemoryStream batch as soon as the stream has
    // consumed the previous one. Each trigger thus reads everything
    // that arrived while the last one ran, as from a one-partition
    // Kafka topic; MemoryStream makes one task per added batch, so
    // adding each message alone would give triggers hundreds of tasks.
    val chunks = mutable.ArrayBuffer.empty[(String, Int, Int, Double)] // phase, first, n, added
    val backlog = mutable.ArrayBuffer.empty[(String, Double, Long)]
    val lag = mutable.ArrayBuffer.empty[Json.Value]
    val dues = mutable.ArrayBuffer.empty[Double]
    var added = warmRows
    def committed(): Long = sink.counted
    val windows = mutable.ArrayBuffer.empty[Json.Obj]
    val jvmBefore = rec.jvmCounters()
    var t = start
    (warm +: base +: steps).foreach { ph =>
      Main.log(s"phase ${ph.name}: ${ph.due.length} messages")
      val p0 = t
      var i = 0
      val n = ph.due.length
      while (i < n) {
        // Lateness counts only wake-ups the generator could make on
        // time: after waiting for the stream the next due time has
        // usually passed already, and that wait is the stream's.
        val wake = p0 + ph.due(i)
        if (wake > Clock.nowMs()) {
          Clock.sleepUntil(wake)
          lag += (Clock.nowMs() - wake)
        }
        while (committed() < added && Clock.nowMs() < wake + 30000) Thread.sleep(0, 250000)
        val now = Clock.nowMs()
        var j = i
        while (j < n && p0 + ph.due(j) <= now) j += 1
        src.add(ph.msgs.slice(i, j).toSeq)
        val addedAt = Clock.nowMs()
        chunks += ((ph.name, dues.length, j - i, addedAt))
        (i until j).foreach(k => dues += p0 + ph.due(k))
        added += j - i
        backlog += ((ph.name, addedAt, added - committed()))
        i = j
      }
      t = p0 + ph.seconds * 1000
      Clock.sleepUntil(t)
      windows += Json.obj("phase" -> ph.name, "start" -> p0, "end" -> t,
        "rate" -> ph.due.length / ph.seconds)
    }
    val ingestEnd = Clock.nowMs()
    Main.log("ingest done")
    val drainLimit = ingestEnd + 30000
    while (committed() < added && Clock.nowMs() < drainLimit) Thread.sleep(2)
    val drained = Clock.nowMs()
    if (committed() < added)
      ctx.fail("stream:drain", s"${added - committed()} of $added messages not counted 30 s after ingest ended",
        added - committed())
    Main.log(s"drained ${committed()} of $added")
    poller.join(60000)
    Main.log("dashboard done")
    val jvmAfter = rec.jvmCounters()
    query.stop()
    counts.stop()

    // Epoch-0 replay, three times: the whole backlog is in the source
    // before the update-mode query starts, so its first trigger reads
    // all of it. The median of the three is reported.
    val replays = (0 until Replays).map { r =>
      val replayCsv = csvDir.resolve(s"replay_$r.csv")
      Files.deleteIfExists(replayCsv)
      TriggerMetrics.initCsv(replayCsv)
      val replaySink = new Sink(ctx, replayCsv)
      val replaySrc = new MemorySource(spark)
      replaySrc.add(replayMsgs)
      val r0 = Clock.nowMs()
      val replay = rec.span("stream.replay") {
        val q = FeedbackPipeline.startForeachBatch(
          FeedbackPipeline.parse(replaySrc.load(spark)), replaySink.fn, "update")
        val limit = Clock.nowMs() + 60000
        while (replaySink.lastEpoch < 0 && Clock.nowMs() < limit) Thread.sleep(1)
        q
      }
      val r1 = Clock.nowMs()
      val replayId = replay.id.toString
      val progressLimit = Clock.nowMs() + 10000
      while (!rec.progress.asScala.exists(p => p.queryId == replayId && p.batchId == 0) &&
        Clock.nowMs() < progressLimit) Thread.sleep(5)
      replay.stop()
      if (replaySink.lastEpoch < 0) ctx.fail(s"stream:replay:$r", "replay trigger did not finish in 60 s", ReplayRows)
      readCsv(replayCsv).headOption match {
        case Some((0L, n, _)) if n == ReplayRows =>
        case other => ctx.fail(s"stream:replay:$r", s"epoch-0 replay counted $other, expected $ReplayRows rows",
          ReplayRows)
      }
      Json.obj("query" -> replayId, "start" -> r0, "end" -> r1)
    }
    Main.log("replays done")

    // Correctness: every message counted exactly once across triggers.
    val live = readCsv(csv)
    val misplaced = live.zipWithIndex.filter { case (l, i) => l._1 != i }.map(_._1)
    if (misplaced.nonEmpty)
      ctx.fail("stream:epochs", s"trigger epochs not contiguous from 0: ${live.map(_._1).take(10)}",
        math.max(1L, misplaced.map(_._2).sum))
    val counted = live.map(_._2).sum
    if (counted != added)
      ctx.fail("stream:count", s"triggers counted $counted messages, $added were sent",
        math.abs(counted - added))
    val boundaries = chunks.map(c => warmRows + c._2 + c._3).toSet ++
      (1 to WarmBatches).map(b => (b * WarmSize).toLong)
    val cum = live.map(_._2).scanLeft(0L)(_ + _).tail
    val split = live.zip(cum).filterNot { case (_, c) => boundaries.contains(c) || c == 0 }
    if (split.nonEmpty)
      ctx.fail("stream:batching", s"${split.length} triggers ended inside a generator batch " +
        s"(cumulative counts ${split.take(5).map(_._2).mkString(", ")})", split.map(_._1._2).sum)
    val polls = Option(pollOutcome).map(_.results).getOrElse(Seq.empty)
    val ageBins = Set("<18", "18-24", "25-34", "35-44", "45-49", "50-55", "56+")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    polls.foreach { r =>
      val op = s"stream:counts:${r.req.id}"
      if (r.status != 200) ctx.fail(op, s"status ${r.status}: ${Option(r.error).getOrElse(r.body.take(300))}")
      else try {
        val root = mapper.readTree(r.body)
        def dim(d: String): Map[String, Long] =
          root.path(d).properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
        val (g, o, a) = (dim("gender"), dim("occupation"), dim("age"))
        if (g.values.sum != o.values.sum || g.values.sum != a.values.sum)
          ctx.fail(op, s"dimension totals differ: gender ${g.values.sum}, " +
            s"occupation ${o.values.sum}, age ${a.values.sum}")
        val bad = a.keySet -- ageBins
        if (bad.nonEmpty) ctx.fail(op, s"unknown age bins ${bad.mkString(",")}")
      } catch { case e: Exception => ctx.fail(op, "unreadable body: " + Main.describe(e)) }
    }

    val body = Json.obj(
      "setups" -> setups.toSeq,
      "input_generation_ms" -> genMs,
      "query_id" -> queryId,
      "windows" -> windows.toSeq,
      "ingest_end" -> ingestEnd, "drained" -> drained,
      "jvm_before" -> jvmBefore, "jvm_after" -> jvmAfter,
      "messages" -> added, "warm_rows" -> warmRows,
      "dues" -> dues.toSeq.map(d => d: Json.Value),
      "chunks" -> chunks.toSeq.map(c => Json.arr(c._1, c._2, c._3, c._4)),
      "generator_lag" -> lag.toSeq,
      "backlog" -> backlog.toSeq.map(b => Json.arr(b._1, b._2, b._3)),
      "triggers" -> live.map(l => Json.arr(l._1, l._2, l._3)),
      "sink_calls" -> sink.batches.asScala.toSeq.map(b => Json.arr(b._1, b._2, b._3)),
      "replays" -> replays,
      "polls" -> polls.map(HttpLoad.resJson))
    (spark, body)
  }
}
