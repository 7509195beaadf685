package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.reco.{FoldInRecommender, RecommenderService}

/** The `/recommend` path: open-loop POSTs of seeded cold-start rating
  * sets over at most nproc keep-alive connections to RecommenderService,
  * started with the Spark session as the reference does. The ml phase
  * serves 3,706 items (MovieLens' item-factor shape) at 25 req/s and
  * then in rate steps; the big phase ranks 100,000 items.
  */
object ServeWorkload {
  val Rank = 20
  val Reg = 0.1
  val TopN = 5
  val MlItems = 3706
  val BigItems = 100000
  val MlRate = 25.0
  val StepRates: Seq[Double] = Seq(25, 50, 100, 200, 400)
  val BigRate = 5.0
  val WarmMl = 20
  val WarmBig = 4
  val WarmHttp = 4

  final case class Factors(ids: Array[Int], rows: Array[Array[Double]])

  /** Nonnegative rank-20 factors, as the trainer's `nonnegative=true`
    * gives; item ids are a seeded subset of 1..(items × 1.07) so there
    * are gaps, as in MovieLens. */
  def factors(seed: Long, items: Int): Factors = {
    val rnd = new scala.util.Random(seed * 31 + items)
    val span = (items * 1.07).toInt
    val ids = rnd.shuffle((1 to span).toVector).take(items).sorted.toArray
    val rows = Array.fill(items)(Array.fill(Rank)(rnd.nextDouble() * 0.6))
    Factors(ids, rows)
  }

  def seeds(rnd: scala.util.Random, ids: Array[Int]): Seq[(Int, Double)] = {
    val n = 5 + rnd.nextInt(16)
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.size < n) picked += ids(rnd.nextInt(ids.length))
    picked.toSeq.map(id => id -> (1 + rnd.nextInt(5)).toDouble)
  }

  def payload(s: Seq[(Int, Double)]): Array[Byte] =
    s.map { case (id, r) => s"""{"filmId": $id, "rating": ${r.toInt}}""" }
      .mkString("""{"ratings": [""", ", ", "]}").getBytes(UTF_8)

  /** The benchmark's own answer: ridge fold-in by Cholesky and a full
    * scan, returning (filmId, score) of the top N unrated items. */
  def expected(f: Factors, rowOf: Map[Int, Int], s: Seq[(Int, Double)])
      : (Array[Double], IndexedSeq[(Int, Double)]) = {
    val known = s.filter { case (id, _) => rowOf.contains(id) }
    val a = Array.tabulate(Rank, Rank)((i, j) => if (i == j) Reg else 0.0)
    val b = new Array[Double](Rank)
    known.foreach { case (id, r) =>
      val y = f.rows(rowOf(id))
      for (i <- 0 until Rank) {
        b(i) += y(i) * r
        for (j <- 0 until Rank) a(i)(j) += y(i) * y(j)
      }
    }
    val l = Array.ofDim[Double](Rank, Rank)
    for (i <- 0 until Rank; j <- 0 to i) {
      var sum = a(i)(j)
      for (k <- 0 until j) sum -= l(i)(k) * l(j)(k)
      l(i)(j) = if (i == j) math.sqrt(sum) else sum / l(j)(j)
    }
    val z = new Array[Double](Rank)
    for (i <- 0 until Rank) {
      var sum = b(i); for (k <- 0 until i) sum -= l(i)(k) * z(k); z(i) = sum / l(i)(i)
    }
    val u = new Array[Double](Rank)
    for (i <- Rank - 1 to 0 by -1) {
      var sum = z(i); for (k <- i + 1 until Rank) sum -= l(k)(i) * u(k); u(i) = sum / l(i)(i)
    }
    val rated = known.map(_._1).toSet
    val top = mutable.ArrayBuffer.empty[(Int, Double)]
    val before = Ordering.by[(Int, Double), (Double, Int)] { case (id, sc) => (-sc, id) }
    f.ids.indices.foreach { i =>
      if (!rated.contains(f.ids(i))) {
        val y = f.rows(i)
        var d = 0.0
        var k = 0
        while (k < Rank) { d += y(k) * u(k); k += 1 }
        val c = (f.ids(i), d)
        if (top.length < TopN || before.lt(c, top.last)) {
          top.insert(top.indexWhere(before.lt(c, _)) match { case -1 => top.length; case j => j }, c)
          if (top.length > TopN) top.remove(TopN)
        }
      }
    }
    (u, top.toIndexedSeq)
  }

  final case class Served(name: String, f: Factors, model: FoldInRecommender.Model,
      handle: RecommenderService.Handle)

  def run(ctx: Ctx): (SparkSession, Json.Obj) = {
    val rec = ctx.rec
    val nproc = Runtime.getRuntime.availableProcessors()

    // Inputs: factor matrices and every request body, before timing.
    val genStart = Clock.nowMs()
    val mlF = factors(ctx.seed, MlItems)
    val bigF = factors(ctx.seed, BigItems)
    val rnd = new scala.util.Random(ctx.seed)
    val mlSecs = ctx.seconds * 0.35
    val stepSecs = ctx.seconds * 0.04
    val bigSecs = ctx.seconds * 0.45
    val plan = mutable.ArrayBuffer.empty[(String, Double, Seq[(Int, Double)])] // phase, due offset, seeds
    var t = 0.0
    def add(phase: String, rate: Double, secs: Double, ids: Array[Int]): Unit = {
      val n = (rate * secs).toInt
      (0 until n).foreach(i => plan += ((phase, t + i * 1000.0 / rate, seeds(rnd, ids))))
      t += secs * 1000
    }
    add("ml", MlRate, mlSecs, mlF.ids)
    StepRates.foreach(r => add(s"step${r.toInt}", r, stepSecs, mlF.ids))
    val mlEnd = t
    add("big", BigRate, bigSecs, bigF.ids)
    val warm = (0 until WarmMl).map(_ => seeds(rnd, mlF.ids)) ++
      (0 until WarmBig).map(_ => seeds(rnd, bigF.ids))
    val genMs = Clock.nowMs() - genStart
    Main.log(s"inputs ready: ${plan.length} requests")

    def setup(): (SparkSession, Seq[Served], Json.Obj) = {
      val t0 = Clock.nowMs()
      val spark = rec.span("setup.session")(Main.session(ctx))
      val t1 = Clock.nowMs()
      val models = rec.span("setup.model") {
        Seq("ml" -> mlF, "big" -> bigF).map { case (n, f) =>
          val titles = f.ids.map(id => id -> s"Movie $id ($n)").toMap
          n -> (f, FoldInRecommender.fromFactors(f.ids, f.rows, titles))
        }
      }
      val served = models.map { case (n, (f, m)) =>
        Served(n, f, m, RecommenderService.start(m, 0, TopN, Reg, Some(spark)))
      }
      val t2 = Clock.nowMs()
      // The ranking code warms by direct calls; a few requests then
      // warm the HTTP path of each service.
      rec.span("setup.warmup") {
        warm.zipWithIndex.foreach { case (w, i) =>
          val (s, j) = if (i < WarmMl) (served(0), i) else (served(1), i - WarmMl)
          s.model.recommend(w, TopN, Reg)
          if (j < WarmHttp) Http.call(s.handle.port, "POST", "/recommend", payload(w))
        }
      }
      val t3 = Clock.nowMs()
      (spark, served, Json.obj("start" -> t0, "session_ms" -> (t1 - t0),
        "model_ms" -> (t2 - t1), "warmup_ms" -> (t3 - t2), "total_ms" -> (t3 - t0)))
    }

    val setups = mutable.ArrayBuffer.empty[Json.Obj]
    var state: (SparkSession, Seq[Served], Json.Obj) = null
    (1 to Main.Setups).foreach { _ =>
      if (state != null) { state._2.foreach(_.handle.stop()); Main.stop(state._1) }
      state = setup()
      setups += state._3
    }
    val (spark, served, _) = state
    val ml = served.find(_.name == "ml").get
    val big = served.find(_.name == "big").get

    val start = Clock.nowMs() + 50
    val reqs = plan.zipWithIndex.map { case ((ph, due, s), i) =>
      HttpLoad.Req(i, ph, start + due, "POST", "/recommend", payload(s))
    }.toIndexedSeq
    val steps = StepRates.map(r => s"step${r.toInt}").toSet
    val conns = math.max(1, nproc)
    val jvmBefore = rec.jvmCounters()
    // A step whose queue holds a quarter second of arrivals cannot meet
    // the latency limit; it and the steps above it are cut short.
    val ml1 = HttpLoad.run(ml.handle.port, conns, reqs.filter(_.phase != "big"), rec,
      "serve.request",
      abortAt = ph => if (steps.contains(ph)) math.max(20, (ph.drop(4).toDouble * 0.25).toInt)
        else Int.MaxValue,
      abortable = steps)
    val jvmMid = rec.jvmCounters()
    val bigStart = start + mlEnd
    // The big phase keeps its spacing but starts no earlier than now.
    val bigReqs = reqs.filter(_.phase == "big")
    val shift = math.max(0.0, Clock.nowMs() + 20 - bigStart)
    val big1 = HttpLoad.run(big.handle.port, conns,
      bigReqs.map(r => r.copy(due = r.due + shift)), rec, "serve.request")
    val end = Clock.nowMs()
    val jvmAfter = rec.jvmCounters()
    val results = ml1.results ++ big1.results
    Main.log(s"load done: ${results.length} responses")

    // Correctness: a 200 whose five filmIds are the benchmark's own
    // top five (ties within 1e-9 may come in either order).
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rowOf = Map("ml" -> ml.f.ids.zipWithIndex.toMap, "big" -> big.f.ids.zipWithIndex.toMap)
    val seedsOf = plan.map(_._3)
    results.foreach { r =>
      val op = s"serve:${r.req.phase}:${r.req.id}"
      val which = if (r.req.phase == "big") big else ml
      if (r.status != 200) ctx.fail(op, s"status ${r.status}: ${Option(r.error).getOrElse(r.body.take(300))}")
      else try {
        val got = mapper.readTree(r.body).path("recommendations").elements().asScala
          .map(_.path("filmId").asInt).toIndexedSeq
        val s = seedsOf(r.req.id.toInt)
        val (u, want) = expected(which.f, rowOf(which.name), s)
        val scoreOf = {
          val row = rowOf(which.name)
          (id: Int) => row.get(id).map(i => which.f.rows(i).indices
            .map(k => which.f.rows(i)(k) * u(k)).sum).getOrElse(Double.NaN)
        }
        val ok = got.length == want.length && got.indices.forall { i =>
          got(i) == want(i)._1 ||
            math.abs(scoreOf(got(i)) - want(i)._2) <= 1e-9 * math.max(1.0, math.abs(want(i)._2))
        } && got.distinct.length == got.length && !got.exists(id => s.exists(_._1 == id))
        if (!ok) ctx.fail(op, s"filmIds ${got.mkString(",")} but expected ${want.map(_._1).mkString(",")}")
      } catch { case e: Exception => ctx.fail(op, "unreadable body: " + Main.describe(e)) }
    }

    Main.log("responses checked")
    // Traced runs replay each request's seeds directly against the
    // model, after the timed window, to split request time by layer.
    val direct = if (!rec.enabled) Seq.empty[Json.Value] else results.map { r =>
      val which = if (r.req.phase == "big") big else ml
      val s = seedsOf(r.req.id.toInt)
      val f0 = Clock.nowMs()
      rec.span("serve.fold_in", r.req.id)(which.model.foldInVector(s, Reg))
      val f1 = Clock.nowMs()
      val a0 = rec.threadAllocated()
      rec.span("serve.recommend", r.req.id)(which.model.recommend(s, TopN, Reg))
      val a1 = rec.threadAllocated()
      Json.arr(r.req.id, f1 - f0, Clock.nowMs() - f1, a1 - a0)
    }

    val body = Json.obj(
      "setups" -> setups.toSeq,
      "input_generation_ms" -> genMs,
      "connections" -> conns,
      "window" -> Json.obj("start" -> start, "big_start" -> bigStart, "end" -> end),
      "jvm_before" -> jvmBefore, "jvm_mid" -> jvmMid, "jvm_after" -> jvmAfter,
      "phases" -> (Seq(Json.obj("phase" -> "ml", "rate" -> MlRate, "seconds" -> mlSecs)) ++
        StepRates.map(r => Json.obj("phase" -> s"step${r.toInt}", "rate" -> r,
          "seconds" -> stepSecs)) :+
        Json.obj("phase" -> "big", "rate" -> BigRate, "seconds" -> bigSecs)),
      "skipped" -> (ml1.skipped ++ big1.skipped),
      "aborted" -> ml1.aborted.map(a => a: Json.Value),
      "queue" -> (ml1.queueSamples ++ big1.queueSamples)
        .map(q => Json.arr(q._1, q._2, q._3)),
      "requests" -> results.map(HttpLoad.resJson),
      "direct" -> direct)
    (spark, body)
  }
}
