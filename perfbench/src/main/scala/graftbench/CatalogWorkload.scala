package graftbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.operators.{BucketedOps, PartitionedOps}

/** The analyst path: a closed loop of one client running catalog
  * queries from `SparkEntry.queries` on the seeded tables, each result
  * fully materialized with `collect()` (a `count()` would let Catalyst
  * prune the projected columns).
  *
  * One query's latency is build (the operator function, including its
  * eager jobs) + plan (forcing `executedPlan`) + materialize. Passes
  * run the query set in a seed-shuffled order until the time is up.
  */
object CatalogWorkload {

  /** A fixed cross-section of the catalog: one of the cheaper queries
    * from each of its larger families (relational, the bucketed layout,
    * stats over the engine's aggregate functions, text, dedup,
    * embeddings). A whole catalog pass takes minutes even on
    * small tables, so this set is what fits several passes, plus a warm
    * pass in each of the three set-ups, into one run. */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q26_bucketed_join", "stat_topk_agg",
    "text_tokens", "dedup_exact", "emb_label_centroid")

  /** Passes before the measured window. A count, not a time: query
    * times still fall for dozens of passes in a new JVM, and a time
    * would leave a run slowed by a busy host less warm as well. */
  val WarmInPasses = 6
  /** ...but no longer than this, so that a slow program still ends in time. */
  val WarmInMaxS = 30.0

  private def canonical(rows: Array[Row]): Int =
    rows.iterator.map(_.toString).toArray.sorted.toSeq.hashCode

  final case class Exec(pass: Int, name: String, start: Double, built: Double,
      planned: Double, end: Double, rows: Long, ok: Boolean)

  def run(ctx: Ctx): (SparkSession, Json.Obj) = {
    val rec = ctx.rec
    val dir = ctx.dataDir
    val catalog = SparkEntry.queries
    val missing = Queries.filterNot(catalog.contains)
    require(missing.isEmpty, s"queries not in the catalog: ${missing.mkString(",")}")

    def execute(spark: SparkSession, name: String, req: Long)
        : (Array[Row], StructType, Double, Double, Double, Double) =
      rec.span("catalog.query", req) {
        val t0 = Clock.nowMs()
        val df = rec.span("catalog.build", req)(catalog(name)(spark, dir))
        val t1 = Clock.nowMs()
        rec.span("catalog.plan", req)(df.queryExecution.executedPlan)
        val t2 = Clock.nowMs()
        val rows = rec.span("catalog.exec", req)(df.collect())
        (rows, df.schema, t0, t1, t2, Clock.nowMs())
      }

    def dropCached(spark: SparkSession): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

    val warmupFailures = mutable.LinkedHashMap.empty[String, String]
    def setup(): (SparkSession, Json.Obj) = {
      val t0 = Clock.nowMs()
      val spark = rec.span("setup.session")(Main.session(ctx))
      val t1 = Clock.nowMs()
      rec.span("setup.layout") {
        BucketedOps.ensureBucketed(spark, dir)
        PartitionedOps.ensurePartitioned(spark, dir)
      }
      val t2 = Clock.nowMs()
      // One pass over the query set: a new session's first executions
      // pay for JIT, whole-stage codegen and file listing, which would
      // otherwise swamp the few passes of the measured window.
      rec.span("setup.warmup") {
        Queries.foreach { q =>
          try execute(spark, q, -1L)
          catch { case e: Throwable => warmupFailures(q) = Main.describe(e) }
          dropCached(spark)
        }
      }
      val t3 = Clock.nowMs()
      (spark, Json.obj("start" -> t0, "session_ms" -> (t1 - t0),
        "layout_ms" -> (t2 - t1), "warmup_ms" -> (t3 - t2), "total_ms" -> (t3 - t0)))
    }

    val setups = mutable.ArrayBuffer.empty[Json.Obj]
    var spark: SparkSession = null
    (1 to Main.Setups).foreach { i =>
      if (spark != null) Main.stop(spark)
      val (s, t) = setup()
      spark = s
      setups += t
    }

    val first = mutable.LinkedHashMap.empty[String, (Array[Row], StructType, Int)]
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passes = mutable.ArrayBuffer.empty[Json.Obj]
    // Passes run back to back: first the warm-in, whose results are
    // checked but not measured, then the measured window. A pass that
    // has started always finishes.
    val warmStart = Clock.nowMs()
    var start = Double.MaxValue
    var deadline = Double.MaxValue
    var jvmBefore: Map[String, Double] = null
    var pass = 0
    var req = 0L
    while (Clock.nowMs() < deadline) {
      val order = new scala.util.Random(ctx.seed * 1000 + pass).shuffle(Queries)
      val passStart = Clock.nowMs()
      if (start == Double.MaxValue &&
          (pass == WarmInPasses || passStart - warmStart > WarmInMaxS * 1000)) {
        start = passStart
        deadline = start + ctx.seconds * 1000
        jvmBefore = rec.jvmCounters()
      }
      order.foreach { name =>
        req += 1
        val t0 = Clock.nowMs()
        try {
          val (rows, schema, s, b, p, e) = execute(spark, name, req)
          var ok = true
          val hash = canonical(rows)
          first.get(name) match {
            case None => first(name) = (rows, schema, hash)
            case Some((_, _, h)) if h != hash =>
              ok = false
              ctx.fail(s"catalog:$name", s"pass $pass result differs from pass 0 " +
                s"(${rows.length} rows)")
            case _ =>
          }
          execs += Exec(pass, name, s, b, p, e, rows.length, ok)
        } catch { case e: Throwable =>
          ctx.fail(s"catalog:$name", Main.describe(e))
          execs += Exec(pass, name, t0, t0, t0, Clock.nowMs(), 0, ok = false)
        }
        dropCached(spark)
      }
      passes += Json.obj("pass" -> pass, "start" -> passStart, "end" -> Clock.nowMs(),
        "measured" -> (passStart >= start))
      pass += 1
    }
    val end = Clock.nowMs()
    val jvmAfter = rec.jvmCounters()

    // Results of each query's first execution go to parquet for the
    // DuckDB oracle, after the measured window.
    val resultDir = Paths.get(ctx.outDir, "results").toString
    first.foreach { case (name, (rows, schema, _)) =>
      try spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$resultDir/$name")
      catch { case e: Throwable => ctx.fail(s"catalog:$name", "writing result: " + Main.describe(e)) }
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }

    val body = Json.obj(
      "setups" -> setups.toSeq,
      "window" -> Json.obj("warm_start" -> warmStart, "start" -> start, "end" -> end),
      "jvm_before" -> jvmBefore, "jvm_after" -> jvmAfter,
      "queries" -> Queries.map(q => q: Json.Value),
      "warmup_failures" -> Json.Obj(warmupFailures.toSeq.map { case (k, v) => k -> (v: Json.Value) }),
      "passes" -> passes.toSeq,
      "execs" -> execs.toSeq.map(x => Json.arr(x.pass, x.name, x.start, x.built,
        x.planned, x.end, x.rows, x.ok)),
      "oracle_sql" -> oracle,
      "result_dir" -> resultDir)
    (spark, body)
  }
}
