package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Settings of one benchmark run, as passed by `run.py`. */
final case class Ctx(workload: String, seed: Long, seconds: Double,
    rec: Recorder, dataDir: String, outDir: String, workDir: String,
    failures: scala.collection.mutable.ArrayBuffer[Json.Obj] =
      scala.collection.mutable.ArrayBuffer.empty[Json.Obj]) {
  /** Records a failed check; `ops` is how many operations (messages,
    * requests, rows) it covers. */
  def fail(op: String, cause: String, ops: Long = 1): Unit = failures.synchronized {
    failures += Json.obj("op" -> op, "cause" -> cause, "ops" -> ops)
  }
}

/** Entry point: runs one workload and writes `raw.json` (samples,
  * failures, spans and counters) into the output directory. The
  * arithmetic over those samples lives in `stats.py`.
  *
  * Usage: graftbench.Main <catalog|live> <seed> <seconds>
  *          <trace 0|1> <dataDir> <outDir> <workDir>
  */
object Main {

  /** Set-ups per run, each in a fresh session of the same JVM; setup_s
    * is their median and the last one's session is measured. */
  val Setups = 3

  /** Share of a live run given to the stream; the recommender gets the
    * rest. */
  val LiveStreamShare = 0.6

  /** The engine's session factory, with every file Spark writes kept
    * under the run's working directory. */
  def session(ctx: Ctx): SparkSession = {
    val s = ctx.workDir
    val spark = GraftSession.builder("graftbench")
      .config("spark.sql.warehouse.dir", s"$s/warehouse")
      .config("spark.local.dir", s"$s/local")
      .config("spark.sql.streaming.checkpointLocation", s"$s/checkpoints")
      .config("spark.hadoop.hadoop.tmp.dir", s"$s/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (ctx.rec.enabled) spark.sparkContext.addSparkListener(ctx.rec.sparkListener)
    spark.streams.addListener(ctx.rec.streamListener)
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Progress notes on stderr, for reading a slow or stuck run. */
  def log(msg: String): Unit = System.err.println(f"[graftbench ${Clock.nowMs() / 1000 % 1000}%.3f] $msg")

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, outDir, workDir) = args
    val ctx = Ctx(workload, seed.toLong, seconds.toDouble, new Recorder(trace == "1"),
      dataDir, outDir, workDir)
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    log(s"$workload seed $seed: start")
    val (spark, body) = workload match {
      case "catalog" => CatalogWorkload.run(ctx)
      case "live" =>
        // The live system: the feedback stream with its dashboard, then
        // the recommender service, in one JVM.
        val (s1, stream) = StreamWorkload.run(ctx.copy(seconds = ctx.seconds * LiveStreamShare))
        stop(s1)
        val (s2, serve) = ServeWorkload.run(ctx.copy(seconds = ctx.seconds * (1 - LiveStreamShare)))
        (s2, Json.obj("stream" -> stream, "serve" -> serve))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> (v: Json.Value) }
    val out = Json.obj(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.rec.enabled, "process_start" -> processStart,
      "spark_version" -> spark.version,
      "spark_conf" -> Json.Obj(conf),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
        .map(a => a: Json.Value),
      "failures" -> ctx.failures.toSeq) ++ body ++ ctx.rec.toJson
    log("workload done")
    stop(spark)
    Files.writeString(Paths.get(outDir, "raw.json"), Json.render(out))
    System.exit(0)
  }
}
