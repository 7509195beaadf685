package graftbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

/** Requests to a local service over the JDK's HttpURLConnection. Its
  * keep-alive cache hands an idle connection to the next request, so a
  * few sending threads keep as many connections open. */
object Http {
  /** Sends one request and reads the whole response: (status, body). */
  def call(port: Int, method: String, path: String, body: Array[Byte]): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(5000)
    c.setReadTimeout(30000)
    c.setRequestMethod(method)
    if (body != null) {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val out = c.getOutputStream
      try out.write(body) finally out.close()
    }
    val status = c.getResponseCode
    // Reading the body to its end and closing it hands the connection
    // back to the keep-alive cache.
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val text = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (status, text)
  }
}

/** Open-loop load over a fixed set of keep-alive connections: a single
  * generator thread releases each request at its due time into a queue,
  * and one worker per connection sends whatever is queued. Latency is
  * measured from the due time, so time spent waiting for a free
  * connection counts; how late the generator itself was is recorded
  * separately to show whether the run was valid.
  */
object HttpLoad {
  final case class Req(id: Long, phase: String, due: Double, method: String,
      path: String, body: Array[Byte])
  final case class Res(req: Req, released: Double, started: Double, end: Double,
      status: Int, body: String, error: String, inflight: Int)
  final case class Outcome(results: Seq[Res], skipped: Map[String, Int],
      aborted: Seq[String], queueSamples: Seq[(String, Double, Int)])

  /** Runs `reqs` (sorted by due time). `abortAt(phase)` gives the queue
    * length at which a phase is declared overloaded: its remaining
    * requests, and those of every later phase in `abortable`, are not
    * sent. */
  def run(port: Int, conns: Int, reqs: IndexedSeq[Req], rec: Recorder,
      spanName: String, abortAt: String => Int = _ => Int.MaxValue,
      abortable: Set[String] = Set.empty): Outcome = {
    val queue = new LinkedBlockingQueue[(Req, Double, Int)]()
    val busy = new AtomicInteger(0)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Res]()
    val poison = Req(-1, "", 0, "", "", null)
    val workers = (0 until conns).map { w =>
      val t = new Thread(() => {
        var running = true
        while (running) {
          val (r, released, inflight) = queue.take()
          if (r eq poison) running = false
          else {
            busy.incrementAndGet()
            val started = Clock.nowMs()
            val (status, body, err) =
              try { val (s, b) = Http.call(port, r.method, r.path, r.body); (s, b, null) }
              catch { case e: Exception => (-1, "", s"${e.getClass.getName}: ${e.getMessage}") }
            val end = Clock.nowMs()
            busy.decrementAndGet()
            rec.interval(spanName, r.due, end, r.id)
            results.add(Res(r, released, started, end, status, body, err, inflight))
          }
        }
      }, s"bench-http-$w")
      t.setDaemon(true)
      t.start()
      t
    }
    val skipped = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val aborted = ArrayBuffer.empty[String]
    val samples = ArrayBuffer.empty[(String, Double, Int)]
    reqs.foreach { r =>
      val stop = aborted.nonEmpty && abortable.contains(r.phase)
      if (stop) skipped(r.phase) += 1
      else {
        Clock.sleepUntil(r.due)
        val q = queue.size
        samples += ((r.phase, Clock.nowMs(), q))
        if (q >= abortAt(r.phase) && abortable.contains(r.phase)) {
          aborted += r.phase
          skipped(r.phase) += 1
        } else queue.put((r, Clock.nowMs(), q + busy.get))
      }
    }
    workers.foreach(_ => queue.put((poison, 0.0, 0)))
    workers.foreach(_.join(TimeUnit.SECONDS.toMillis(60)))
    import scala.jdk.CollectionConverters._
    Outcome(results.asScala.toSeq.sortBy(_.req.id), skipped.toMap, aborted.toSeq,
      samples.toSeq)
  }

  def resJson(r: Res): Json.Value = {
    import Json._
    Json.arr(r.req.id, r.req.phase, r.req.due, r.released, r.started, r.end,
      r.status, r.inflight)
  }
}
