package graft.perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.lang.management.ManagementFactory
import java.net.{ServerSocket, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CompletionStage, ConcurrentLinkedQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.Main
import graft.sinks.Sinks
import graft.sources.RiemannServers

/** The server side of one benchmark run: starts the process with
  * `Main.start(config)`, drives the load generator, watches the served
  * index, checks the results and writes them as JSON.
  *
  * `Harness --workload W --seed N --seconds S --trace 0|1 --work DIR
  *  --ingest-rate R`
  *
  * With `--trace 0` it measures the end-to-end metrics. With
  * `--trace 1` it measures one untraced window, then one traced window
  * (listener, handler and visibility spans), then the layer probes,
  * and reports the per-layer metrics. */
object Harness {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, ingestRate: Double)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", Paths.get(m("work")).toAbsolutePath,
      m("ingest-rate").toDouble)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code =
      try {
        val r = new Run(o)
        r.run()
        Files.writeString(o.work.resolve("result.json"), r.json)
        0
      }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush(); System.err.flush()
    sys.exit(code)
  }

  private def freePort(): Int = {
    val s = new ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  private def secs(ns: Long): Double = ns / 1e9

  /** Load before each measured window, so the first batches of a fresh
    * process do not count. */
  private val WarmUpNs = 4000000000L

  /** The load-generator process of one phase. */
  private final class GenProc(o: Opts, phase: Int, port: Int) {
    private val out = o.work.resolve(s"gen-$phase.bin")
    val proc: Process = {
      val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      new ProcessBuilder(java, "-Xmx512m", "-cp",
        System.getProperty("java.class.path"), "graft.perfbench.LoadGen",
        o.workload, o.seed.toString, phase.toString, port.toString,
        o.seconds.toString, o.ingestRate.toString, out.toString)
        .redirectError(ProcessBuilder.Redirect.appendTo(
          o.work.resolve("loadgen.log").toFile))
        .start()
    }
    private val lines = new BufferedReader(new InputStreamReader(proc.getInputStream, UTF_8))
    private val stdin = new PrintWriter(proc.getOutputStream, false, UTF_8)

    private def expect(word: String): Unit = {
      val l = lines.readLine()
      require(l == word, s"load generator said '$l', expected '$word'")
    }
    def awaitReady(): Unit = expect("ready")
    def say(line: String): Unit = stdin.synchronized {
      stdin.println(line); stdin.flush()
    }
    /** Waits for the generator to finish and returns its figures. */
    def result(): Map[String, Array[Double]] = {
      expect("done")
      require(proc.waitFor(30, TimeUnit.SECONDS), "load generator did not exit")
      require(proc.exitValue() == 0, s"load generator exit ${proc.exitValue()}")
      Stats.read(out.toString)
    }
    def kill(): Unit = if (proc.isAlive) {
      proc.destroyForcibly(); proc.waitFor(10, TimeUnit.SECONDS); ()
    }
  }

  /** Tracks when each sent event of an `ingest` or `flood` phase becomes
    * visible: the served index holds it or a newer event for its key.
    * Runs as a query-less subscriber of the `index` channel, which the
    * index sink calls right after each batch updates the index; it
    * walks the served index and submits no Spark job. */
  final class Visibility(load: Gen.Load, seed: Long,
      served: () => Iterable[graft.streaming.WireEvent], trace: Trace) {
    private val cur = Array.fill(load.keys)(-1L)
    private var streams: Array[Gen.Stream] = Array.empty
    var visibleAt: Array[Stats.Longs] = Array.empty
    private var limit: Array[Long] = Array.empty
    /** Completion time of each batch and the events visible by then. */
    private val batchAt = new Stats.Longs()
    private val batchVisible = new Stats.Longs()
    @volatile var traced = false
    var feedback: (Int, Long) => Unit = (_, _) => ()

    def begin(phase: Int): Unit = synchronized {
      streams = Array.tabulate(load.conns)(c => new Gen.Stream(load, seed, phase, c))
      streams.foreach(_.advance())
      visibleAt = Array.fill(load.conns)(new Stats.Longs())
      limit = Array.fill(load.conns)(Long.MaxValue)
      batchAt.clear(); batchVisible.clear()
    }

    def visible(c: Int): Int = synchronized(visibleAt(c).length)

    def setLimits(sentEvents: Array[Long]): Unit = synchronized { limit = sentEvents }

    def done: Boolean = synchronized {
      limit.indices.forall(c => visibleAt(c).length >= limit(c))
    }

    def onBatch(): Unit = synchronized {
      val now = System.nanoTime()
      served().foreach { e =>
        val k = Gen.keyId(e.host, e.service)
        if (k >= 0 && k < load.keys && e.metric.isDefined)
          cur(k) = e.metric.get.toLong
      }
      var c = 0
      var total = 0L
      while (c < streams.length) {
        val s = streams(c); val at = visibleAt(c)
        while (at.length < limit(c) && cur(s.key) >= s.seq) {
          at += now; s.advance()
        }
        feedback(c, at.length.toLong / load.perMsg)
        total += at.length
        c += 1
      }
      batchAt += now; batchVisible += total
      if (traced) trace.addNanos("harness.visibility", now, System.nanoTime())
    }

    /** Events made visible per second over the whole batches that
      * ended between `from` and `to`: from the first such batch's end
      * to the last one's. Counting whole batches keeps the figure from
      * depending on where the window cuts a batch. A window too short
      * for two batches (a smoke run) counts from `from` to the end of
      * the phase's last batch instead. */
    def rate(from: Long, to: Long): Double = synchronized {
      val ends = 0 until batchAt.length
      val in = ends.filter(i => batchAt(i) >= from && batchAt(i) <= to)
      if (in.size >= 2)
        (batchVisible(in.last) - batchVisible(in.head)) / secs(batchAt(in.last) - batchAt(in.head))
      else {
        val last = batchAt.length - 1
        require(last >= 0 && batchAt(last) > from, "no batch ended after the window began")
        val before = ends.filter(batchAt(_) < from).lastOption.map(batchVisible(_)).getOrElse(0L)
        (batchVisible(last) - before) / secs(batchAt(last) - from)
      }
    }

    val sink: Sinks.EventSink = new Sinks.EventSink {
      override def write(batch: DataFrame, batchId: Long): Unit = onBatch()
    }
  }

  /** Batch progress from the stream's listener, kept while `on`. */
  private final class Progress extends StreamingQueryListener {
    @volatile var on = false
    val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) { seen.add(e.progress); () }
  }

  private final class Run(o: Opts) {
    private val load = o.workload match {
      case "ingest" => Gen.Ingest
      case "flood" => Gen.Flood
      case "query" => null
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    private val trace = new Trace
    private val timeS = System.currentTimeMillis() / 1000L - 60L
    private val fill = if (o.workload == "query") new Gen.Fill(o.seed) else null
    private val (tcpPort, wsPort) = (freePort(), freePort())
    private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    private val report = mutable.LinkedHashMap[String, (Double, String)]()
    private var attempted = 0L
    private var failed = 0L
    private val notes = mutable.ArrayBuffer[String]()
    private val gens = mutable.ArrayBuffer[GenProc]()

    private val born = System.nanoTime()
    private def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${secs(System.nanoTime() - born)}%7.2f s  $what")

    private def fail(n: Long, what: String): Unit =
      if (n > 0) { failed += n; notes += s"$n x $what" }

    private def config(): Path = {
      val dir = o.work.resolve("process")
      Files.createDirectories(dir)
      val p = dir.resolve("graft.json")
      Files.writeString(p,
        s"""{"servers": {"tcp": {"host": "127.0.0.1", "port": $tcpPort},
           |             "ws": {"host": "127.0.0.1", "port": $wsPort}},
           | "fanout": {"dir": "${dir.resolve("fanout")}"},
           | "streams": [{"name": "index", "source": "tcp",
           |   "pipeline": [{"op": "index", "watermark": "30 seconds"}],
           |   "sink": {"kind": "index", "outputMode": "update",
           |            "checkpoint": "${dir.resolve("ckpt")}"}}]}
           |""".stripMargin)
      p
    }

    private def await(what: String, timeoutS: Double)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (!cond) {
        require(System.nanoTime() < deadline, s"timed out waiting for $what")
        Thread.sleep(2)
      }
    }

    private def sendAll(port: Int, frames: Iterator[Array[Byte]]): Unit = {
      val s = new java.net.Socket("127.0.0.1", port)
      try {
        s.setTcpNoDelay(true)
        val out = new java.io.BufferedOutputStream(s.getOutputStream, 1 << 16)
        val in = new java.io.DataInputStream(new java.io.BufferedInputStream(s.getInputStream))
        var n = 0
        frames.foreach { f => out.write(f); n += 1 }
        out.flush()
        (0 until n).foreach(_ => Wire.readFrame(in))
      } finally s.close()
    }

    private def connect(port: Int): Unit =
      await(s"tcp port $port", 60) {
        try { new java.net.Socket("127.0.0.1", port).close(); true }
        catch { case _: java.io.IOException => false }
      }

    /** The set-up, timed from JVM start: start the process, see a
      * first event become visible and, for `query`, fill the index. */
    private def setUp(jvmStart: Long): Main.Running = {
      val t0 = System.nanoTime()
      val running = Main.start(config())
      val t1 = System.nanoTime()
      connect(tcpPort)
      sendAll(tcpPort, Iterator(Wire.frame(Wire.eventsMsg(Seq(Wire.Ev(
        "perfbench-probe", "setup", "ok", 0.0, timeS, Gen.TtlS, Nil))))))
      val probe = """host = "perfbench-probe" and service = "setup""""
      await("the set-up probe event", 120)(running.index.search(probe).nonEmpty)
      val t2 = System.nanoTime()
      if (fill != null) {
        sendAll(tcpPort, Iterator.range(0, fill.n, 100).map(i =>
          Wire.frame(Wire.eventsMsg((i until i + 100).map(fill.event(_, timeS))))))
        await("the query fill", 120)(running.index.size >= fill.n + 1)
      }
      metrics("setup_s") = (secs(System.nanoTime() - jvmStart), "s")
      startS = secs(t1 - t0); firstVisibleS = secs(t2 - t1)
      running
    }
    private var startS = 0.0
    private var firstVisibleS = 0.0

    private def stopProcess(running: Main.Running): Unit = {
      running.stop()
      running.spark.stop()
    }

    def run(): Unit = {
      Files.createDirectories(o.work)
      gens += new GenProc(o, 0, tcpPort)
      val jvmStart = System.nanoTime() -
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
      var running: Main.Running = null
      try {
        running = setUp(jvmStart)
        mark("set-up done")
        measure(running)
      } finally {
        gens.foreach(_.kill())
        if (running != null) stopProcess(running)
        mark("stopped")
      }
    }

    /** Heap in use after a full GC; the least of three readings, so an
      * allocation racing the collection does not count as live. */
    private def heapMb(): Double = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    private def measure(running: Main.Running): Unit = {
      val vis = if (load != null) Some(new Visibility(load, o.seed, () => running.index.events, trace)) else None
      vis.foreach(v => running.pubsub.subscribe("index", v.sink))
      val pushes = new ConcurrentLinkedQueue[(Long, Long)]()
      val ws = if (o.workload == "ingest") Some(wsClient(pushes)) else None
      val listener = new Progress
      if (o.trace) running.spark.streams.addListener(listener)
      gens.head.awaitReady()

      val a = phase(0, running, vis, traced = false, listener, pushes)
      report("setup_s") = metrics("setup_s")
      if (!o.trace) {
        await("the stream to go idle", 60)(running.spark.streams.active.forall(q =>
          !q.status.isTriggerActive && !q.status.isDataAvailable))
        metrics("live_heap_mb") = (heapMb(), "MB")
        report("live_heap_mb") = metrics("live_heap_mb")
        metrics("latency_p50_ms") = (a("p50_ms"), "ms")
        metrics("latency_p99_ms") = (a("p99_ms"), "ms")
        metrics("throughput_per_s") = (a("per_s"), "1/s")
      } else {
        metrics.clear()
        gens += new GenProc(o, 1, tcpPort)
        gens.last.awaitReady()
        val b = phase(1, running, vis, traced = true, listener, pushes)
        perLayer(running, listener, a, b, pushes)
      }
      ws.foreach(_.abort())
      finalChecks(running, vis)
      mark("checked")
    }

    /** One measured window: the generator runs for `seconds`, then the
      * harness waits until every sent event is visible. */
    private def phase(p: Int, running: Main.Running, vis: Option[Visibility],
        traced: Boolean, listener: Progress, pushes: ConcurrentLinkedQueue[(Long, Long)])
        : Map[String, Double] = {
      val gen = gens.last
      vis.foreach { v =>
        v.begin(p)
        v.traced = traced
        if (o.workload == "flood") v.feedback = (c, msgs) => gen.say(s"v $c $msgs")
      }
      val handlerNs = new ConcurrentLinkedQueue[java.lang.Long]()
      if (traced && o.workload == "query") {
        val h = running.index.queryHandler
        RiemannServers.registerQueryHandler(tcpPort, q => {
          val t = System.nanoTime()
          try h(q) finally {
            val e = System.nanoTime()
            handlerNs.add(e - t); trace.addNanos("query.handler", t, e)
          }
        })
      }
      pushes.clear()
      listener.on = traced
      // the generator sends from start and warms up until t0
      val start = System.nanoTime() + 300000000L
      val t0 = start + WarmUpNs
      val end = t0 + (o.seconds * 1e9).toLong
      gen.say(s"go $start $t0 $timeS")
      val g = gen.result()
      mark(s"phase $p: generator done")
      listener.on = false
      if (traced && o.workload == "query")
        RiemannServers.registerQueryHandler(tcpPort, running.index.queryHandler)
      val r = mutable.Map[String, Double]()
      r("attempted") = g("attempted")(0)
      attempted += g("attempted")(0).toLong
      r("late_p99_ms") = Stats.quantile(g("late_ns"), 0.99) / 1e6
      r("ack_p50_us") = Stats.quantile(g("ack_rtt_ns"), 0.5) / 1e3
      r("ack_p99_us") = Stats.quantile(g("ack_rtt_ns"), 0.99) / 1e3
      r("t0") = t0.toDouble; r("end") = end.toDouble
      vis match {
        case Some(v) =>
          val sent = g("sent_msgs").map(_.toLong * load.perMsg)
          sent.indices.foreach(c => sentByPhase((p, c)) = sent(c))
          v.setLimits(sent)
          try await("every sent event to become visible", 60)(v.done)
          catch { case _: IllegalArgumentException => () }
          mark(s"phase $p: drained")
          val missing = sent.indices.map(c => sent(c) - v.visible(c)).sum
          fail(missing, s"events not visible within 60 s (phase $p)")
          // ingest: from each event's due time; flood: from its send;
          // for the events due or sent in the window, or for all when
          // none was (a flood window shorter than its first batch)
          val timed = sent.indices.flatMap { c =>
            val at = v.visibleAt(c)
            (0 until at.length).map { j =>
              val m = j / load.perMsg
              val from =
                if (o.workload == "ingest")
                  start + ((m.toLong * load.conns + c) * load.perMsg * 1e9 / o.ingestRate).toLong
                else g(s"send_ns_$c")(m).toLong
              (from, (at(j) - from) / 1e6)
            }
          }
          val inWindow = timed.filter(_._1 >= t0)
          val lat = (if (inWindow.nonEmpty) inWindow else timed).map(_._2).toArray
          r("p50_ms") = Stats.quantile(lat, 0.5)
          r("p99_ms") = Stats.quantile(lat, 0.99)
          r("samples") = lat.length
          r("per_s") = v.rate(t0, end)
          if (o.workload == "ingest") {
            val lags = pushes.asScala.toSeq.flatMap { case (seq, at) =>
              val m = (seq - p * Gen.PhaseSpan) / load.perMsg
              val c = (m % load.conns).toInt
              val j = ((m / load.conns) * load.perMsg + (seq - p * Gen.PhaseSpan) % load.perMsg).toInt
              if (seq >= p * Gen.PhaseSpan && j < v.visibleAt(c).length)
                Some((at - v.visibleAt(c)(j)) / 1e6) else None
            }
            r("push_lag_p50_ms") = Stats.median(lags)
            r("pushes") = pushes.size.toDouble
          }
        case None =>
          val lat = g("query_lat_ns")
          r("p50_ms") = Stats.quantile(lat, 0.5) / 1e6
          r("p99_ms") = Stats.quantile(lat, 0.99) / 1e6
          r("samples") = lat.length
          r("per_s") = g("query_qps")(0)
          fail(g("failed")(0).toLong, s"wrong query replies (phase $p)")
          if (handlerNs.size > 0) {
            val h = handlerNs.asScala.map(_.toDouble).toArray
            r("handler_p50_us") = Stats.quantile(h, 0.5) / 1e3
            r("handler_p99_us") = Stats.quantile(h, 0.99) / 1e3
          }
      }
      val names = o.workload match {
        case "ingest" => ("ingest_p50_ms", "ingest_p99_ms", "ingest_eps", 1.0, "ms", "1/s")
        case "flood" => ("flood_p50_ms", "flood_p99_ms", "flood_eps", 1.0, "ms", "1/s")
        case _ => ("query_p50_us", "query_p99_us", "query_qps", 1000.0, "us", "1/s")
      }
      if (p == 0) {
        report(names._1) = (r("p50_ms") * names._4, names._5)
        report(names._2) = (r("p99_ms") * names._4, names._5)
        report(names._3) = (r("per_s"), names._6)
        report("samples") = (r("samples"), "count")
        report("gen.late_p99_ms") = (r("late_p99_ms"), "ms")
      }
      r.toMap
    }

    private def wsClient(pushes: ConcurrentLinkedQueue[(Long, Long)])
        : java.net.http.WebSocket = {
      val q = URLEncoder.encode("state = \"critical\"", UTF_8)
      val uri = URI.create(s"ws://127.0.0.1:$wsPort/index?query=$q")
      val listener = new java.net.http.WebSocket.Listener {
        private val buf = new StringBuilder
        override def onText(w: java.net.http.WebSocket, data: CharSequence,
            last: Boolean): CompletionStage[_] = {
          buf.append(data)
          if (last) {
            val at = System.nanoTime()
            import org.json4s._
            val j = org.json4s.jackson.JsonMethods.parse(buf.toString)
            buf.clear()
            j \ "metric" match {
              case JDouble(m) => pushes.add((m.toLong, at))
              case JInt(m) => pushes.add((m.toLong, at))
              case _ => ()
            }
          }
          w.request(1)
          null
        }
      }
      java.net.http.HttpClient.newHttpClient().newWebSocketBuilder()
        .buildAsync(uri, listener).get(30, TimeUnit.SECONDS)
    }

    private def perLayer(running: Main.Running, listener: Progress,
        a: Map[String, Double], b: Map[String, Double],
        pushes: ConcurrentLinkedQueue[(Long, Long)]): Unit = {
      def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
      val ps = listener.seen.asScala.toSeq
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val windowMs = (b("end") - b("t0")) / 1e6
      val trig = ps.map(dur(_, "triggerExecution")).toArray
      ps.foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        trace.add("streaming.batch", start, start + (dur(p, "triggerExecution") * 1000).toLong)
        var at = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
            "commitOffsets").foreach { k =>
          val d = (dur(p, k) * 1000).toLong
          if (d > 0) trace.add(s"streaming.$k", at, at + d)
          at += d
        }
      }
      def offsetOf(s: String): Long = Option(s).flatMap(_.toLongOption).getOrElse(0L)
      put("sources.ack_rtt_p50_us", b("ack_p50_us"), "us")
      put("sources.ack_rtt_p99_us", b("ack_p99_us"), "us")
      put("sources.backlog_frames_max", ps.flatMap(_.sources.headOption).map(s =>
        (offsetOf(s.latestOffset) - offsetOf(s.endOffset)).toDouble)
        .maxOption.getOrElse(0.0).max(0.0), "count")
      put("streaming.batches", ps.size.toDouble, "count")
      put("streaming.batch_p50_ms", Stats.quantile(trig, 0.5), "ms")
      put("streaming.batch_p99_ms", Stats.quantile(trig, 0.99), "ms")
      put("streaming.plan_ms", Stats.mean(ps.map(dur(_, "queryPlanning"))), "ms")
      put("streaming.offsets_ms", Stats.mean(ps.map(p =>
        dur(p, "latestOffset") + dur(p, "getBatch") + dur(p, "commitOffsets"))), "ms")
      put("streaming.wal_ms", Stats.mean(ps.map(dur(_, "walCommit"))), "ms")
      put("streaming.exec_ms", Stats.mean(ps.map(dur(_, "addBatch"))), "ms")
      put("streaming.idle_frac", math.max(0.0, 1.0 - trig.sum / windowMs), "fraction")
      put("streaming.rows_per_batch", Stats.mean(ps.map(_.numInputRows.toDouble)), "count")
      val st = ps.flatMap(_.stateOperators.headOption)
      put("state.rows_total", st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
      put("state.memory_mb", st.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0), "MB")
      put("state.commit_ms", Stats.mean(st.map(_.commitTimeMs.toDouble)), "ms")
      put("state.rows_updated_per_batch", Stats.mean(st.map(_.numRowsUpdated.toDouble)), "count")
      put("index.keys", running.index.size.toDouble, "count")
      put("query.handler_p50_us", b.getOrElse("handler_p50_us", 0.0), "us")
      put("query.handler_p99_us", b.getOrElse("handler_p99_us", 0.0), "us")
      put("query.transport_p50_us",
        if (b.contains("handler_p50_us")) b("p50_ms") * 1000 - b("handler_p50_us") else 0.0, "us")
      put("sinks.push_lag_p50_ms", b.getOrElse("push_lag_p50_ms", 0.0), "ms")
      put("sinks.pushes", b.getOrElse("pushes", 0.0), "count")
      put("config.start_s", startS, "s")
      put("config.first_visible_s", firstVisibleS, "s")
      put("gen.late_p99_ms", if (o.workload == "flood") 0.0 else b("late_p99_ms"), "ms")
      put("trace.overhead_frac",
        if (o.workload == "ingest") (b("p50_ms") - a("p50_ms")) / a("p50_ms")
        else (a("per_s") - b("per_s")) / a("per_s"), "fraction")

      // probes on the workload's own inputs
      val fillForQueries = if (fill != null) fill else new Gen.Fill(o.seed)
      val qs = new Gen.Queries(fillForQueries, o.seed, 0)
      val texts = Seq.fill(2000)(qs.next().text) :+ "state = \"critical\""
      val msgs: Seq[Array[Byte]] =
        if (load != null) {
          val s = new Gen.Stream(load, o.seed, 0, 0)
          Seq.fill(math.max(20, 20000 / load.perMsg))(Wire.eventsMsg(s.msg(load.perMsg, timeS)))
        } else Iterator.range(0, 20000, 100).map(i =>
          Wire.eventsMsg((i until i + 100).map(fill.event(_, timeS)))).toSeq
      val scanned = if (load != null) msgs else texts.map(Wire.queryMsg)
      val keysIn = running.index.events.take(2000)
      val pkeys = keysIn.map(e => s"""host = "${e.host}" and service = "${e.service}"""")
      val scans = fillForQueries.dashboards.map(_._1)
      Probes.layers(running.spark, msgs, scanned, texts, pkeys, scans, running.index)
        .foreach { case (k, v) => put(k, v, "ns") }
      val flood = (0 until Gen.Flood.conns).flatMap { c =>
        val s = new Gen.Stream(Gen.Flood, o.seed, 0, c)
        Seq.fill(250)(Wire.eventsMsg(s.msg(100, timeS)))
      }
      put("probe.single_thread_eps",
        Probes.singleThreadEps(running.spark, flood, flood.size * 100), "1/s")
      trace.write(o.work.resolve("trace.jsonl"))
      trace.selfMs.take(12).foreach { case (n, ms, count) =>
        report(s"self_ms.$n") = (ms, s"ms/$count")
      }
    }

    /** After draining, the served index must equal the generator's
      * model: the newest sent event of every key. */
    private def finalChecks(running: Main.Running, vis: Option[Visibility]): Unit = {
      val got = running.index.events.filter(_.host != "perfbench-probe")
      val phases = if (o.trace) 2 else 1
      vis match {
        case Some(v) =>
          val model = mutable.HashMap[Int, (Long, Boolean)]()
          for (p <- 0 until phases; c <- 0 until load.conns) {
            val s = new Gen.Stream(load, o.seed, p, c)
            (0L until sentOf(p, c)).foreach { _ =>
              s.advance()
              if (model.get(s.key).forall(_._1 < s.seq)) model(s.key) = (s.seq, s.critical)
            }
          }
          fail(Checks.indexVsModel(got, model.toMap), "index keys differing from the model")
        case None =>
          fail(Checks.indexVsFill(got, fill), "index keys differing from the fill")
      }
    }

    private val sentByPhase = mutable.Map[(Int, Int), Long]()
    private def sentOf(p: Int, c: Int): Long = sentByPhase.getOrElse((p, c), 0L)

    /** The run's result as one JSON object. */
    def json: String = {
      def str(x: String): String = "\"" + x.replace("\\", "/").replace("\"", "'") + "\""
      def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
      def obj(m: Iterable[(String, (Double, String))]): String =
        m.map { case (k, (v, u)) =>
          s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
        }.mkString("{", ", ", "}")
      Seq(str("correct") + ": " + (failed == 0), str("attempted") + ": " + attempted,
        str("failed") + ": " + failed, str("metrics") + ": " + obj(metrics),
        str("report") + ": " + obj(report),
        str("notes") + ": " + notes.map(str).mkString("[", ", ", "]"))
        .mkString("{", ", ", "}")
    }
  }
}
