package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, BufferedReader,
  DataInputStream, DataOutputStream, InputStreamReader}
import java.net.{InetSocketAddress, Socket}
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicLongArray
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

/** The load generator: its own process, at most four connections.
  *
  * `LoadGen <workload> <seed> <phase> <port> <seconds> <rate> <out>`
  *
  * It builds its inputs from the seed, prints `ready`, and waits for
  * `go <start-nanos> <t0-nanos> <event-time-s>` on stdin. It sends
  * from `start`, warms up until t0 (`System.nanoTime` values, which on
  * Linux are one clock for every process), stops `seconds` after t0,
  * writes its figures to `out` and prints `done`. In `flood` it also
  * reads `v <conn> <msgs>` lines: how many of a connection's Msgs the
  * harness has seen become visible, which closes the loop.
  *
  *  - ingest: open loop, two connections, 10 events per Msg, Msg m due
  *    at start + m * 10 / rate.
  *  - flood: closed loop, four connections, 100 events per Msg. Each
  *    connection sends its next Msg after the previous ack, while
  *    fewer than `FloodWindow` of its Msgs are sent but not yet
  *    visible. Pacing on acks alone would fill the server's
  *    32768-frame buffer; a batch that takes the whole buffer leaves
  *    the source with no new offset to plan the next batch on, so the
  *    frames are never released and ingest stops. The window keeps at
  *    most 4 * `FloodWindow` frames buffered. A batch then carries
  *    about the whole window, so the rate is the window over the batch
  *    time, which holds both the per-event and the per-batch cost.
  *  - query: two closed-loop query connections, which warm up until t0
  *    on a separate query stream; each reply is checked before the
  *    next query is sent. A third connection re-sends indexed events,
  *    10 per Msg at 500 events/s, open loop. */
object LoadGen {

  private final class Conn(port: Int) {
    val sock: Socket = {
      val deadline = System.nanoTime() + 30000000000L
      var s: Socket = null
      while (s == null) {
        try {
          val c = new Socket()
          c.connect(new InetSocketAddress("127.0.0.1", port), 1000)
          s = c
        } catch {
          case e: java.io.IOException =>
            if (System.nanoTime() > deadline) throw e
            Thread.sleep(50)
        }
      }
      s.setTcpNoDelay(true)
      s
    }
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
    def send(frame: Array[Byte]): Unit = { out.write(frame); out.flush() }
  }

  /** Msgs a flood connection may have sent but not yet seen visible. */
  val FloodWindow = 500
  private val RewriteGapNs = 20000000L

  private def parkUntil(t: Long): Unit = {
    var now = System.nanoTime()
    while (now < t) { LockSupport.parkNanos(t - now); now = System.nanoTime() }
  }

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.start(); t
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, phaseS, portS, secondsS, rateS, outPath) = args
    val (seed, phase, port) = (seedS.toLong, phaseS.toInt, portS.toInt)
    val windowNs = (secondsS.toDouble * 1e9).toLong
    val fill = if (workload == "query") new Gen.Fill(seed) else null
    if (fill != null) fill.dashboardHits
    val stdin = new BufferedReader(new InputStreamReader(System.in))
    println("ready"); Console.flush()
    val go = stdin.readLine().split(" ")
    require(go(0) == "go", s"expected go, got ${go.mkString(" ")}")
    val (start, t0, timeS) = (go(1).toLong, go(2).toLong, go(3).toLong)
    val end = t0 + windowNs
    val rec = mutable.LinkedHashMap[String, Array[Double]]()
    val late = new ConcurrentLinkedQueue[java.lang.Long]()
    val rtt = new ConcurrentLinkedQueue[java.lang.Long]()

    workload match {
      case "ingest" =>
        val load = Gen.Ingest
        val rate = rateS.toDouble
        val conns = Array.fill(load.conns)(new Conn(port))
        val sent = new AtomicLongArray(load.conns)
        val threads = conns.indices.flatMap { c =>
          val conn = conns(c)
          val sendTimes = new LinkedBlockingQueue[java.lang.Long]()
          val done = new java.util.concurrent.atomic.AtomicBoolean(false)
          val sender = thread(s"ingest-send-$c") {
            val s = new Gen.Stream(load, seed, phase, c)
            var k = 0L
            var stop = false
            while (!stop) {
              val m = k * load.conns + c
              val due = start + (m * load.perMsg * 1e9 / rate).toLong
              if (due >= end) stop = true
              else {
                val f = Wire.frame(Wire.eventsMsg(s.msg(load.perMsg, timeS)))
                parkUntil(due)
                val now = System.nanoTime()
                conn.send(f)
                sendTimes.put(now)
                late.add(now - due)
                k += 1
                sent.set(c, k)
              }
            }
            done.set(true)
          }
          val acker = thread(s"ingest-ack-$c") {
            var acked = 0L
            while (!(done.get() && acked == sent.get(c))) {
              val t = sendTimes.poll(10, java.util.concurrent.TimeUnit.MILLISECONDS)
              if (t != null) {
                Wire.readFrame(conn.in)
                rtt.add(System.nanoTime() - t)
                acked += 1
              }
            }
          }
          Seq(sender, acker)
        }
        threads.foreach(_.join())
        conns.foreach(_.sock.close())
        rec("sent_msgs") = Array.tabulate(load.conns)(c => sent.get(c).toDouble)
        rec("attempted") = Array(sent.get(0) + sent.get(1)).map(_ * load.perMsg.toDouble)

      case "flood" =>
        val load = Gen.Flood
        val visible = new AtomicLongArray(load.conns)
        val reader = new Thread(() => {
          var line = stdin.readLine()
          while (line != null) {
            val p = line.split(" ")
            if (p(0) == "v") visible.set(p(1).toInt, p(2).toLong)
            line = stdin.readLine()
          }
        }, "flood-visible")
        reader.setDaemon(true); reader.start()
        val conns = Array.fill(load.conns)(new Conn(port))
        val sendTimes = Array.fill(load.conns)(new Stats.Longs())
        parkUntil(start)
        val threads = conns.indices.map { c =>
          thread(s"flood-$c") {
            val s = new Gen.Stream(load, seed, phase, c)
            var k = 0L
            var f = Wire.frame(Wire.eventsMsg(s.msg(load.perMsg, timeS)))
            while (System.nanoTime() < end) {
              if (k - visible.get(c) >= FloodWindow) LockSupport.parkNanos(50000L)
              else {
                val t = System.nanoTime()
                conns(c).send(f)
                Wire.readFrame(conns(c).in)
                rtt.add(System.nanoTime() - t)
                sendTimes(c) += t
                k += 1
                f = Wire.frame(Wire.eventsMsg(s.msg(load.perMsg, timeS)))
              }
            }
          }
        }
        threads.foreach(_.join())
        conns.foreach(_.sock.close())
        rec("sent_msgs") = sendTimes.map(_.length.toDouble)
        rec("attempted") = Array(sendTimes.map(_.length).sum * load.perMsg.toDouble)
        sendTimes.indices.foreach(c => rec(s"send_ns_$c") = sendTimes(c).toDoubles)

      case "query" =>
        val conns = Array.fill(2)(new Conn(port))
        val writer = new Conn(port)
        val lat = Array.fill(2)(new Stats.Longs())
        val failed = new java.util.concurrent.atomic.AtomicLong()
        val clients = conns.indices.map { c =>
          thread(s"query-$c") {
            // warm-up until t0 on a query stream of its own, unmeasured
            parkUntil(start)
            val warm = new Gen.Queries(fill, seed, c + 2 * phase + 100)
            while (System.nanoTime() < t0) {
              conns(c).send(Wire.frame(Wire.queryMsg(warm.next().text)))
              Wire.readFrame(conns(c).in)
            }
            val qs = new Gen.Queries(fill, seed, c + 2 * phase)
            while (System.nanoTime() < end) {
              val q = qs.next()
              val f = Wire.frame(Wire.queryMsg(q.text))
              val t = System.nanoTime()
              conns(c).send(f)
              val reply = Wire.readFrame(conns(c).in)
              lat(c) += System.nanoTime() - t
              val r = Wire.reply(reply)
              if (!Checks.replyMatches(r, q.expected()) && failed.incrementAndGet() <= 5)
                System.err.println(s"[loadgen] wrong reply to '${q.text}': " +
                  s"ok=${r.ok} error=${r.error} got ${r.keys.length} keys, " +
                  s"expected ${q.expected().length}")
            }
          }
        }
        // re-sends indexed events with a newer time and nothing else
        // changed, so the index takes writes and the replies stay fixed
        val rewriter = thread("query-rewrite") {
          val r = new java.util.SplittableRandom(Gen.seedOf(seed, 43L, phase))
          var m = 0L
          parkUntil(start)
          while (start + m * RewriteGapNs < end) {
            val due = start + m * RewriteGapNs
            val f = Wire.frame(Wire.eventsMsg((0 until 10).map(_ =>
              fill.event(r.nextInt(fill.n), timeS + 1 + m / 50))))
            parkUntil(due)
            val now = System.nanoTime()
            writer.send(f)
            late.add(now - due)
            Wire.readFrame(writer.in)
            rtt.add(System.nanoTime() - now)
            m += 1
          }
        }
        clients.foreach(_.join())
        val tEnd = System.nanoTime()
        rewriter.join()
        (conns :+ writer).foreach(_.sock.close())
        val all = lat.flatMap(_.toDoubles)
        rec("attempted") = Array(all.length.toDouble)
        rec("failed") = Array(failed.get().toDouble)
        rec("query_lat_ns") = all
        rec("query_qps") = Array(all.length / ((tEnd - t0) / 1e9))
    }

    def ms(q: ConcurrentLinkedQueue[java.lang.Long]) =
      q.toArray(Array.empty[java.lang.Long]).map(_.toDouble)
    rec("late_ns") = ms(late)
    rec("ack_rtt_ns") = ms(rtt)
    Stats.write(outPath, rec)
    println("done"); Console.flush()
  }
}
