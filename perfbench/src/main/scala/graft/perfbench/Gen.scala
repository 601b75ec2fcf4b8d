package graft.perfbench

import java.util.SplittableRandom

/** Every input the benchmark sends, made from the workload seed. The
  * server-side harness and the load-generator process build the same
  * streams from the same seed, so the harness knows each event's key
  * and sequence number without the generator reporting them. */
object Gen {

  val TtlS = 86400f
  val Tags: Array[String] = Array("web", "db", "cache", "queue")
  /** Sequence numbers of traced phase p start at p * PhaseSpan, so a
    * later phase's events are always newer. */
  val PhaseSpan: Long = 1L << 40

  // Key k is host "rack-<node % 100>-node-<node>", service "svc-<k % 10>"
  // with node = k / 10: 100 racks, ten services per host.
  def host(k: Int): String = { val node = k / 10; s"rack-${node % 100}-node-$node" }
  def service(k: Int): String = s"svc-${k % 10}"

  /** The key id of a (host, service) pair, or -1 when the pair is not
    * one of the generated keys (the set-up probe event). */
  def keyId(host: String, service: String): Int =
    if (host == null || service == null || !host.startsWith("rack-") ||
        !service.startsWith("svc-")) -1
    else {
      val node = tailInt(host, host.lastIndexOf('-') + 1)
      val svc = tailInt(service, 4)
      if (node < 0 || svc < 0 || svc > 9) -1 else node * 10 + svc
    }

  private def tailInt(s: String, from: Int): Int = {
    if (from <= 0 || from >= s.length) return -1
    var i = from; var v = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < '0' || c > '9' || v > 100000000) return -1
      v = v * 10 + (c - '0'); i += 1
    }
    v
  }

  def seedOf(parts: Long*): Long =
    parts.foldLeft(0x2545F4914F6CDD1DL)((h, p) =>
      new SplittableRandom(h ^ (p * 0x9E3779B97F4A7C15L)).nextLong())

  /** Zipf(s) over ranks 0..n-1; rank r is key r. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val a = new Array[Double](n)
      var acc = 0.0; var i = 0
      while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); a(i) = acc; i += 1 }
      i = 0
      while (i < n) { a(i) /= acc; i += 1 }
      a
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) > u) hi = mid else lo = mid + 1
      }
      lo
    }
  }

  /** The shape of an event workload. */
  final case class Load(keys: Int, zipf: Boolean, conns: Int, perMsg: Int)
  val Ingest: Load = Load(keys = 20000, zipf = true, conns = 2, perMsg = 10)
  val Flood: Load = Load(keys = 200000, zipf = false, conns = 4, perMsg = 100)

  private lazy val ingestZipf = new Zipf(Ingest.keys, 1.0)

  /** Connection `conn`'s events of one phase, in send order. The
    * metric carries a sequence number that orders events by their
    * global `Msg` index, so the newest event wins on (time, metric)
    * when all events of a run share one `time`. A uniform load gives
    * each connection its own residue class of keys: an event of one
    * connection can then only be superseded by a later event of the
    * same connection, so "visible" implies "sent". */
  final class Stream(load: Load, seed: Long, phase: Int, conn: Int) {
    private val rng = new SplittableRandom(seedOf(seed, phase, conn, load.keys))
    private var i = 0L
    var key = 0
    var seq = 0L
    var critical = false

    def advance(): Unit = {
      val msg = i / load.perMsg
      key =
        if (load.zipf) ingestZipf.sample(rng)
        else rng.nextInt(load.keys / load.conns) * load.conns + conn
      seq = phase * PhaseSpan + (msg * load.conns + conn) * load.perMsg +
        i % load.perMsg
      critical = rng.nextInt(100) == 0
      i += 1
    }

    /** The next `n` events as wire events with event time `timeS`. */
    def msg(n: Int, timeS: Long): Seq[Wire.Ev] =
      (0 until n).map { _ => advance(); event(key, seq, critical, timeS) }
  }

  def event(key: Int, seq: Long, critical: Boolean, timeS: Long): Wire.Ev =
    Wire.Ev(host(key), service(key), if (critical) "critical" else "ok",
      seq.toDouble, timeS, TtlS, Seq(Tags(key & 3)))

  /** The `query` workload's index: 100 K keys, state 90 % ok, 7 %
    * warning, 3 % critical, metric uniform in [0, 1), one tag each. */
  final class Fill(seed: Long) {
    val n = 100000
    val state = new Array[String](n)
    val metric = new Array[Double](n)
    val tag = new Array[Int](n)
    locally {
      val r = new SplittableRandom(seedOf(seed, 17L))
      var k = 0
      while (k < n) {
        val u = r.nextInt(100)
        state(k) = if (u < 90) "ok" else if (u < 97) "warning" else "critical"
        metric(k) = r.nextDouble()
        tag(k) = r.nextInt(Tags.length)
        k += 1
      }
    }
    def event(k: Int, timeS: Long): Wire.Ev =
      Wire.Ev(host(k), service(k), state(k), metric(k), timeS, TtlS,
        Seq(Tags(tag(k))))

    /** The 16 fixed dashboard scans, each matching at most 1 % of keys. */
    val dashboards: IndexedSeq[(String, Int => Boolean)] =
      (0 until 10).map(s => (s"""state = "critical" and service = "svc-$s"""",
        (k: Int) => state(k) == "critical" && k % 10 == s)) ++
      Tags.indices.map(t => (s"""tagged "${Tags(t)}" and state = "critical"""",
        (k: Int) => tag(k) == t && state(k) == "critical")) ++
      Seq(("""state = "warning" and metric > 0.9""",
          (k: Int) => state(k) == "warning" && metric(k) > 0.9),
        ("""host =~ "rack-1%" and state = "critical"""",
          (k: Int) => { val rack = (k / 10) % 100
            (rack == 1 || rack / 10 == 1) && state(k) == "critical" }))

    lazy val dashboardHits: IndexedSeq[Array[Int]] =
      dashboards.map { case (_, p) => (0 until n).filter(p).toArray }

    /** The keys of one rack: 100 hosts with ten services each. */
    def rackKeys(rack: Int): Iterator[Int] =
      Iterator.range(0, n / 1000).flatMap(j =>
        Iterator.range(0, 10).map(s => (rack + 100 * j) * 10 + s))
  }

  /** One wire query and the sorted key ids its reply must hold. */
  final case class Query(text: String, expected: () => Array[Int])

  /** Connection `conn`'s query mix: 40 % pkey point lookups (Zipf over
    * the keys), 45 % one of the 16 dashboard scans (their compiled
    * closures stay cached), 15 % rack scans with a metric floor, 10 K
    * distinct texts, more than the 1024-entry closure cache holds.
    * Lookups answer in a fraction of a millisecond and scans in tens,
    * so the lookup share is kept clear of 50 %: a median on the seam
    * between the two would jump from run to run, and one inside the
    * lookups would time thread wake-ups rather than the index. */
  final class Queries(fill: Fill, seed: Long, conn: Int) {
    private val rng = new SplittableRandom(seedOf(seed, 31L, conn))
    private lazy val zipf = new Zipf(fill.n, 1.0)
    def next(): Query = {
      val u = rng.nextInt(100)
      if (u < 40) {
        val k = zipf.sample(rng)
        Query(s"""host = "${host(k)}" and service = "${service(k)}"""",
          () => Array(k))
      } else if (u < 85) {
        val d = rng.nextInt(fill.dashboards.size)
        Query(fill.dashboards(d)._1, () => fill.dashboardHits(d))
      } else {
        val rack = rng.nextInt(100)
        val floor = f"0.${rng.nextInt(100)}%02d"
        val x = floor.toDouble
        Query(s"""host =~ "rack-$rack-%" and metric > $floor""",
          () => fill.rackKeys(rack).filter(k => fill.metric(k) > x).toArray.sorted)
      }
    }
  }
}
