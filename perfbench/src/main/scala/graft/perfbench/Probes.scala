package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.Main.ServedIndex
import graft.query.{EventPredicate, QueryLanguage}
import graft.sinks.EventJson
import graft.sources.RiemannProtobuf
import graft.streaming.WireEvent

/** Single-thread timings of each layer's public functions on the
  * workload's own inputs. Each figure is the median over repeated
  * passes of at least `minNs` each. */
object Probes {

  private def perItem(items: Int, minNs: Long = 50000000L, passes: Int = 5)
      (body: => Unit): Double = {
    body // warm-up pass
    Stats.median((1 to passes).map { _ =>
      var n = 0; val t = System.nanoTime()
      while (System.nanoTime() - t < minNs || n == 0) { body; n += 1 }
      (System.nanoTime() - t).toDouble / n / items
    })
  }

  def wireEvent(e: RiemannProtobuf.PEvent): WireEvent =
    WireEvent(e.host, e.service, e.state, e.metric,
      new java.sql.Timestamp(e.time_s.getOrElse(0L) * 1000L), e.ttl,
      e.tags, e.attributes)

  /** Layer timings. `msgs` are encoded event Msgs, `queryMsgs` and
    * `queries` the wire queries the workload sends (or the `query`
    * workload's mix where the workload sends none), `live` the served
    * index after the run. */
  def layers(spark: SparkSession, msgs: Seq[Array[Byte]],
      scanned: Seq[Array[Byte]], queries: Seq[String], pkeys: Seq[String],
      scans: Seq[String], live: ServedIndex): Map[String, Double] = {
    val decoded = msgs.map(RiemannProtobuf.decodeMsg)
    val events = decoded.flatten
    val wire = events.map(wireEvent).toArray
    var sink = 0L
    val r = Map.newBuilder[String, Double]
    r += "sources.decode_ns_per_event" ->
      perItem(events.size)(msgs.foreach(m => sink += RiemannProtobuf.decodeMsg(m).size))
    r += "sources.scan_ns_per_frame" ->
      perItem(scanned.size)(scanned.foreach(m =>
        if (RiemannProtobuf.scanMsg(m)._1) sink += 1))
    r += "sources.encode_ns_per_event" ->
      perItem(events.size)(decoded.foreach(es =>
        sink += RiemannProtobuf.encodeReply(ok = true, None, es).length))
    r += "sinks.json_ns_per_event" ->
      perItem(wire.length)(wire.foreach(e => sink += EventJson.line(e).length))
    r += "index.put_ns" -> perItem(wire.length) {
      val idx = new ServedIndex(spark)
      wire.foreach(idx.putTagged)
    }
    r += "index.lookup_ns" ->
      perItem(pkeys.size)(pkeys.foreach(q => sink += live.search(q).size))
    r += "index.scan_ns_per_key" -> perItem(scans.size * math.max(1, live.size))(
      scans.foreach(q => sink += live.search(q).size))
    r += "query.parse_ns" ->
      perItem(queries.size)(queries.foreach(q => sink += QueryLanguage.parse(q).hashCode))
    val asts = queries.map(QueryLanguage.parse)
    r += "query.compile_ns" ->
      perItem(asts.size)(asts.foreach(a => sink += EventPredicate.compile(a).hashCode))
    require(sink != 42L) // keeps the timed results alive
    r.result()
  }

  /** COST-style bar for `flood`: decode the flood input and upsert it
    * into a served index in one thread, no Spark. Events per second,
    * median of three passes. */
  def singleThreadEps(spark: SparkSession, msgs: Seq[Array[Byte]], events: Int): Double =
    Stats.median((1 to 3).map { _ =>
      val idx = new ServedIndex(spark)
      val t = System.nanoTime()
      msgs.foreach(m => RiemannProtobuf.decodeMsg(m).foreach(e =>
        idx.putTagged(wireEvent(e))))
      events / ((System.nanoTime() - t) / 1e9)
    })
}
