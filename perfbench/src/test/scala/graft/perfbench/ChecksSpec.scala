package graft.perfbench

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.RiemannProtobuf
import graft.streaming.WireEvent

/** The benchmark's own checks: each passes on the right expected value
  * and fails when that value is perturbed. */
class ChecksSpec extends AnyFunSuite {

  private def wire(k: Int, seq: Long, critical: Boolean): WireEvent =
    WireEvent(Gen.host(k), Gen.service(k), if (critical) "critical" else "ok",
      Some(seq.toDouble), new Timestamp(0L), Some(Gen.TtlS.toDouble),
      Seq(Gen.Tags(k & 3)), Map.empty)

  /** The newest of the first `n` events of every ingest connection. */
  private def model(n: Int): Map[Int, (Long, Boolean)] = {
    val m = scala.collection.mutable.HashMap[Int, (Long, Boolean)]()
    for (c <- 0 until Gen.Ingest.conns) {
      val s = new Gen.Stream(Gen.Ingest, 7L, 0, c)
      (0 until n).foreach { _ =>
        s.advance()
        if (m.get(s.key).forall(_._1 < s.seq)) m(s.key) = (s.seq, s.critical)
      }
    }
    m.toMap
  }

  test("index equals the model, and a perturbed model is caught") {
    val mdl = model(2000)
    val index = mdl.toSeq.map { case (k, (seq, crit)) => wire(k, seq, crit) }
    assert(Checks.indexVsModel(index, mdl) == 0)
    val (k, (seq, crit)) = mdl.head
    assert(Checks.indexVsModel(index, mdl.updated(k, (seq + 1, crit))) == 1)
    assert(Checks.indexVsModel(index, mdl.updated(k, (seq, !crit))) == 1)
    assert(Checks.indexVsModel(index, mdl - k) == 1)
    assert(Checks.indexVsModel(index.tail, mdl) == 1)
  }

  test("query index equals the fill, and a perturbed fill is caught") {
    val fill = new Gen.Fill(3L)
    val index = (0 until fill.n).map(k => wire(k, 0L, critical = false).copy(
      state = fill.state(k), metric = Some(fill.metric(k)),
      tags = Seq(Gen.Tags(fill.tag(k)))))
    assert(Checks.indexVsFill(index, fill) == 0)
    fill.metric(5) += 0.5
    assert(Checks.indexVsFill(index, fill) == 1)
    fill.metric(5) -= 0.5
    fill.tag(9) = (fill.tag(9) + 1) % Gen.Tags.length
    assert(Checks.indexVsFill(index, fill) == 1)
  }

  test("a reply must hold exactly the expected keys") {
    val keys = Seq(3, 14, 159)
    val events = keys.map(k => RiemannProtobuf.PEvent(Gen.host(k), Gen.service(k),
      "ok", null, Some(1.0), Nil, Some(1L), None, Map.empty))
    val reply = Wire.reply(RiemannProtobuf.encodeReply(ok = true, None, events))
    assert(Checks.replyMatches(reply, keys.toArray))
    assert(!Checks.replyMatches(reply, (keys :+ 265).toArray))
    assert(!Checks.replyMatches(reply, keys.updated(0, 4).toArray))
    assert(!Checks.replyMatches(reply.copy(ok = false), keys.toArray))
  }

  test("an event is visible only when the index holds it or a newer one") {
    val index = scala.collection.mutable.HashMap[Int, WireEvent]()
    val vis = new Harness.Visibility(Gen.Flood, 5L, () => index.values, new Trace)
    vis.begin(0)
    val s = new Gen.Stream(Gen.Flood, 5L, 0, 0)
    (0 until 150).foreach { _ =>
      s.advance(); index(s.key) = wire(s.key, s.seq, s.critical)
    }
    vis.setLimits(Array(150L, 0L, 0L, 0L))
    vis.onBatch()
    assert(vis.visible(0) == 150 && vis.done)
    // perturbed: the index lags the last event by one sequence number
    index(s.key) = wire(s.key, s.seq - 1, s.critical)
    val vis2 = new Harness.Visibility(Gen.Flood, 5L, () => index.values, new Trace)
    vis2.begin(0)
    vis2.setLimits(Array(150L, 0L, 0L, 0L))
    vis2.onBatch()
    assert(vis2.visible(0) == 149 && !vis2.done)
  }

  test("the generator's encoding decodes to the same events in the program") {
    val s = new Gen.Stream(Gen.Ingest, 1L, 0, 1)
    val sent = s.msg(10, 1700000000L)
    val got = RiemannProtobuf.decodeMsg(Wire.eventsMsg(sent))
    assert(got.map(e => (e.host, e.service, e.state, e.metric, e.time_s, e.tags)) ==
      sent.map(e => (e.host, e.service, e.state, Some(e.metric), Some(e.timeS), e.tags)))
    assert(RiemannProtobuf.scanMsg(Wire.queryMsg("state = \"ok\"")) ==
      ((false, Some("state = \"ok\""))))
  }

  test("key ids round-trip through host and service names") {
    Seq(0, 9, 10, 12345, 199999).foreach(k => assert(Gen.keyId(Gen.host(k), Gen.service(k)) == k))
    assert(Gen.keyId("perfbench-probe", "setup-0") == -1)
  }
}
