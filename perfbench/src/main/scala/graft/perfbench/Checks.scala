package graft.perfbench

import graft.streaming.WireEvent

/** The correctness checks on the served index after a run. Each
  * returns how many keys are wrong, so every miss counts as a failure. */
object Checks {

  /** `model`: key id -> (sequence number, critical) of the newest event
    * the generator sent for that key. */
  def indexVsModel(got: Seq[WireEvent], model: Map[Int, (Long, Boolean)]): Long = {
    val seen = scala.collection.mutable.HashSet[Int]()
    val wrong = got.count { e =>
      val k = Gen.keyId(e.host, e.service)
      seen += k
      model.get(k) match {
        case Some((seq, critical)) =>
          !e.metric.contains(seq.toDouble) ||
            e.state != (if (critical) "critical" else "ok")
        case None => true
      }
    }
    wrong + model.keysIterator.count(k => !seen(k))
  }

  /** The `query` workload's index must still hold every fill event:
    * re-sent events change only `time`. */
  def indexVsFill(got: Seq[WireEvent], fill: Gen.Fill): Long = {
    val seen = new java.util.BitSet(fill.n)
    val wrong = got.count { e =>
      val k = Gen.keyId(e.host, e.service)
      val ok = k >= 0 && k < fill.n && !seen.get(k) &&
        e.state == fill.state(k) && e.metric.contains(fill.metric(k)) &&
        e.tags == Seq(Gen.Tags(fill.tag(k)))
      if (k >= 0 && k < fill.n) seen.set(k)
      !ok
    }
    wrong + (fill.n - seen.cardinality())
  }

  /** A query reply is right when its keys are exactly the expected ones. */
  def replyMatches(reply: Wire.Reply, expected: Array[Int]): Boolean =
    reply.ok && java.util.Arrays.equals(
      reply.keys.map { hs =>
        val i = hs.indexOf('\u0000')
        Gen.keyId(hs.substring(0, i), hs.substring(i + 1))
      }.sorted, expected)
}
