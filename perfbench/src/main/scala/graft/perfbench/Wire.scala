package graft.perfbench

import java.io.{ByteArrayOutputStream, DataInputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** The riemann wire as the load generator speaks it: length-prefixed
  * protobuf `Msg`s. Written apart from `graft.sources.RiemannProtobuf`
  * so that a codec defect in the program cannot cancel itself out in
  * the benchmark's own encoding or reply check. */
object Wire {

  final case class Ev(host: String, service: String, state: String,
      metric: Double, timeS: Long, ttl: Float, tags: Seq[String])

  private final class Out {
    val b = new ByteArrayOutputStream(128)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { b.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      b.write(v.toInt)
    }
    def key(field: Int, wt: Int): Unit = varint(((field << 3) | wt).toLong)
    def bytes(field: Int, a: Array[Byte]): Unit = {
      key(field, 2); varint(a.length.toLong); b.write(a)
    }
    def str(field: Int, s: String): Unit = bytes(field, s.getBytes(UTF_8))
    def fixed32(field: Int, v: Int): Unit = {
      key(field, 5); var i = 0
      while (i < 4) { b.write((v >>> (8 * i)) & 0xff); i += 1 }
    }
    def fixed64(field: Int, v: Long): Unit = {
      key(field, 1); var i = 0
      while (i < 8) { b.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
  }

  def event(e: Ev): Array[Byte] = {
    val o = new Out
    o.key(1, 0); o.varint(e.timeS)
    o.str(2, e.state); o.str(3, e.service); o.str(4, e.host)
    e.tags.foreach(o.str(7, _))
    o.fixed32(8, java.lang.Float.floatToIntBits(e.ttl))
    o.fixed64(14, java.lang.Double.doubleToLongBits(e.metric))
    o.b.toByteArray
  }

  def eventsMsg(es: Seq[Ev]): Array[Byte] = {
    val o = new Out
    es.foreach(e => o.bytes(6, event(e)))
    o.b.toByteArray
  }

  def queryMsg(q: String): Array[Byte] = {
    val inner = new Out; inner.str(1, q)
    val o = new Out; o.bytes(5, inner.b.toByteArray)
    o.b.toByteArray
  }

  def frame(msg: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(4 + msg.length).putInt(msg.length).put(msg).array()

  def readFrame(in: DataInputStream): Array[Byte] = {
    val n = in.readInt()
    require(n >= 0 && n <= (64 << 20), s"bad reply frame length $n")
    val a = new Array[Byte](n)
    in.readFully(a)
    a
  }

  /** A reply `Msg`: the ok flag, the error text (null when absent) and
    * each returned event's `host + "\u0000" + service`. */
  final case class Reply(ok: Boolean, error: String, keys: Array[String])

  def reply(buf: Array[Byte]): Reply = {
    val r = new In(buf, 0, buf.length)
    var ok = false
    var error: String = null
    val keys = Array.newBuilder[String]
    while (r.more) {
      val tag = r.varint().toInt
      (tag >>> 3, tag & 7) match {
        case (2, 0) => ok = r.varint() != 0
        case (3, 2) => error = r.string()
        case (6, 2) =>
          val len = r.varint().toInt
          val ev = new In(buf, r.pos, r.pos + len)
          r.pos += len
          var host: String = null
          var service: String = null
          while (ev.more) {
            val t = ev.varint().toInt
            (t >>> 3, t & 7) match {
              case (3, 2) => service = ev.string()
              case (4, 2) => host = ev.string()
              case (_, wt) => ev.skip(wt)
            }
          }
          keys += host + "\u0000" + service
        case (_, wt) => r.skip(wt)
      }
    }
    Reply(ok, error, keys.result())
  }

  private final class In(buf: Array[Byte], var pos: Int, end: Int) {
    def more: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var v = 0L; var b = 0x80
      while ((b & 0x80) != 0) {
        require(pos < end && shift < 64, "truncated varint")
        b = buf(pos) & 0xff; pos += 1
        v |= (b & 0x7fL) << shift; shift += 7
      }
      v
    }
    def string(): String = {
      val len = varint().toInt
      require(len >= 0 && pos + len <= end, "truncated string")
      val s = new String(buf, pos, len, UTF_8); pos += len; s
    }
    def skip(wt: Int): Unit = wt match {
      case 0 => varint(); ()
      case 1 => pos += 8
      case 2 => val len = varint().toInt; pos += len
      case 5 => pos += 4
      case other => throw new IllegalArgumentException(s"wire type $other")
    }
  }
}
