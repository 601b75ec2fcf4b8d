package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream, FileInputStream, FileOutputStream}

/** Sample statistics, and the named-number record the load generator
  * hands back to the harness. */
object Stats {

  /** Nearest-rank quantile; 0 for no samples. */
  def quantile(xs: Array[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = quantile(xs.toArray, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** A growable array of longs without boxing. */
  final class Longs(initial: Int = 1024) {
    private var a = new Array[Long](initial)
    private var n = 0
    def +=(v: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def apply(i: Int): Long = a(i)
    def length: Int = n
    def clear(): Unit = n = 0
    def toDoubles: Array[Double] = Array.tabulate(n)(i => a(i).toDouble)
  }

  def write(path: String, rec: Iterable[(String, Array[Double])]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try {
      out.writeInt(rec.size)
      rec.foreach { case (k, v) =>
        out.writeUTF(k); out.writeInt(v.length); v.foreach(out.writeDouble)
      }
    } finally out.close()
  }

  def read(path: String): Map[String, Array[Double]] = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path)))
    try Seq.fill(in.readInt()) {
      val k = in.readUTF()
      k -> Array.fill(in.readInt())(in.readDouble())
    }.toMap
    finally in.close()
  }
}
