package perfbench

import java.io.File

/** Minimal JSON writer for the report file (numbers, strings, maps, seqs). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null                 => "null"
    case s: String            => str(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => value(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case Raw(s)               => s
    case m: Map[_, _]         => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_]         => value(xs.toSeq)
    case other                => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv.toMap)

  /** Pre-rendered JSON embedded as is. */
  final case class Raw(json: String)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def timeMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Bytes of every regular file under `dir`. */
  def diskBytes(dir: File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) dir.length
    else Option(dir.listFiles).map(_.iterator.map(diskBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
