package certabench

import org.apache.spark.sql.Row

/** Output digests and the invariants each operation's outputs must meet.
  * Both run outside the timed region.
  */
object Checks {
  /** Render a value so equal outputs render equally: doubles keep 9
    * significant digits, so a last-place difference from a reordered
    * floating-point sum does not change the digest; NaN and infinities
    * render by name.
    */
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => render(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case o => o.toString
  }

  /** SHA-256 over rendered rows, sorted so row order does not matter. */
  def digest(rows: Seq[Row]): String = digestLines(rows.map(render).sorted)

  def digestLines(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  def finite(d: Double): Boolean = !d.isNaN && !d.isInfinite

  /** Collects violations; an operation passes when none were found. */
  final class Violations {
    private val found = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: => String): Unit = if (!ok) found += what
    def all: Seq[String] = found.toSeq
  }
}
