package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** One-pass MinHash sketch of a text: `struct<sig, sh>`, where `sh` is
  * the distinct word-trigram set and `sig` holds, per `(a, b)` in
  * `perms`, the minimum over the set of `a*h + b` in wrapping long
  * arithmetic (with `a` odd, a bijection mod 2^64, so each minimum is a
  * valid min-wise sample). Null when the text has fewer than 3 tokens
  * (no trigram).
  *
  * Bit-compatible with the relational form it replaces: tokens are
  * `split(text, " ")`'s (empty tokens kept), a trigram is its three
  * tokens joined by single spaces, and `h` is the big-endian first 8
  * bytes of the trigram's UTF-8 md5 — the two md5-prefix hex halves
  * packed into one long, which the DuckDB oracle rebuilds exactly. Each
  * trigram is hashed once and no row leaves the document, so a sketch
  * costs no shuffle.
  */
object MinHashSketch {
  case class Sketch(sig: Array[Long], sh: Array[String])

  private val md5 = ThreadLocal.withInitial(
    () => java.security.MessageDigest.getInstance("MD5"))

  private def sketch(text: String, as: Array[Long], bs: Array[Long]): Option[Sketch] = {
    val ts = if (text == null) Array.empty[String] else text.split(" ", -1)
    if (ts.length < 3) return None
    val sh = new java.util.LinkedHashSet[String]()
    for (i <- 0 until ts.length - 2) sh.add(ts(i) + " " + ts(i + 1) + " " + ts(i + 2))
    val sig = Array.fill(as.length)(Long.MaxValue)
    sh.forEach { g =>
      val h = ByteBuffer.wrap(md5.get().digest(g.getBytes(UTF_8))).getLong
      for (p <- sig.indices) sig(p) = math.min(sig(p), as(p) * h + bs(p))
    }
    Some(Sketch(sig, sh.toArray(new Array[String](0))))
  }

  /** The sketch over `perms` as a UDF of the text. Build it once and
    * reuse it: plans share a UDF only by instance, and a persisted
    * sketch is found again only by a plan that compares equal.
    */
  def udfOf(perms: IndexedSeq[(Long, Long)]): UserDefinedFunction = {
    val (as, bs) = (perms.map(_._1).toArray, perms.map(_._2).toArray)
    udf((t: String) => sketch(t, as, bs)).withName("minhash_sketch")
  }
}
