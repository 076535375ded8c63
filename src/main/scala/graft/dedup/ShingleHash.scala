package graft.dedup

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Executor-side hash kernels for MinHash/SimHash signatures.
  *
  * Exactly mirrors the Column/DuckDB formulas (md5-hex-prefix token hashes,
  * (37i+101)x + (91i+17) mod 2^31-1 family, 60-bit sign-sum simhash) but
  * runs as a plain Scala loop per partition: a 16-60-way nested
  * expression tree is pathological for whole-stage codegen (janino compiles
  * tens of seconds), while this kernel is a few µs per doc and scales
  * linearly with partitions.
  */
object ShingleHash {

  val P: Long = graft.text.TextOps.P

  private val hexDigits = "0123456789abcdef".toCharArray

  private def md5HexPrefix(s: String, nChars: Int): Long = {
    val md = MessageDigest.getInstance("MD5")
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    // parse first nChars hex chars as a positive long (nChars <= 15)
    var v = 0L
    var i = 0
    while (i < nChars) {
      val b = d(i / 2)
      val nibble = if (i % 2 == 0) (b >> 4) & 0xf else b & 0xf
      v = (v << 4) | nibble
      i += 1
    }
    v
  }

  /** = ('0x' || substr(md5(t),1,8))::BIGINT */
  def tokenHash32(t: String): Long = md5HexPrefix(t, 8)

  /** = ('0x' || substr(md5(t),1,15))::BIGINT */
  def tokenHash60(t: String): Long = md5HexPrefix(t, 15)

  /** Distinct word n-gram shingles — same SET as TextOps.shingles, sorted
    * so pairwise Jaccard can run as a linear merge instead of per-pair
    * hash-set builds.
    */
  def shingles(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty // null doc = empty set, not an NPE
    val toks = text.split(" ", -1)
    if (toks.length < n) Array.empty
    else {
      val out = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i + n <= toks.length) {
        out += toks.slice(i, i + n).mkString(" ")
        i += 1
      }
      val arr = out.toArray
      java.util.Arrays.sort(arr.asInstanceOf[Array[Object]])
      arr
    }
  }

  /** Sorted distinct 32-bit hashes of the shingle set — the set-identity
    * payload for pair joins (8 bytes/shingle instead of a ~25-char string).
    */
  def hashedShingles(text: String, n: Int): Array[Long] = hashedShingles(text, n, 8)

  /** Sorted distinct md5-prefix hashes at `hashChars` hex chars of width
    * (8 = 32-bit for pair-join payloads where the oracle shares the
    * collision behavior; 15 = 60-bit where false positives carry a cost,
    * e.g. decontamination dropping clean docs on a collision).
    */
  def hashedShingles(text: String, n: Int, hashChars: Int): Array[Long] = {
    val hs = shingles(text, n).map(md5HexPrefix(_, hashChars))
    val d = hs.distinct
    java.util.Arrays.sort(d)
    d
  }

  /** NON-distinct, position-ordered gram hashes — one entry per sliding-
    * window position (the "any overlapping window" decontamination rule
    * counts occurrences, not distinct grams).
    */
  def slidingHashes(text: String, n: Int, hashChars: Int): Array[Long] = {
    if (text == null) return Array.empty
    val toks = text.split(" ", -1)
    if (toks.length < n) Array.empty
    else Array.tabulate(toks.length - n + 1) { i =>
      md5HexPrefix(toks.slice(i, i + n).mkString(" "), hashChars)
    }
  }

  /** Jaccard of two SORTED distinct long arrays via linear merge. */
  def jaccardSortedLong(a: Seq[Long], b: Seq[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** MinHash signature, identical to the Column/DuckDB formula. */
  def minhashSignature(text: String, numHashes: Int, shingleN: Int): Array[Long] = {
    val xs = shingles(text, shingleN).map(s => tokenHash32(s) % P)
    Array.tabulate(numHashes) { i =>
      if (xs.isEmpty) -1L
      else {
        var m = Long.MaxValue
        var k = 0
        while (k < xs.length) {
          val h = ((37L * i + 101L) * xs(k) + (91L * i + 17L)) % P
          if (h < m) m = h
          k += 1
        }
        m
      }
    }
  }

  /** 60-bit SimHash, identical to the Column/DuckDB formula. */
  def simhash(text: String, shingleN: Int, bits: Int = 60): Long = {
    val hs = shingles(text, shingleN).map(tokenHash60)
    var sig = 0L
    var j = 0
    while (j < bits) {
      var s = 0
      var k = 0
      while (k < hs.length) {
        if (((hs(k) >> j) & 1L) == 1L) s += 1 else s -= 1
        k += 1
      }
      if (s > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}
