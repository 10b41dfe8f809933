package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text-hash kernels for the dedup family (trigram codes,
  * MinHash signature, SimHash fingerprint). These are the codegen-friendly
  * replacements for the HOF (`transform`/`aggregate`) formulations: one
  * tight loop over the characters instead of 8-16 interpreted lambda
  * traversals per row. Semantics are identical to the SQL/HOF versions
  * pinned by the d04/d05/d06 oracles (codepoint-based trigram codes
  * c0·65536 + c1·256 + c2 computed in Long; h_j(x) = (A_j·x + B_j) mod P;
  * SimHash bit k set iff Σ (2·bit_k(h)−1) > 0). Codepoints are taken from
  * the UTF-16 chars — identical to SQL `ascii(substr(...))` for the whole
  * BMP now that the code is widened to 64 bits before the multiply.
  */
object TextKernel {

  final val P = 1000000007L
  final val MinhashA: Array[Long] = Array(387420489L, 517578125L, 282475249L,
    131072003L, 823543019L, 594823321L, 362797057L, 148035889L)
  final val MinhashB: Array[Long] = Array(12289L, 24593L, 49157L, 98317L,
    196613L, 393241L, 786433L, 1572869L)
  final val SimA = 961748927L
  final val SimB = 179424673L

  def trigramCodes(s: UTF8String): Array[Long] = {
    val str = s.toString
    val n = str.length
    if (n < 3) return Array.emptyLongArray
    val out = new Array[Long](n - 2)
    var c0 = str.charAt(0).toInt
    var c1 = str.charAt(1).toInt
    var i = 0
    while (i < n - 2) {
      val c2 = str.charAt(i + 2).toInt
      out(i) = c0.toLong * 65536L + c1 * 256L + c2
      c0 = c1; c1 = c2
      i += 1
    }
    out
  }

  /** 8 MinHash values in one pass (Long.MaxValue when no trigrams). */
  def minhashSig(s: UTF8String): Array[Long] = {
    val str = s.toString
    val n = str.length
    val mins = Array.fill(MinhashA.length)(Long.MaxValue)
    if (n < 3) return mins
    var c0 = str.charAt(0).toInt
    var c1 = str.charAt(1).toInt
    var i = 0
    while (i < n - 2) {
      val c2 = str.charAt(i + 2).toInt
      val x = c0.toLong * 65536L + c1 * 256L + c2
      var j = 0
      while (j < MinhashA.length) {
        val v = (MinhashA(j) * x + MinhashB(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      c0 = c1; c1 = c2
      i += 1
    }
    mins
  }

  /** 16-bit SimHash in one pass (0 when no trigrams). */
  def simhash16(s: UTF8String): Long = {
    val str = s.toString
    val n = str.length
    if (n < 3) return 0L
    val acc = new Array[Long](16)
    var c0 = str.charAt(0).toInt
    var c1 = str.charAt(1).toInt
    var i = 0
    while (i < n - 2) {
      val c2 = str.charAt(i + 2).toInt
      val x = c0.toLong * 65536L + c1 * 256L + c2
      val h = (SimA * x + SimB) % P
      var k = 0
      while (k < 16) {
        acc(k) += 2L * ((h >> k) & 1L) - 1L
        k += 1
      }
      c0 = c1; c1 = c2
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < 16) { if (acc(k) > 0) out |= (1L << k); k += 1 }
    out
  }

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD 2003). k-gram
    * polynomial hashes h_i = Σ_j c_{i+j}·31^(k−1−j) — exact in a Long with
    * no modulus for BMP chars and small k — then each sliding window of w
    * grams selects its rightmost minimal hash; every selected (pos, hash)
    * is recorded once (selections are non-decreasing in pos, so consecutive
    * dedup equals global dedup). Documents with fewer than w grams degrade
    * to one window over all grams — the paper's at-least-one-fingerprint
    * guarantee. Returns packed longs pos·2^32 + hash (gram start, 0-based).
    * Single pass, map-only: the 100-TB shape is fingerprint → explode →
    * hash-join on (hash), the same bucket-bounded plan as d05's LSH. */
  def winnow(s: UTF8String, k: Int, w: Int): Array[Long] = {
    val str = s.toString
    val ng = str.length - k + 1
    if (ng <= 0 || k <= 0 || w <= 0) return Array.emptyLongArray
    val h = new Array[Long](ng)
    var i = 0
    while (i < ng) {
      var v = 0L
      var j = 0
      while (j < k) { v = v * 31L + str.charAt(i + j).toInt; j += 1 }
      // 32-bit fingerprint domain: the packed output is pos·2^32 | hash,
      // so the hash MUST fit 32 bits — an unmasked polynomial exceeds
      // 2^32 for k ≥ 7 (ASCII) or any wide char and would corrupt the
      // pos field. (Winnowing fingerprints are conventionally 32-bit;
      // the d10 fixture's k=5 ASCII hashes are < 2^27, where the mask
      // is a no-op and the relational twin agrees unmasked.)
      h(i) = v & 0xffffffffL
      i += 1
    }
    val we = math.min(w, ng)
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var last = -1
    var e = we - 1
    while (e < ng) {
      var m = e
      var p = e - 1
      while (p > e - we) { if (h(p) < h(m)) m = p; p -= 1 }
      if (m != last) { out += (m.toLong << 32) | h(m); last = m }
      e += 1
    }
    out.toArray
  }

  /** Gopher-style repetition quality stats (Rae et al. 2021 "Scaling
    * Language Models: ... Gopher" §A1.1 repetition filters; the same
    * signals the reference-scale corpus pipelines compute per document).
    * Words are the single-space split of the text (empty words kept —
    * `split(text, ' ', -1)` semantics). Returns 8 longs:
    *   [0] n_words, [1] total word chars (spaces excluded),
    *   [2..4] top-n-gram coverage for n=2,3,4: max over distinct word
    *          n-grams of count(gram) × wordChars(gram) — the characters
    *          attributable to the most repetitive n-gram,
    *   [5..7] duplicate-n-gram coverage for n=5,6,7: word chars in the
    *          union of word positions covered by any n-gram occurring
    *          ≥ 2 times in the document.
    * All values are exact integers, so downstream ppm fractions
    * (cov·10⁶ div chars) are integer-reproducible in any engine. One
    * pass per n over the words — map-only at any scale; the d11 oracle
    * replays the counting relationally. */
  def repStats(s: UTF8String): Array[Long] = {
    val str = s.toString
    val words = new scala.collection.mutable.ArrayBuffer[String]()
    var st = 0
    var i = 0
    while (i <= str.length) {
      if (i == str.length || str.charAt(i) == ' ') {
        words += str.substring(st, i); st = i + 1
      }
      i += 1
    }
    val m = words.length
    val wl = new Array[Long](m)
    var tot = 0L
    i = 0
    while (i < m) { wl(i) = words(i).length.toLong; tot += wl(i); i += 1 }
    val out = new Array[Long](8)
    out(0) = m.toLong
    out(1) = tot
    var n = 2
    while (n <= 7) {
      val ng = m - n + 1
      if (ng > 0) {
        val cnt = new java.util.HashMap[String, Integer]()
        val grams = new Array[String](ng)
        var j = 0
        while (j < ng) {
          val sb = new java.lang.StringBuilder()
          var k = 0
          while (k < n) {
            if (k > 0) sb.append(' ')
            sb.append(words(j + k))
            k += 1
          }
          val g = sb.toString
          grams(j) = g
          val prev = cnt.get(g)
          cnt.put(g, if (prev == null) 1 else prev + 1)
          j += 1
        }
        if (n <= 4) {
          var best = 0L
          val it = cnt.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            // word chars of the gram = joined length minus the n-1 spaces
            val cov = e.getValue.toLong * (e.getKey.length.toLong - (n - 1))
            if (cov > best) best = cov
          }
          out(n) = best
        } else {
          val covered = new Array[Boolean](m)
          var j2 = 0
          while (j2 < ng) {
            if (cnt.get(grams(j2)) >= 2) {
              var k2 = 0
              while (k2 < n) { covered(j2 + k2) = true; k2 += 1 }
            }
            j2 += 1
          }
          var cov = 0L
          var j3 = 0
          while (j3 < m) { if (covered(j3)) cov += wl(j3); j3 += 1 }
          out(n) = cov
        }
      }
      n += 1
    }
    out
  }

  /** BPE-ish pre-tokenizer segmentation by character class (the GPT-2
    * pre-tokenizer's coarse structure: runs of letters / digits / spaces /
    * other split at class boundaries — the "BPE-ish regex" token-count
    * companion to the whitespace count in d02). Classes: 0=space,
    * 1=ASCII letter, 2=ASCII digit, 3=other. Returns 7 longs:
    * [n_segs, n_letter_segs, n_digit_segs, n_other_segs, n_space_segs,
    * max_run_len, n_long_segs(>16 chars — the "needs subword splitting"
    * count)]. Single pass, map-only; the d15 oracle replays the class
    * transitions with a lag window. */
  def charClassSegs(s: UTF8String): Array[Long] = {
    val str = s.toString
    val out = new Array[Long](7)
    if (str.isEmpty) return out
    def cls(c: Char): Int =
      if (c == ' ') 0
      else if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) 1
      else if (c >= '0' && c <= '9') 2
      else 3
    var prev = -1
    var run = 0L
    var maxRun = 0L
    def close(k: Int, len: Long): Unit = {
      out(0) += 1
      k match {
        case 1 => out(1) += 1
        case 2 => out(2) += 1
        case 3 => out(3) += 1
        case _ => out(4) += 1
      }
      if (len > maxRun) maxRun = len
      if (len > 16) out(6) += 1
    }
    var i = 0
    while (i < str.length) {
      val k = cls(str.charAt(i))
      if (k == prev) run += 1
      else {
        if (prev >= 0) close(prev, run)
        prev = k; run = 1
      }
      i += 1
    }
    close(prev, run)
    out(5) = maxRun
    out
  }
}

/** zlib deflate/inflate — the ogr_deflate/ogr_inflate SQL functions
  * (/root/reference/ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp:60-150,
  * backed by CPLZLibDeflate/CPLZLibInflate, /root/reference/port/cpl_conv.h).
  * java.util.zip produces the same zlib stream format. */
object ZlibKernel {
  def deflate(data: Array[Byte], level: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(level)
    try {
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream(math.max(64, data.length / 3))
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 3))
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput())
          throw new java.util.zip.DataFormatException("truncated zlib stream")
        out.write(buf, 0, n)
      }
      out.toByteArray
    } finally inf.end()
  }

  /** ogr_inflate: null on a corrupt or truncated stream. */
  def inflateOrNull(data: Array[Byte]): Array[Byte] =
    try inflate(data) catch { case _: Exception => null }
}

/** Sequential-fold vector kernels for the embedding similarity family —
  * same left-to-right summation order as the `aggregate(zip_with(...))`
  * HOF formulation (and DuckDB's list_sum), so results are bit-identical
  * while skipping per-element lambda interpretation. */
object VecKernel {
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData,
          b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
  def norm(a: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = a.getDouble(i); s += v * v; i += 1 }
    math.sqrt(s)
  }

  /** Fused IVF coarse assignment: argmin over score(v,c) = c·c − 2·(v·c)
    * with the (s, cid) lexicographic tie rule and NaN-greatest total
    * ordering — bit-identical to array_min(array(struct(s, cid))) over
    * per-centroid vec_dot columns, in ONE tight loop. */
  def nearestCid(a: org.apache.spark.sql.catalyst.util.ArrayData,
                 cids: Array[Int], cents: Array[Array[Double]],
                 ccs: Array[Double]): Int = {
    var bestS = 0.0; var bestCid = 0; var first = true
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      val n = math.min(a.numElements(), c.length)
      var d = 0.0; var j = 0
      while (j < n) { d += a.getDouble(j) * c(j); j += 1 }
      val s = ccs(i) - 2.0 * d
      val cmp = if (first) -1 else java.lang.Double.compare(s, bestS)
      if (cmp < 0 || (cmp == 0 && cids(i) < bestCid)) {
        bestS = s; bestCid = cids(i); first = false
      }
      i += 1
    }
    bestCid
  }

  /** Fused nprobe-nearest centroid ids, nearest first — bit-identical to
    * slice(array_sort(array(struct(s, cid))), 1, nprobe).cid. */
  def probeCids(a: org.apache.spark.sql.catalyst.util.ArrayData,
                cids: Array[Int], cents: Array[Array[Double]],
                ccs: Array[Double], nprobe: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val k = cents.length
    val ss = new Array[Double](k)
    var i = 0
    while (i < k) {
      val c = cents(i)
      val n = math.min(a.numElements(), c.length)
      var d = 0.0; var j = 0
      while (j < n) { d += a.getDouble(j) * c(j); j += 1 }
      ss(i) = ccs(i) - 2.0 * d
      i += 1
    }
    val order = Array.range(0, k).sortWith { (x, y) =>
      val c = java.lang.Double.compare(ss(x), ss(y))
      c < 0 || (c == 0 && cids(x) < cids(y))
    }
    val m = math.min(nprobe, k)
    val out = new Array[Int](m)
    var p = 0
    while (p < m) { out(p) = cids(order(p)); p += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
