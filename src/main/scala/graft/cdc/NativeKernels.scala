package graft.cdc

import org.apache.spark.unsafe.types.UTF8String

/** First 4 bytes of the MD5 digest as a non-negative 32-bit value in
  * a Long — numerically identical to
  * `conv(substring(md5(x), 1, 8), 16, 10)` but without materializing
  * the 32-char hex string or re-parsing it (the dedup/minhash hot
  * path hashes every shingle and token). */
object Md5H32 {
  private val mdTl: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  def hash(bytes: Array[Byte]): Long = {
    val md = mdTl.get()
    md.reset()
    val d = md.digest(bytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
}

/** Left-to-right dot product over two double arrays — the kernel of
  * every cosine-similarity operator. The fold order (ascending index,
  * `acc + a[i]*b[i]`) is EXACTLY the order the DuckDB oracle's
  * `list_reduce(list_transform(...))` evaluates, so results are
  * bit-identical to the SQL-expressible formulation. */
object VecOps {
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Exact integer squared L2 — the quantized-grid distance kernel
    * (k-means / PQ / trained-IVF). Callers guarantee equal lengths;
    * length mismatch mirrors the zip_with fold it replaces (null-pad
    * poisons the sum → the `vec_l2i` row returns null). */
  def l2i(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** A NULL element anywhere poisons the product — mirrors how the
    * `aggregate(zip_with(...))` fold (and DuckDB's `list_reduce`)
    * propagate NULL through `acc + x*y`. */
  def hasNullElement(
      a: org.apache.spark.sql.catalyst.util.ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }
}

/** O(n) sliding-window minimum over a long array (monotonic deque) —
  * the winnowing fingerprint selection kernel (q148). Replaces the
  * `transform(sequence(...), j -> array_min(slice(hs, j+1, w)))`
  * higher-order chain, which drops out of whole-stage codegen and
  * allocates a w-element array per window; this allocates once per
  * row and compares each element at most twice. Output element j is
  * min(a[j..j+w-1]); n < w yields an empty array (the HOF chain's
  * `sequence(0, n-w)` behavior under the callers' n >= w guard). */
object SlidingMin {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  def apply(a: ArrayData, w: Int): ArrayData = {
    val n = a.numElements()
    if (w <= 0 || n < w) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](n - w + 1)
    val deque = new Array[Int](n)
    var head = 0
    var tail = 0
    var i = 0
    while (i < n) {
      val v = a.getLong(i)
      while (tail > head && a.getLong(deque(tail - 1)) >= v) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) out(i - w + 1) = a.getLong(deque(head))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Jump consistent hash (Lamport & Veach, "A Fast, Minimal Memory,
  * Consistent Hash Algorithm", arXiv:1406.2294): maps a 64-bit key to
  * a bucket in [0, n) such that growing n to n' moves only a
  * (n'-n)/n' fraction of keys — the resharding primitive a 100 TB
  * corpus needs (mod-N would relocate ~everything). O(log n) loop,
  * no memory, no lookup table. The arithmetic is exactly the paper's:
  * an LCG step on the unsigned 64-bit key and a double-precision
  * scaled jump — both bit-reproducible across engines (the oracle
  * mirrors it with HUGEINT mod-2^64 and the same double divide). */
object JumpHash {
  final val Lcg = 2862933555777941757L

  def shard(key0: Long, buckets: Int): Long = {
    if (buckets <= 0)
      throw new IllegalArgumentException(s"buckets must be > 0: $buckets")
    var key = key0
    var b = -1L
    var j = 0L
    while (j < buckets) {
      b = j
      key = key * Lcg + 1L
      // (key >>> 33) treats the wrapped product as unsigned, per paper
      j = ((b + 1L) * (2147483648.0 / (((key >>> 33) + 1L).toDouble))).toLong
    }
    b
  }
}

/** All ordered index pairs (i < j) of a long array, packed
  * arr[i]·2³² + arr[j] — the market-basket 2-itemset fanout kernel
  * (q205). Replaces the `flatten(transform(items, (x, i) ->
  * transform(slice(items, i + 2, size(items)), y -> x·2³² + y)))`
  * higher-order chain, which evaluates INTERPRETED (lambda closures,
  * one allocated sub-array per element, plus the flatten copy);
  * this is one tight loop into a primitive long array inside
  * whole-stage codegen. The packing arithmetic (including overflow
  * wrap) is bit-identical to the expression it replaces. */
object PairPack {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

  def apply(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](if (n < 2) 0 else n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val x = a.getLong(i) * 4294967296L
      var j = i + 1
      while (j < n) {
        out(k) = x + a.getLong(j)
        k += 1
        j += 1
      }
      i += 1
    }
    // UnsafeArrayData, not GenericArrayData: the generic form wraps an
    // Object[] and BOXES every long on construction and again on each
    // downstream getLong — for a fanout expression the boxing was the
    // cost being removed in the first place.
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Intersection size of two SORTED distinct long arrays — the
  * set-similarity verify kernel (q130's PPJoin candidate verify):
  * two-pointer merge count, no allocation. Callers guarantee sorted
  * distinct inputs (sort_array over per-doc distinct shingle sets);
  * on unsorted input the count is merely a lower bound, never an
  * error. */
object SortedInterCount {
  import org.apache.spark.sql.catalyst.util.ArrayData

  def apply(a: ArrayData, b: ArrayData): Long = {
    val (n, m) = (a.numElements(), b.numElements())
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** Structural JSON bracket-depth delta of one wal2json chunk frame —
  * the `write-in-chunks` reassembly kernel, shared verbatim by the
  * batch operator ([[CdcFunctions.wal2jsonReassembleChunks]]) and the
  * streaming one (`StreamOps.chunkDepthDelta`), so stream == batch
  * holds by construction. One pass, no allocation; replaces a
  * per-frame `regexp_replace("\"([^\"\\\\]|\\\\.)*\"", "")` +
  * 4× `translate` chain (the regex built the stripped string per
  * frame — the hot per-row cost of the q260/q264/q265 family).
  *
  * Semantics mirror the regex EXACTLY, including the degenerate
  * cases: a COMPLETE string literal (closing quote reachable through
  * `\x` escapes) is skipped wholesale; an UNTERMINATED literal's
  * opening quote is a plain character (the regex finds no match
  * there) and scanning continues at the next character, so brackets
  * after it still count. */
object JsonDepth {
  def delta(s: UTF8String): Long = delta(s.toString)

  def delta(p: String): Long = {
    val n = p.length
    var d = 0L
    var i = 0
    while (i < n) {
      val c = p.charAt(i)
      if (c == '"') {
        // try to complete a string literal: ([^"\]|\.)* then "
        var j = i + 1
        var closed = -1
        while (j < n && closed < 0) {
          val cj = p.charAt(j)
          if (cj == '"') closed = j
          else if (cj == '\\') j += 2
          else j += 1
        }
        if (closed >= 0) i = closed + 1 // strip the whole literal
        else i += 1 // no match starting here — '"' is a plain char
      } else {
        if (c == '{' || c == '[') d += 1
        else if (c == '}' || c == ']') d -= 1
        i += 1
      }
    }
    d
  }
}

/** Longest repeated contiguous token window within one document —
  * the maximal k such that some k-token window occurs at two distinct
  * positions. Exact and allocation-lean: tokens intern to int ids,
  * then binary search on k (duplicate windows are downward-closed in
  * k) with a 64-bit polynomial rolling hash per level and an exact
  * id-sequence verify inside each hash bucket, so a hash collision
  * can never overstate the answer. Expected O(n log n) per document
  * vs the O(n^2) window materialization a pure-SQL formulation needs
  * (which is what the DuckDB oracle runs at test scale). */
object LongestRepeat {
  import org.apache.spark.sql.catalyst.util.ArrayData

  private final val B = 1000003L

  def apply(a: ArrayData): Long = {
    val n = a.numElements()
    if (n < 2) return 0L
    val ids = new Array[Int](n)
    val seen = new java.util.HashMap[UTF8String, Integer](n * 2)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) ids(i) = -1 // all null elements compare equal
      else {
        val t = a.getUTF8String(i)
        val id = seen.get(t)
        if (id == null) {
          ids(i) = seen.size
          // clone: the UTF8String may view a shared row buffer
          seen.put(t.clone(), Integer.valueOf(seen.size))
        } else ids(i) = id.intValue()
      }
      i += 1
    }
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (hasDup(ids, mid)) lo = mid else hi = mid - 1
    }
    lo.toLong
  }

  /** Any k-window occurring twice? Rolling-hash buckets, then exact
    * compare of id runs within a bucket. */
  private def hasDup(x: Array[Int], k: Int): Boolean = {
    val n = x.length
    var powK = 1L // B^k for the roll-off term
    var i = 0
    while (i < k) { powK *= B; i += 1 }
    val buckets =
      new java.util.HashMap[java.lang.Long, java.util.ArrayList[Integer]]()
    var h = 0L
    var s = 0
    while (s < n) {
      h = h * B + x(s)
      if (s >= k) h -= powK * x(s - k)
      if (s >= k - 1) {
        val start = s - k + 1
        val key = java.lang.Long.valueOf(h)
        var lst = buckets.get(key)
        if (lst == null) { lst = new java.util.ArrayList[Integer](2); buckets.put(key, lst) }
        else {
          var j = 0
          while (j < lst.size()) {
            if (sameRun(x, lst.get(j).intValue(), start, k)) return true
            j += 1
          }
        }
        lst.add(Integer.valueOf(start))
      }
      s += 1
    }
    false
  }

  private def sameRun(x: Array[Int], p: Int, q: Int, k: Int): Boolean = {
    var i = 0
    while (i < k) {
      if (x(p + i) != x(q + i)) return false
      i += 1
    }
    true
  }
}
