package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels behind the custom Catalyst expressions in this package.
  * Generated code calls these statics directly (the `StaticInvoke`
  * pattern), so the expressions stay inside whole-stage codegen while the
  * per-row loop runs as plain JIT-compiled Java — no per-element lambda
  * interpretation like the built-in higher-order functions.
  */
object VectorOps {

  @inline private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Cosine similarity with strictly sequential double accumulation —
    * bit-compatible with `aggregate(zip_with(...))` over the same data
    * and with scalar SQL engines' loop implementations. */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, i, aFloat); val y = elem(b, i, bFloat)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += elem(a, i, aFloat) * elem(b, i, bFloat); i += 1 }
    s
  }

  /** Order-8 Hilbert curve index of a 256×256 cell grid (d in
    * [0, 65536)) — the standard xy2d bit walk (Hilbert 1891; algorithm
    * as published in the public literature, e.g. Hamilton's compact
    * form): per bit plane from high to low, accumulate the quadrant's
    * curve offset and rotate/reflect the frame. Unlike the Morton
    * interleave, consecutive d values are ALWAYS Manhattan-adjacent
    * cells (unit-step curve, spec-asserted against an independent d2xy
    * reimplementation), so unaligned curve segments stay spatially
    * compact — the locality property Hilbert clustering buys over
    * Z-order. Inputs are masked to 8 bits. */
  def hilbertD(x0: Long, y0: Long): Long = {
    var x = x0 & 255L; var y = y0 & 255L
    var d = 0L; var s = 128L
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        // reflect within the FULL grid (255 - v = bitwise complement of
        // the 8-bit word): consumed high bits flip too, but they are
        // never read again, and values stay non-negative — an s-1-v
        // reflection would go negative once v ≥ s and corrupt the walk
        if (rx == 1) { x = 255L - x; y = 255L - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Squared L2 distance, strictly sequential accumulation — the exact
    * counterpart of [[pqAdc]]'s metric (ADC sums per-subspace squared-L2
    * residuals), so IVFADC re-ranking compares the two in one scale. */
  def sqL2(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      val d = elem(a, i, aFloat) - elem(b, i, bFloat)
      s += d * d; i += 1
    }
    s
  }

  /** Deterministic pseudo-random hyperplane weights: component (p, d) is
    * splitmix64((p << 32) | d) mapped to uniform [-1, 1) — pure long
    * arithmetic, identical on every JVM, no driver-side state to ship.
    * splitmix64's full avalanche makes components INDEPENDENT across
    * adjacent (plane, dim) keys. (The previous
    * `new java.util.Random(p*7919+d).nextDouble()` was a real bug: an
    * LCG's first draw barely depends on the seed's low bits, so every
    * plane collapsed to ±c·(1,1,…,1) — one effective bit per signature,
    * and the LSH candidate stage silently degraded to ~all-pairs.)
    * Weight rows are memoized per (plane, dim): pure function of the
    * key, so caching changes nothing bit-wise, but avoids planes×dim
    * generator calls per ROW (the round-1 hot-kernel bug). The cache is
    * tiny (planes × dim doubles per distinct shape) and
    * per-executor-JVM. */
  private val planeWeightCache =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, Array[Double]]()

  private def planeWeights(p: Int, dim: Int): Array[Double] = {
    val key = java.lang.Long.valueOf((p.toLong << 32) | (dim.toLong & 0xffffffffL))
    var w = planeWeightCache.get(key)
    if (w == null) {
      w = new Array[Double](dim)
      var d = 0
      while (d < dim) {
        val h = splitmix64((p.toLong << 32) | (d.toLong & 0xffffffffL))
        w(d) = (h >>> 11).toDouble / (1L << 52).toDouble - 1.0 // uniform [-1, 1)
        d += 1
      }
      planeWeightCache.putIfAbsent(key, w)
    }
    w
  }

  /** Sign-of-projection LSH signature over `planes` hyperplanes packed
    * into one long (planes ≤ 64 per word). `planeOffset` selects which
    * global planes this word covers (offset, offset+1, …) so callers can
    * build signatures wider than 64 planes as several words. One pass per
    * plane over the vector — O(planes×dim) flops in a tight JIT loop over
    * the memoized weight rows. */
  def hyperplaneSignature(v: ArrayData, isFloat: Boolean, planes: Int,
                          planeOffset: Int): Long = {
    val dim = v.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      val w = planeWeights(planeOffset + p, dim)
      var proj = 0.0; var d = 0
      while (d < dim) { proj += elem(v, d, isFloat) * w(d); d += 1 }
      if (proj >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  def hyperplaneSignature(v: ArrayData, isFloat: Boolean, planes: Int): Long =
    hyperplaneSignature(v, isFloat, planes, 0)

  /** 64-bit SimHash over a token array: per token one 64-bit hash
    * (FNV-1a over UTF8 bytes — deterministic, allocation-free), ±1 into
    * 64 counters, sign → bit. O(tokens × (len + 64)). */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = fnv1a64(tokens.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L; var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Distinct word n-gram shingles of a single-space-tokenized string.
    * Exactly mirrors: tokens = split(text, " ") (trailing empties kept);
    * if #tokens < n → distinct tokens, else distinct windows of n tokens
    * joined by " " — the same semantics as the DuckDB oracle's
    * string_split + list_transform + list_distinct formulation. */
  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val out = new java.util.LinkedHashSet[String]()
    if (toks.length < n) {
      var i = 0
      while (i < toks.length) { out.add(toks(i)); i += 1 }
    } else {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        out.add(sb.toString)
        i += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator(); var i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  /** ALL word n-grams in order, multiplicity preserved — the vocabulary/
    * frequency-analysis unit ([[wordShingles]] dedups, which is right
    * for set similarity but loses counts). Fewer than n tokens → empty
    * (no n-gram exists; the shingle fallback-to-tokens is a set-overlap
    * convention, wrong for counting). */
  def wordNgrams(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val arr = new Array[Any](toks.length - n + 1)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      arr(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  /** DEFLATE-compressed length of the string's UTF-8 bytes (zlib raw
    * deflate, BEST_COMPRESSION, no header) — the numerator of the
    * compression-ratio quality signal. Deterministic for a given zlib
    * build (the JDK bundles one); the ratio consumer
    * (graft.operators.Quality.compressionRatio) gates on wide margins,
    * not exact byte counts, so a zlib upgrade shifts nothing that
    * matters. Empty input → 0 (not zlib's 2-byte empty block), keeping
    * ratio(empty) well-defined as 0. */
  def deflatedLength(text: UTF8String): Int = {
    val bytes = text.getBytes
    if (bytes.isEmpty) return 0
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.BEST_COMPRESSION, true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  private final val Golden = 0x9e3779b97f4a7c15L

  @inline private def splitmix64(x0: Long): Long = {
    var x = x0 + Golden
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** MinHash signature: sig[i] = min over elements of h_i(elem), with
    * h_i = splitmix64(fnv1a64(elem) ^ splitmix64(i)) — k independent
    * hash families, evaluated in ONE pass over the element array
    * (elements hashed once, then k cheap mixes each). */
  def minhashSig(elems: ArrayData, k: Int): ArrayData = {
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = elems.numElements()
    var i = 0
    while (i < n) {
      if (!elems.isNullAt(i)) {
        val base = fnv1a64(elems.getUTF8String(i))
        var j = 0
        while (j < k) {
          val h = splitmix64(base ^ splitmix64(j.toLong))
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  /** Order-sensitive Rabin–Karp rolling hash over a token array
    * (wrapping 64-bit polynomial accumulate — not expressible with ANSI
    * SQL arithmetic, which raises on overflow). */
  def tokenRollingHash(tokens: ArrayData): Long = {
    var acc = 1125899906842597L
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = if (tokens.isNullAt(i)) 0L else fnv1a64(tokens.getUTF8String(i))
      acc = acc * 31L + h
      i += 1
    }
    acc
  }

  /** fnv1a64 of each element: array<string> → array<long> in one pass.
    * Lets dedup verify joins ship 8-byte shingle ids instead of the
    * shingle strings (≈3-5× fewer shuffle bytes for word 3-grams);
    * intersection counts are unchanged up to 64-bit collision odds
    * (~n²/2⁶⁵ — ≈1e-9 even at 10⁵ distinct shingles per pair). */
  def hashTokens64(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = if (tokens.isNullAt(i)) 0L else fnv1a64(tokens.getUTF8String(i))
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  def fnv1a64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Gopher-style repetition signal: fraction of the doc's tokens
    * covered by the single most frequent word n-gram (count × n /
    * tokens, capped at 1.0 — overlapping self-repeats like "x x x x"
    * would otherwise exceed it). One pass + a per-row count map over
    * the row's n-grams — a per-row GROUP BY no HOF combination can
    * express. Splits on single spaces like [[wordShingles]]; fewer
    * than n tokens → 0.0. */
  def topNgramFrac(text: UTF8String, n: Int): Double = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return 0.0
    val counts = new java.util.HashMap[String, Integer]()
    val sb = new java.lang.StringBuilder()
    var max = 0
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      val k = sb.toString
      val c = counts.merge(k, 1, (a, b) => a + b)
      if (c > max) max = c
      i += 1
    }
    math.min(1.0, max.toDouble * n / toks.length)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Content-defined chunk boundaries: 1-based positions i where the
    * md5-hex6 coin of token i (+ salt) lands on 0 mod `avg` — byte-
    * identical to the SQL-replayable `Sampling.hexInt` recipe (the
    * first six hex digits of md5 are exactly the first three digest
    * bytes). One JVM kernel pass per row: the equivalent
    * filter(sequence)/element_at HOF formulation interprets per element
    * AND re-evaluates the md5 six times per token inside the lambda
    * (measured: q124 at 15.1 s vs ~2 s with this kernel). */
  /** T5 span-corruption mask (Raffel et al., JMLR 2020): per-token run
    * ids for the masked-span denoising objective. Span STARTS are
    * independent position coins — token i (1-based) starts a span when
    * hex6(md5("<id>:<i>:t5s")) < pNum, with length
    * minLen + hex6(md5("<id>:<i>:t5l")) % lenRange — and a token is
    * masked when ANY span covers it (independent-span semantics:
    * overlapping spans merge into one run, which keeps the rule
    * stateless and ANSI-SQL-replayable — a bounded-lookback EXISTS,
    * not a running counter). Returns array<int>: the 0-based id of the
    * maximal masked run per token, −1 for clear tokens. One kernel
    * pass per row — the HOF formulation would interpret two md5 coins
    * per token (the q124 lesson), and a window formulation would
    * shuffle the corpus at token grain. */
  def t5SpanMask(id: Long, toks: ArrayData, pNum: Int, minLen: Int,
                 lenRange: Int): ArrayData = {
    val md = md5Local.get()
    val n = toks.numElements()
    def hex6(s: String): Int = {
      md.reset()
      val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
    }
    // independent spans: starts[i], len[i] (computed only when started)
    val starts = new Array[Boolean](n)
    val lens = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (hex6(s"$id:${i + 1}:t5s") < pNum) {
        starts(i) = true
        lens(i) = minLen + hex6(s"$id:${i + 1}:t5l") % lenRange
      }
      i += 1
    }
    val maxSpan = minLen + lenRange - 1
    val out = new Array[Any](n)
    var run = -1
    var prevMasked = false
    var j = 0
    while (j < n) {
      var masked = false
      var k = math.max(0, j - maxSpan + 1)
      while (!masked && k <= j) {
        if (starts(k) && k + lens(k) > j) masked = true
        k += 1
      }
      if (masked) {
        if (!prevMasked) run += 1
        out(j) = run
      } else out(j) = -1
      prevMasked = masked
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003): hash every char k-gram with the md5-hex6 coin
    * (byte-identical to `Sampling.hexInt`, the SQL-replayable recipe),
    * then from every window of `w` consecutive gram hashes keep the
    * RIGHTMOST minimal one; consecutive windows usually re-select the
    * same gram, so selections dedupe to ~2/(w+1) of positions. The
    * winnowing GUARANTEE: any substring shared between two documents of
    * length ≥ w+k−1 chars yields at least one shared fingerprint — the
    * deterministic counterpart of MinHash's probabilistic recall.
    * Returns packed longs `(pos << 24) | hex6` (1-based char pos),
    * ascending by position. One JVM kernel pass per row — the HOF
    * formulation would interpret the 6-digit md5 arithmetic per char
    * (the q124 lesson). Positions index CODE POINTS (UTF8String
    * substring), matching SQL `substr` on multibyte text. */
  def winnow(text: UTF8String, salt: UTF8String, k: Int, w: Int): ArrayData = {
    val md = md5Local.get()
    val saltB = salt.getBytes
    val L = text.numChars()
    val n = L - k + 1
    if (n < w) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val hashes = new Array[Int](n)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(text.substringSQL(i + 1, k).getBytes)
      md.update(saltB)
      val d = md.digest()
      hashes(i) = ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
      i += 1
    }
    val out = new java.util.ArrayList[java.lang.Long](2 * n / (w + 1) + 4)
    var lastPos = -1
    var p = 0
    while (p + w <= n) {
      // rightmost minimum of hashes[p .. p+w-1]
      var best = p
      var j = p + 1
      while (j < p + w) { if (hashes(j) <= hashes(best)) best = j; j += 1 }
      if (best != lastPos) {
        out.add((((best + 1).toLong) << 24) | hashes(best).toLong)
        lastPos = best
      }
      p += 1
    }
    val arr = new Array[Any](out.size)
    var q = 0
    while (q < arr.length) { arr(q) = out.get(q).longValue(); q += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  def cdcBoundaries(toks: ArrayData, salt: UTF8String, avg: Int): ArrayData = {
    val md = md5Local.get()
    val saltB = salt.getBytes
    val n = toks.numElements()
    val out = new java.util.ArrayList[Integer](n / math.max(avg, 1) + 4)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(toks.getUTF8String(i).getBytes)
      md.update(saltB)
      val d = md.digest()
      val hex6 = ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
      if (hex6 % avg == 0) out.add(i + 1)
      i += 1
    }
    val arr = new Array[Any](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j).intValue(); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  /** Product-quantization encode: split `v` into `m` contiguous
    * subvectors of `codebooks.length / (m*ksub)` dims and pick, per
    * subspace, the squared-L2-nearest codeword (ties → smaller code; a
    * NaN-marked dead codeword is never chosen). Returns the `m` codes —
    * the whole 100 TB compression story is that these m bytes replace
    * the full vector in every downstream distance computation. Codebook
    * layout is row-major `[j][c][i]` (subspace, code, dim). */
  def pqEncode(v: ArrayData, isFloat: Boolean, codebooks: Array[Double],
               m: Int, ksub: Int): ArrayData = {
    val subDim = codebooks.length / (m * ksub)
    if (v.numElements() != m * subDim)
      throw new IllegalArgumentException(
        s"pqEncode: vector dim ${v.numElements()} != m*subDim ${m * subDim}")
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      var best = -1
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < ksub) {
        val base = (j * ksub + c) * subDim
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val diff = elem(v, j * subDim + i, isFloat) - codebooks(base + i)
          d += diff * diff
          i += 1
        }
        // NaN codeword → d is NaN → comparison false → never selected
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      if (best < 0) throw new IllegalStateException(
        s"pqEncode: no live codeword in subspace $j")
      out(j) = best.toLong
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Per-query ADC lookup table: squared L2 distance from each of `v`'s
    * m subvectors to every codeword, flattened `[j*ksub + c]`. Computed
    * once per QUERY row (the broadcast side), so the per-candidate cost
    * in [[pqAdc]] collapses to m array reads + adds. Dead (NaN)
    * codewords surface as +inf — encode never emits their codes. */
  def pqLut(v: ArrayData, isFloat: Boolean, codebooks: Array[Double],
            m: Int, ksub: Int): ArrayData = {
    val subDim = codebooks.length / (m * ksub)
    if (v.numElements() != m * subDim)
      throw new IllegalArgumentException(
        s"pqLut: vector dim ${v.numElements()} != m*subDim ${m * subDim}")
    val out = new Array[Double](m * ksub)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ksub) {
        val base = (j * ksub + c) * subDim
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val diff = elem(v, j * subDim + i, isFloat) - codebooks(base + i)
          d += diff * diff
          i += 1
        }
        out(j * ksub + c) = if (java.lang.Double.isNaN(d)) Double.PositiveInfinity else d
        c += 1
      }
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Asymmetric-distance computation: Σ_j lut[j*ksub + codes(j)] — the
    * approximate squared L2 between the (exact) query behind `lut` and
    * the (quantized) candidate behind `codes`. Strictly sequential sum
    * over j, so identical code vectors produce bit-identical distances. */
  def pqAdc(codes: ArrayData, lut: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    if (lut.numElements() != m * ksub)
      throw new IllegalArgumentException(
        s"pqAdc: lut length ${lut.numElements()} != m*ksub ${m * ksub}")
    var d = 0.0
    var j = 0
    while (j < m) {
      val c = codes.getLong(j)
      if (c < 0 || c >= ksub) throw new IllegalArgumentException(
        s"pqAdc: code $c out of range [0,$ksub)")
      d += lut.getDouble(j * ksub + c.toInt)
      j += 1
    }
    d
  }

  /** Top-`n` nearest centroids of `v` by cosine (ties → smaller cell id),
    * over a driver-collected k×dim centroid matrix shipped to executors
    * as codegen reference objects (the MLlib KMeansModel pattern: k×dim
    * doubles, NOT row data). This is what makes IVF cell assignment a
    * map-only PROJECTION — the crossJoin(centroids)+window alternative
    * pays a full-corpus hash exchange just to pick a per-row argmax.
    * A zero/degenerate vector's cosine is NaN → treated as -inf (never
    * preferred), so selection is total and deterministic. */
  def nearestCells(v: ArrayData, isFloat: Boolean, cellIds: Array[Long],
                   centers: Array[Double], n: Int): ArrayData = {
    val k = cellIds.length
    val dim = if (k == 0) 0 else centers.length / k
    // a wrong-dimension vector would otherwise get a plausible-but-wrong
    // cell from a prefix dot product (ragged CENTROIDS already fail
    // loudly at collect time) — reject it
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"nearestCells: vector dim ${v.numElements()} != centroid dim $dim")
    val sims = new Array[Double](k)
    var c = 0
    while (c < k) {
      val base = c * dim
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < dim) {
        val x = elem(v, i, isFloat); val y = centers(base + i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val s = dot / (math.sqrt(na) * math.sqrt(nb))
      sims(c) = if (java.lang.Double.isNaN(s)) Double.NegativeInfinity else s
      c += 1
    }
    val nn = math.min(n, k)
    val out = new Array[Long](nn)
    val taken = new Array[Boolean](k)
    var j = 0
    while (j < nn) {
      var best = -1
      var c2 = 0
      while (c2 < k) {
        if (!taken(c2) && (best < 0 || sims(c2) > sims(best) ||
            (sims(c2) == sims(best) && cellIds(c2) < cellIds(best)))) best = c2
        c2 += 1
      }
      taken(best) = true
      out(j) = cellIds(best)
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** QUANTIZED-grid nearest centroid: argmax over cells of
    * round(cosine·simScale) as a LONG (ties → smaller cell id) — the
    * cross-engine-exact routing of the bucketed facility-location
    * family, where an independent SQL oracle must replay the argmax
    * bit-for-bit. Semantically identical to the `greatest()` fold over
    * per-centroid (s4, −id, id) structs it replaces, but ONE codegen'd
    * method call regardless of |cells| — the struct fold builds
    * |cells| cosine subtrees in a single expression and falls out of
    * codegen past a few hundred centroids (r19 advisory).
    *
    * Exactness contract: the accumulation is the sequential
    * dot/√(na)·√(nb) loop of [[cosine]] with the ROW vector as the
    * left operand (x) and the centroid as the right (y) — the same
    * fp-association the Column form `cosine(vec, typedLit(centroid))`
    * produces — and the rounding is Spark `round(_, 0)`'s
    * BigDecimal.valueOf(x).setScale(0, HALF_UP) (= half away from
    * zero, DuckDB's ROUND), so the quantized sims are bit-identical to
    * the struct fold's `s4` column. A NaN cosine (zero/degenerate
    * vector) quantizes to Long.MinValue — never preferred, selection
    * stays total (the [[nearestCells]] reading; the struct fold's
    * ANSI NaN→long cast THREW there, so this is a strict hardening). */
  /** Per-centroid √(Σy²) with the SAME sequential accumulation order
    * the fused loop used — hoisting the row-invariant centroid norms
    * out of the per-row kernel is free exactness-wise (the product
    * sqrt(na)·norms(c) is bit-identical to sqrt(na)·sqrt(nb)) and
    * saves a third of the per-row multiply-adds. */
  def centroidNorms(cellIds: Array[Long],
                    centers: Array[Double]): Array[Double] = {
    val k = cellIds.length
    val dim = if (k == 0) 0 else centers.length / k
    Array.tabulate(k) { c =>
      val base = c * dim
      var nb = 0.0; var i = 0
      while (i < dim) { val y = centers(base + i); nb += y * y; i += 1 }
      math.sqrt(nb)
    }
  }

  def nearestCellQuantized(v: ArrayData, isFloat: Boolean,
                           cellIds: Array[Long], centers: Array[Double],
                           norms: Array[Double], simScale: Double): Long = {
    val k = cellIds.length
    val dim = if (k == 0) 0 else centers.length / k
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"nearestCellQuantized: vector dim ${v.numElements()} != " +
          s"centroid dim $dim")
    var bestQ = Long.MinValue
    var bestId = Long.MaxValue
    var c = 0
    while (c < k) {
      val base = c * dim
      var dot = 0.0; var na = 0.0
      var i = 0
      while (i < dim) {
        val x = elem(v, i, isFloat); val y = centers(base + i)
        dot += x * y; na += x * x
        i += 1
      }
      val s = dot / (math.sqrt(na) * norms(c))
      val q =
        if (java.lang.Double.isNaN(s)) Long.MinValue
        else java.math.BigDecimal.valueOf(s * simScale)
          .setScale(0, java.math.RoundingMode.HALF_UP)
          .doubleValue().toLong
      if (q > bestQ || (q == bestQ && cellIds(c) < bestId)) {
        bestQ = q
        bestId = cellIds(c)
      }
      c += 1
    }
    bestId
  }

  /** Dense matrix×vector projection with per-row offsets:
    * out[r] = Σ_d m[r·dim + d]·v[d] − offs[r] — the PCA
    * rotation/whitening kernel (the matrix rows are the axes, the
    * offsets the folded mean·axis terms). Strictly sequential
    * accumulation in element order, so results are bit-identical to
    * the HOF `aggregate(zip_with(...))` formulation it replaces —
    * measured ~100× faster (the HOF path interprets a lambda per
    * element per axis; this is dim·rows fused multiply-adds inside
    * whole-stage codegen). */
  def matVec(v: ArrayData, isFloat: Boolean, m: Array[Double],
             offs: Array[Double], dim: Int): ArrayData = {
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"matVec: vector dim ${v.numElements()} != $dim")
    val rows = offs.length
    val out = new Array[Double](rows)
    var r = 0
    while (r < rows) {
      val base = r * dim
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += m(base + i) * elem(v, i, isFloat); i += 1 }
      out(r) = acc - offs(r)
      r += 1
    }
    ArrayData.toArrayData(out)
  }
}
