package graft.functions.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text hot paths.
  *
  * The higher-order-function formulations (`size(filter(split(...)))`,
  * `aggregate(split(text, ""), ...)`) are CodegenFallback in Spark:
  * every row allocates a token array and evaluates lambdas
  * interpreted. These expressions compute the same results in a single
  * char scan with no allocation, and implement `doGenCode` so they
  * fuse into WholeStageCodegen with the surrounding projection —
  * the (b) tier of the custom-operator preference order (compose
  * built-ins < custom Expression < custom physical operator).
  *
  * Semantics parity (locked by PropertySpec tests + the DuckDB oracle):
  *  - token class matches Java regex `\s` exactly (space \t \n \x0B \f \r),
  *    NOT `Character.isWhitespace` (which adds NBSP etc.);
  *  - subword runs are maximal `[a-z0-9]+` over the lowercased string;
  *  - the rolling hash folds UTF-16 code units like the
  *    `aggregate(split(text, ""), ...)` formulation it replaces.
  */
object TextExprUtil {

  /** Standard Jaro–Winkler (prefix scale 0.1, max prefix 4, boost
    * threshold 0.7). Empty strings: both empty → 1, one empty → 0
    * (the DuckDB convention). */
  def jaroWinkler(a: String, b: String): Double = {
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return if (la == lb) 1.0 else 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aFlags = new Array[Boolean](la)
    val bFlags = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bFlags(j) && a.charAt(i) == b.charAt(j)) {
          aFlags(i) = true; bFlags(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars compared in order
    var t = 0
    var j = 0
    i = 0
    while (i < la) {
      if (aFlags(i)) {
        while (!bFlags(j)) j += 1
        if (a.charAt(i) != b.charAt(j)) t += 1
        j += 1
      }
      i += 1
    }
    val half = t / 2
    val jaro = (m.toDouble / la + m.toDouble / lb +
      (m - half).toDouble / m) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    while (l < math.min(4, math.min(la, lb)) &&
      a.charAt(l) == b.charAt(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }

  @inline def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Count of maximal non-whitespace runs (== whitespace token count). */
  def tokenCount(s: UTF8String): Int = {
    val str = s.toString
    var n = 0; var inTok = false; var i = 0
    while (i < str.length) {
      val ws = isWs(str.charAt(i))
      if (!ws && !inTok) n += 1
      inTok = !ws
      i += 1
    }
    n
  }

  /** Count of maximal [a-z0-9]+ runs over the lowercased string. */
  def subwordCount(s: UTF8String): Int = {
    val str = s.toString
    var n = 0; var inTok = false; var i = 0
    while (i < str.length) {
      val c = Character.toLowerCase(str.charAt(i))
      val ok = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      if (ok && !inTok) n += 1
      inTok = ok
      i += 1
    }
    n
  }

  /** Karp-Rabin rolling hash h ← (h·31 + codeunit) mod 1e9+7. */
  def rollingHash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L; var i = 0
    while (i < str.length) {
      h = (h * 31 + str.charAt(i)) % 1000000007L
      i += 1
    }
    h
  }

  /** 64-bit SimHash in one scan: lowercase (same code path as
    * Spark's `lower`), walk whitespace tokens, md5-portable 64-bit
    * hash per token ([[PortableHash.md5_64]] — the first 16 md5 hex
    * chars, so any engine recomputes the same bits from `md5(token)`),
    * ±1 bit votes, sign fold. Bit-identical to the higher-order-function
    * formulation `aggregate(tokenize(text), zip_with votes …)`
    * (equivalence locked in TextExprSpec), ~8× faster because the HOF
    * tree is CodegenFallback and allocates per token per bit.
    */
  def simHash64(s: UTF8String): Long = {
    val str = s.toLowerCase.toString
    val votes = new Array[Int](64)
    val len = str.length
    var i = 0
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(str.charAt(i))) i += 1
      if (i > start) {
        val h = PortableHash.md5_64(str.substring(start, i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    var res = 0L; var b = 0
    while (b < 64) { if (votes(b) > 0) res |= (1L << b); b += 1 }
    res
  }

  /** MinHash signature over a shingle array in one pass — the native
    * twin of `Dedup.minhashSignature(Dedup.shingleHashes(sh), k)`
    * (equivalence locked in TextExprSpec). Per shingle: one md5-portable
    * 32-bit hash ([[PortableHash.md5_32]]) reduced into the Mersenne
    * field p = 2^31−1, then k affine maps (a_i·h + b_i) mod p with
    * md5-derived coefficients a_i = md5_32("mh_a:i") mod (p−1) + 1,
    * b_i = md5_32("mh_b:i") mod p — every quantity recomputable from
    * `md5()` in the DuckDB oracle; sig[i] = running min. The HOF tree
    * evaluates the k·|sh| inner loop interpreted with boxing — this is
    * a primitive-array loop, ~10× on the minhash-LSH pipeline.
    */
  val MinhashP = 2147483647L // 2^31 − 1

  /** Permutation coefficients, md5-derived; cached per k (the gate uses
    * one k per query — a tiny map, computed once per executor). */
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  def minhashPerms(k: Int): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent(k, { kk =>
      val a = new Array[Long](kk)
      val b = new Array[Long](kk)
      var i = 0
      while (i < kk) {
        a(i) = PortableHash.md5_32("mh_a:" + i) % (MinhashP - 1) + 1L
        b(i) = PortableHash.md5_32("mh_b:" + i) % MinhashP
        i += 1
      }
      (a, b)
    })

  def minhashSig(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                 k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    if (n == 0) {
      // array_min([]) is NULL: the HOF formulation yields k nulls
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.fill[Any](k)(null))
    }
    val (a, b) = minhashPerms(k)
    var i = 0
    val sig = Array.fill[Long](k)(Long.MaxValue)
    var s = 0
    while (s < n) {
      val h = PortableHash.md5_32(arr.getUTF8String(s).getBytes) % MinhashP
      i = 0
      while (i < k) {
        val v = (h * a(i) + b(i)) % MinhashP // < 2^62, no overflow
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  /** Sorted distinct md5-64 hash set of a string array — the compact
    * proxy for exact set intersection/union arithmetic: downstream
    * joins/shuffles carry 8 bytes per element instead of the string,
    * and [[sortedIntersectCount]] runs a primitive merge instead of a
    * per-pair UTF8 hash table. md5_64 is the repo's portable hash
    * (same one SimHash folds), so a 64-bit collision between two
    * DIFFERENT shingles of one comparison's union — the only event
    * that could alter a count — is ~|union|²/2⁶⁵ ≈ 1e-14 per pair. */
  def hashSet(arr: org.apache.spark.sql.catalyst.util.ArrayData):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = PortableHash.md5_64(arr.getUTF8String(i).getBytes)
      i += 1
    }
    java.util.Arrays.sort(hs)
    // dedup in place (input shingle arrays are already distinct, so
    // this only collapses the ~1e-15/doc intra-doc hash collision —
    // keeping |set| arithmetic exact under the hashed representation)
    var w = 0
    i = 0
    while (i < n) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (w == n) hs else java.util.Arrays.copyOf(hs, w))
  }

  /** |a ∩ b| of two SORTED distinct long arrays — one merge pass. */
  def sortedIntersectCount(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** The complete k-round team-draft interleave of ONE query's two
    * ranked runs — the whole greedy draft in a single pass over the
    * candidate array, replacing k rounds of join/anti-join/top-1 jobs
    * (the per-query state is independent, so the draft is
    * embarrassingly parallel across queries; Hybrid.teamDraftRounds
    * keeps the round-by-round form as the equivalence-tested spec).
    *
    * cands: array<struct<isA: boolean, rnk: int, id: idType>> — rnk is
    * the per-team rank (unique within a team). Each round t picks the
    * minimum remaining candidate by (team != preferred, rnk, id) where
    * preferred = the team with fewer picks, md5("td:<qid>:<t>") coin on
    * ties — exactly the unrolled-oracle arithmetic. A doc taken by one
    * team is dead in both. Strict total order → input-order-invariant.
    */
  def teamDraft(qid: UTF8String, cands: org.apache.spark.sql.catalyst.util.ArrayData,
                k: Int, idType: DataType): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = cands.numElements()
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(idType)
    val dead = new Array[Boolean](n)
    val takenIds = new java.util.HashSet[Any]()
    val out = new scala.collection.mutable.ArrayBuffer[Any](math.min(k, n))
    val q = qid.toString
    var na = 0; var nb = 0
    var t = 1
    var exhausted = false
    while (t <= k && !exhausted) {
      val prefA =
        if (na < nb) true
        else if (na > nb) false
        else (PortableHash.md5_32("td:" + q + ":" + t) & 1L) == 0L
      var best = -1
      var bestNp = 2; var bestRnk = Int.MaxValue; var bestId: Any = null
      var i = 0
      while (i < n) {
        if (!dead(i)) {
          val row = cands.getStruct(i, 3)
          val id = row.get(2, idType)
          if (takenIds.contains(id)) dead(i) = true
          else {
            val np = if (row.getBoolean(0) == prefA) 0 else 1
            val rnk = row.getInt(1)
            if (best < 0 || np < bestNp || (np == bestNp && (rnk < bestRnk ||
                (rnk == bestRnk && ord.compare(id, bestId) < 0)))) {
              best = i; bestNp = np; bestRnk = rnk; bestId = id
            }
          }
        }
        i += 1
      }
      if (best < 0) exhausted = true
      else {
        dead(best) = true
        takenIds.add(bestId)
        val isA = cands.getStruct(best, 3).getBoolean(0)
        if (isA) na += 1 else nb += 1
        out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](t, bestId,
            UTF8String.fromString(if (isA) "A" else "B")))
        t += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Fraction of n-gram occurrences taken by the single most frequent
    * word n-gram (Gopher-style repetition signal: a page whose top
    * bigram covers >18% of bigrams is boilerplate/spam). One scan over
    * the lowercased whitespace tokens + one open-addressing pass over
    * the n-gram strings; returns max_count / total_ngrams as double,
    * 0.0 when the text has fewer than n tokens. Tokenization parity
    * with [[wordShingles]] / the DuckDB oracle
    * (`string_split_regex(lower(text), '\s+')` minus empties).
    */
  def topNgramFrac(s: UTF8String, n: Int): Double = {
    val str = s.toLowerCase.toString
    val toks = new scala.collection.mutable.ArrayBuffer[String]()
    val len = str.length
    var i = 0
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(str.charAt(i))) i += 1
      if (i > start) toks += str.substring(start, i)
    }
    val total = toks.length - n + 1
    if (total <= 0) return 0.0
    val counts = new java.util.HashMap[String, Int]()
    var maxC = 0
    var j = 0
    val sb = new java.lang.StringBuilder()
    while (j < total) {
      sb.setLength(0)
      var m = 0
      while (m < n) {
        if (m > 0) sb.append(' ')
        sb.append(toks(j + m))
        m += 1
      }
      val c = counts.merge(sb.toString, 1, (a, b) => a + b)
      if (c > maxC) maxC = c
      j += 1
    }
    maxC.toDouble / total
  }

  /** Distinct word n-gram shingles in one scan — the native twin of
    * `Dedup.shingles` (equivalence locked in TextExprSpec), preserving
    * its edge semantics exactly: whitespace tokens of the lowercased
    * string; zero tokens → [""] (concat_ws over nulls); fewer than n
    * tokens → one shingle of all tokens (element_at past the end is
    * NULL, which concat_ws skips); distinct keeps first occurrence
    * (array_distinct order).
    */
  def wordShingles(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toLowerCase.toString
    val toks = new scala.collection.mutable.ArrayBuffer[String]()
    val len = str.length
    var i = 0
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(str.charAt(i))) i += 1
      if (i > start) toks += str.substring(start, i)
    }
    val out = new java.util.LinkedHashSet[String]()
    if (toks.isEmpty) out.add("")
    else if (toks.length < n) out.add(toks.mkString(" "))
    else {
      var j = 0
      val last = toks.length - n
      val sb = new java.lang.StringBuilder()
      while (j <= last) {
        sb.setLength(0)
        var m = 0
        while (m < n) {
          if (m > 0) sb.append(' ')
          sb.append(toks(j + m))
          m += 1
        }
        out.add(sb.toString)
        j += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var p = 0
    while (it.hasNext) { arr(p) = UTF8String.fromString(it.next()); p += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  /** NON-distinct word n-gram occurrences in document order — the
    * multiset sibling of [[wordShingles]] (which dedups for MinHash):
    * one occurrence row per position, docs with fewer than `n` tokens
    * yield an EMPTY array (no whole-doc fallback, no "" sentinel) —
    * feature counting wants frequencies, not set membership. */
  def wordNgrams(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toLowerCase.toString
    val toks = new scala.collection.mutable.ArrayBuffer[String]()
    val len = str.length
    var i = 0
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(str.charAt(i))) i += 1
      if (i > start) toks += str.substring(start, i)
    }
    val count = math.max(0, toks.length - n + 1)
    val arr = new Array[Any](count)
    val sb = new java.lang.StringBuilder()
    var j = 0
    while (j < count) {
      sb.setLength(0)
      var m = 0
      while (m < n) {
        if (m > 0) sb.append(' ')
        sb.append(toks(j + m))
        m += 1
      }
      arr(j) = UTF8String.fromString(sb.toString)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  /** Per-document L1-normalized hashed 1+2-gram bucket vector in ONE
    * scan — the [[wordNgrams]]+md5+groupBy+window pipeline of
    * [[graft.operators.QualityLr.features]] collapsed into a codegen
    * expression: tokenize once, hash every 1- and 2-gram occurrence
    * through [[PortableHash.md5_32]] mod `buckets` (bit-for-bit
    * `pmod(Sampling.md5Bucket(gram), buckets)`), count per bucket,
    * and emit (bucket, x_micros = HALF_UP(cnt·1e6/total)) structs for
    * the touched buckets, bucket-ascending. The rounding replays
    * Catalyst's double `round` (Scala `BigDecimal(d)` HALF_UP), so
    * the result rows equal the exploded formulation's exactly —
    * QualityLrSpec locks the equivalence. Docs with zero ngrams yield
    * an empty array (the wordNgrams `< n tokens` convention). */
  def hashedNgramFeatures(s: UTF8String, buckets: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toLowerCase.toString
    val toks = new scala.collection.mutable.ArrayBuffer[String]()
    val len = str.length
    var i = 0
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(str.charAt(i))) i += 1
      if (i > start) toks += str.substring(start, i)
    }
    val cnts = new Array[Long](buckets)
    var tot = 0L
    val sb = new java.lang.StringBuilder()
    var n = 1
    while (n <= 2) {
      val count = math.max(0, toks.length - n + 1)
      var j = 0
      while (j < count) {
        sb.setLength(0)
        var m = 0
        while (m < n) {
          if (m > 0) sb.append(' ')
          sb.append(toks(j + m))
          m += 1
        }
        cnts((PortableHash.md5_32(sb.toString) % buckets).toInt) += 1
        tot += 1
        j += 1
      }
      n += 1
    }
    var nz = 0
    i = 0
    while (i < buckets) { if (cnts(i) > 0) nz += 1; i += 1 }
    val out = new Array[Any](nz)
    i = 0
    var p = 0
    while (i < buckets) {
      if (cnts(i) > 0) {
        // replay round(cnt * 1e6 / tot) for doubles: Catalyst Round =
        // Scala BigDecimal(d).setScale(0, HALF_UP)
        val x = BigDecimal(cnts(i).toDouble * 1e6 / tot.toDouble)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble.toLong
        out(p) = org.apache.spark.sql.catalyst.InternalRow(i.toLong, x)
        p += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-document character-bigram counts in ONE scan — the
    * split('')→transform→explode pipeline of
    * [[graft.operators.TextAnalysis.bigramCondEntropy]] collapsed:
    * consecutive CODE-POINT pairs (Java regex split("") does not
    * split surrogate pairs — same unit) counted into a per-doc map,
    * emitted as array<struct<bg, n12>>. Downstream sums of n12 equal
    * the exploded occurrence counts exactly; docs with < 2 code
    * points yield an empty array (the `size(cs) >= 2` guard). */
  def charBigramCounts(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toString
    val m = new java.util.LinkedHashMap[String, java.lang.Long]()
    val n = str.length
    if (n >= 2) {
      var prevStart = 0
      var j = Character.charCount(str.codePointAt(0))
      while (j < n) {
        val curLen = Character.charCount(str.codePointAt(j))
        val bg = str.substring(prevStart, j + curLen)
        val c = m.get(bg)
        m.put(bg, if (c == null) 1L else c + 1L)
        prevStart = j
        j += curLen
      }
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var p = 0
    while (it.hasNext) {
      val e = it.next()
      out(p) = org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(e.getKey), e.getValue.longValue())
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Canonicalized windowed co-occurrence pairs: each token pairs with
    * its ≤ `window` successors, (min, max) by UTF8String binary order
    * (exactly Spark's least/greatest on strings), joined with a single
    * space — tokens contain no whitespace, so the join is reversible.
    * The PMI extraction loop (TextAnalysis.pmiPairs) in one codegen
    * scan; the nested-transform HOF twin is the executable spec. */
  def wordPairs(s: UTF8String,
                window: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toLowerCase.toString
    val toks = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    val len = str.length
    var i = 0
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(str.charAt(i))) i += 1
      if (i > start) toks += UTF8String.fromString(str.substring(start, i))
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var p = 0
    while (p < toks.length - 1) {
      val jmax = math.min(p + window, toks.length - 1)
      var j = p + 1
      while (j <= jmax) {
        val a = toks(p); val b = toks(j)
        val (x, y) = if (a.compareTo(b) <= 0) (a, b) else (b, a)
        out += UTF8String.concat(x, UTF8String.fromString(" "), y)
        j += 1
      }
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** All i<j element pairs of an array as struct rows, one primitive
    * loop — the market-basket pair expansion (Assoc.rules). Pair
    * order follows array order: (arr(a), arr(b)) for every a < b. */
  def arrayCombos(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                  et: DataType): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    val elems = arr.toObjectArray(et)
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var a = 0
    while (a < n - 1) {
      var b = a + 1
      while (b < n) {
        out(k) = org.apache.spark.sql.catalyst.InternalRow(elems(a), elems(b))
        k += 1
        b += 1
      }
      a += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Margin fold of one hashed-feature array under a dense weight
    * vector: Σ round(x_micros · w[bucket] / 1e6) — the GD-loop hot
    * expression of [[graft.operators.QualityLr.train]]. Arithmetic
    * replicates the HOF spec exactly: long product, double division
    * by 1e6, Spark's HALF_UP double round (BigDecimal.valueOf), long
    * accumulate; an absent bucket weighs 0. */
  def hashedMargin(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                   w: Array[Long]): Long = {
    var acc = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val f = arr.getStruct(i, 2)
      val b = f.getLong(0)
      val wv = if (b >= 0 && b < w.length) w(b.toInt) else 0L
      if (wv != 0L)
        acc += java.math.BigDecimal.valueOf(f.getLong(1) * wv / 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      i += 1
    }
    acc
  }

  /** [[arrayCombos]] plus the single-item rows `(e, null)` and ONE
    * basket marker `(null, null)` — the tagged union that lets a
    * market-basket miner count pair supports, item supports and the
    * basket total in ONE aggregation pass (null-ness of j / i is the
    * tag). Null elements are skipped: as a pair side or a single they
    * would forge a tag, e.g. a second `(null, null)` marker. Same
    * one-loop codegen shape. */
  def arrayCombosTagged(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                        et: DataType): org.apache.spark.sql.catalyst.util.ArrayData = {
    val elems = arr.toObjectArray(et).filter(_ != null)
    val n = elems.length
    val out = new Array[Any](n * (n - 1) / 2 + n + 1)
    var k = 0
    var a = 0
    while (a < n - 1) {
      var b = a + 1
      while (b < n) {
        out(k) = org.apache.spark.sql.catalyst.InternalRow(elems(a), elems(b))
        k += 1
        b += 1
      }
      a += 1
    }
    a = 0
    while (a < n) {
      out(k) = org.apache.spark.sql.catalyst.InternalRow(elems(a), null)
      k += 1
      a += 1
    }
    out(k) = org.apache.spark.sql.catalyst.InternalRow(null, null)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

}

abstract class TextScanExpression extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  protected def utilMethod: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expr.TextExprUtil.$utilMethod($c)")
}

/** `token_count(text)`: whitespace-token count, single scan, codegen. */
case class TokenCountExpr(child: Expression) extends TextScanExpression {
  override def dataType: DataType = IntegerType
  override protected def utilMethod: String = "tokenCount"
  override protected def nullSafeEval(v: Any): Any =
    TextExprUtil.tokenCount(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): TokenCountExpr = copy(c)
}

/** `subword_count(text)`: maximal alnum-run count, codegen. */
case class SubwordCountExpr(child: Expression) extends TextScanExpression {
  override def dataType: DataType = IntegerType
  override protected def utilMethod: String = "subwordCount"
  override protected def nullSafeEval(v: Any): Any =
    TextExprUtil.subwordCount(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): SubwordCountExpr = copy(c)
}

/** `rolling_hash(text)`: Karp-Rabin document fingerprint, codegen. */
case class RollingHashExpr(child: Expression) extends TextScanExpression {
  override def dataType: DataType = LongType
  override protected def utilMethod: String = "rollingHash"
  override protected def nullSafeEval(v: Any): Any =
    TextExprUtil.rollingHash(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): RollingHashExpr = copy(c)
}

/** `simhash64(text)`: 64-bit SimHash over whitespace tokens, codegen. */
case class SimHash64Expr(child: Expression) extends TextScanExpression {
  override def dataType: DataType = LongType
  override protected def utilMethod: String = "simHash64"
  override protected def nullSafeEval(v: Any): Any =
    TextExprUtil.simHash64(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): SimHash64Expr = copy(c)
}

/** `word_shingles(text, n)`: distinct word n-grams, single scan, codegen. */
case class WordShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextExprUtil.wordShingles(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expr.TextExprUtil.wordShingles($c, $n)")
  override protected def withNewChildInternal(c: Expression): WordShinglesExpr =
    copy(child = c)
}

/** `word_ngrams(text, n)`: NON-distinct word n-gram occurrences in
  * document order (empty array when the doc has < n tokens) — the
  * frequency-feature extractor behind DSIR's hashed buckets. Codegen;
  * the HOF twin lives in `Dsir.featuresHof` (equivalence-tested). */
case class WordNgramsExpr(child: Expression, n: Int) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextExprUtil.wordNgrams(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expr.TextExprUtil.wordNgrams($c, $n)")
  override protected def withNewChildInternal(c: Expression): WordNgramsExpr =
    copy(child = c)
}

/** `hashed_ngram_features(text, buckets)`: per-doc L1-normalized
  * hashed 1+2-gram bucket vector as array<struct<bucket, x_micros>>,
  * single scan, codegen — see [[TextExprUtil.hashedNgramFeatures]]. */
case class HashedNgramFeaturesExpr(child: Expression, buckets: Int)
    extends UnaryExpression {
  require(buckets > 0, s"buckets must be positive, got $buckets")
  override def nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bucket", LongType,
          nullable = false),
        org.apache.spark.sql.types.StructField("x_micros", LongType,
          nullable = false))), containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextExprUtil.hashedNgramFeatures(v.asInstanceOf[UTF8String], buckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expr.TextExprUtil.hashedNgramFeatures($c, $buckets)")
  override protected def withNewChildInternal(c: Expression): HashedNgramFeaturesExpr =
    copy(child = c)
}

/** `char_bigram_counts(text)`: per-doc character-bigram count map as
  * array<struct<bg, n12>>, single scan, codegen — see
  * [[TextExprUtil.charBigramCounts]]. */
case class CharBigramCountsExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bg",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("n12", LongType,
          nullable = false))), containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextExprUtil.charBigramCounts(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expr.TextExprUtil.charBigramCounts($c)")
  override protected def withNewChildInternal(c: Expression): CharBigramCountsExpr =
    copy(child = c)
}

/** `top_ngram_frac(text, n)`: share of n-gram occurrences held by the
  * most frequent word n-gram, single scan, codegen. The "executable
  * spec" twin is the explode + groupBy + max/sum DataFrame formulation
  * (TextExprSpec) — the same shape the DuckDB oracle runs. */
case class TopNgramFracExpr(child: Expression, n: Int) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override protected def nullSafeEval(v: Any): Any =
    TextExprUtil.topNgramFrac(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expr.TextExprUtil.topNgramFrac($c, $n)")
  override protected def withNewChildInternal(c: Expression): TopNgramFracExpr =
    copy(child = c)
}

/** `minhash_sig(shingles, k)`: k-wide MinHash signature of an
  * array<string> of shingles, single primitive loop, codegen. */
case class MinHashSigExpr(child: Expression, k: Int) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = true)
  override protected def nullSafeEval(v: Any): Any =
    TextExprUtil.minhashSig(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expr.TextExprUtil.minhashSig($c, $k)")
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr =
    copy(child = c)
}

/** `hash_set(arr)`: sorted distinct md5-64 hashes of a string array —
  * the 8-byte-per-element proxy the dedup verify pipelines hydrate,
  * broadcast and intersect instead of the shingle strings (the HOF
  * twin `array_sort(array_distinct(transform(sh, md5-64)))` is the
  * equivalence-tested spec in TextExprSpec). Codegen. */
case class HashSetExpr(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextExprUtil.hashSet(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expr.TextExprUtil.hashSet($c)")
  override protected def withNewChildInternal(c: Expression): HashSetExpr =
    copy(child = c)
}

/** `sorted_intersect_count(a, b)`: |a ∩ b| of two sorted distinct
  * long arrays in one primitive merge — replaces
  * `size(array_intersect(a, b))`'s per-pair hash table in the dedup
  * exact-verify hot loop (HOF twin equivalence-tested). Codegen. */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextExprUtil.sortedIntersectCount(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expr.TextExprUtil.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedIntersectCountExpr = copy(l, r)
}

/** `team_draft(qid, cands, k)`: the full k-round team-draft interleave
  * of one query's candidate array in a single codegen pass — see
  * [[TextExprUtil.teamDraft]]. cands must be
  * array<struct<isA: boolean, rnk: int, id: _>>; returns
  * array<struct<pos: int, id: _, team: string>>. */
case class TeamDraftExpr(qid: Expression, cands: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = qid
  override def right: Expression = cands
  private def idType: DataType = cands.dataType
    .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    .asInstanceOf[org.apache.spark.sql.types.StructType](2).dataType
  override def nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pos", IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("id", idType, nullable = false),
        org.apache.spark.sql.types.StructField("team",
          org.apache.spark.sql.types.StringType, nullable = false))),
      containsNull = false)
  override protected def nullSafeEval(q: Any, c: Any): Any =
    TextExprUtil.teamDraft(q.asInstanceOf[UTF8String],
      c.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k, idType)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = ctx.addReferenceObj("idtype", idType,
      "org.apache.spark.sql.types.DataType")
    defineCodeGen(ctx, ev, (q, c) =>
      s"graft.functions.expr.TextExprUtil.teamDraft($q, $c, $k, $et)")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): TeamDraftExpr = copy(qid = l, cands = r)
}

/** `word_pairs(text, window)`: canonicalized windowed co-occurrence
  * pairs as "min max" strings, one codegen scan — the PMI extraction
  * hot loop (TextAnalysis.pmiPairs keeps the nested-transform HOF as
  * its equivalence-tested executable spec). */
case class WordPairsExpr(child: Expression, window: Int)
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextExprUtil.wordPairs(v.asInstanceOf[UTF8String], window)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expr.TextExprUtil.wordPairs($c, $window)")
  override protected def withNewChildInternal(c: Expression): WordPairsExpr =
    copy(child = c)
}

/** `array_combos(arr)`: all i<j element pairs of an array as
  * array<struct<i, j>>, one primitive loop, codegen — the
  * market-basket pair expansion hot loop. The nested
  * transform/slice/flatten HOF it replaces is CodegenFallback (every
  * row interprets two lambda levels and allocates a slice per
  * element); Assoc keeps that HOF as the equivalence-tested
  * executable spec (EventsDriftSpec). */
case class ArrayCombosExpr(child: Expression) extends UnaryExpression {
  private def elemOf(t: DataType): org.apache.spark.sql.types.ArrayType =
    t.asInstanceOf[org.apache.spark.sql.types.ArrayType]
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: org.apache.spark.sql.types.ArrayType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"array_combos requires an array, got ${t.sql}")
    }
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = {
    val at = elemOf(child.dataType)
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("i", at.elementType, at.containsNull),
        org.apache.spark.sql.types.StructField("j", at.elementType, at.containsNull))),
      containsNull = false)
  }
  override protected def nullSafeEval(v: Any): Any =
    TextExprUtil.arrayCombos(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      elemOf(child.dataType).elementType)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = ctx.addReferenceObj("etype", elemOf(child.dataType).elementType,
      "org.apache.spark.sql.types.DataType")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expr.TextExprUtil.arrayCombos($c, $et)")
  }
  override protected def withNewChildInternal(c: Expression): ArrayCombosExpr =
    copy(child = c)
}

/** `hashed_margin(fs, w)`: Σ round(x_micros · w[bucket] / 1e6) over a
  * [[HashedNgramFeaturesExpr]] array — one codegen loop with the GD
  * weight vector shipped via `addReferenceObj`, so the generated
  * source is IDENTICAL across gradient iterations (the PQ-kernel
  * lesson: a `typedLit` weight-map literal re-analyzes and re-compiles
  * the stage every round). The `aggregate`-HOF twin stays in
  * [[graft.operators.QualityLr]]'s spec as the executable contract. */
case class HashedMarginExpr(child: Expression, w: Array[Long])
    extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StructType(fs), _)
        if fs.length == 2 && fs.forall(_.dataType == LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hashed_margin requires array<struct<long,long>>, got ${t.sql}")
    }
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    TextExprUtil.hashedMargin(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("lrW", w, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expr.TextExprUtil.hashedMargin($c, $wRef)")
  }
  override protected def withNewChildInternal(c: Expression): HashedMarginExpr =
    copy(child = c)
}

/** `array_combos_tagged(arr)`: [[ArrayCombosExpr]]'s pair expansion
  * PLUS the `(e, null)` single-item rows and one `(null, null)` basket
  * marker — so one explode + one aggregation count pair supports, item
  * supports and the basket total together (the j/i null-ness is the
  * tag; null elements are skipped, so the tag is unambiguous for any
  * input). One primitive loop, codegen. */
case class ArrayCombosTaggedExpr(child: Expression) extends UnaryExpression {
  private def elemOf(t: DataType): org.apache.spark.sql.types.ArrayType =
    t.asInstanceOf[org.apache.spark.sql.types.ArrayType]
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: org.apache.spark.sql.types.ArrayType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"array_combos_tagged requires an array, got ${t.sql}")
    }
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = {
    val at = elemOf(child.dataType)
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("i", at.elementType, nullable = true),
        org.apache.spark.sql.types.StructField("j", at.elementType, nullable = true))),
      containsNull = false)
  }
  override protected def nullSafeEval(v: Any): Any =
    TextExprUtil.arrayCombosTagged(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      elemOf(child.dataType).elementType)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = ctx.addReferenceObj("etype", elemOf(child.dataType).elementType,
      "org.apache.spark.sql.types.DataType")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.expr.TextExprUtil.arrayCombosTagged($c, $et)")
  }
  override protected def withNewChildInternal(c: Expression): ArrayCombosTaggedExpr =
    copy(child = c)
}

/** Column-level entry points + SQL registration. */
/** `jaro_winkler(a, b)`: the standard Jaro–Winkler similarity
  * (Winkler 1990 — prefix scale 0.1 up to 4 chars, boost threshold
  * 0.7), codegen. Semantics match DuckDB's
  * `jaro_winkler_similarity` on ASCII inputs (locked by golden
  * values in TextExprSpec and the qX_er_fuzzy oracle), so
  * fuzzy-linkage gates replay cross-engine. */
case class JaroWinklerExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler requires two strings, got ${l.sql} and ${r.sql}")
    }
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextExprUtil.jaroWinkler(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expr.TextExprUtil.jaroWinkler($a.toString(), $b.toString())")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): JaroWinklerExpr = copy(left = l, right = r)
}

object TextExprs {
  import ColumnBridge.{toColumn, toExpr}
  def jaro_winkler(a: Column, b: Column): Column =
    toColumn(JaroWinklerExpr(toExpr(a), toExpr(b)))

  def token_count(c: Column): Column = toColumn(TokenCountExpr(toExpr(c)))
  def subword_count(c: Column): Column = toColumn(SubwordCountExpr(toExpr(c)))
  def rolling_hash(c: Column): Column = toColumn(RollingHashExpr(toExpr(c)))
  def simhash64(c: Column): Column = toColumn(SimHash64Expr(toExpr(c)))
  def minhash_sig(c: Column, k: Int): Column = toColumn(MinHashSigExpr(toExpr(c), k))
  def word_shingles(c: Column, n: Int): Column = toColumn(WordShinglesExpr(toExpr(c), n))
  def word_ngrams(c: Column, n: Int): Column = toColumn(WordNgramsExpr(toExpr(c), n))
  def hashed_ngram_features(c: Column, buckets: Int): Column =
    toColumn(HashedNgramFeaturesExpr(toExpr(c), buckets))
  def char_bigram_counts(c: Column): Column =
    toColumn(CharBigramCountsExpr(toExpr(c)))
  def word_pairs(c: Column, window: Int): Column =
    toColumn(WordPairsExpr(toExpr(c), window))
  def array_combos(c: Column): Column = toColumn(ArrayCombosExpr(toExpr(c)))
  def array_combos_tagged(c: Column): Column =
    toColumn(ArrayCombosTaggedExpr(toExpr(c)))
  def hashed_margin(c: Column, w: Array[Long]): Column =
    toColumn(HashedMarginExpr(toExpr(c), w))
  def hash_set(c: Column): Column = toColumn(HashSetExpr(toExpr(c)))
  def team_draft(qid: Column, cands: Column, k: Int): Column =
    toColumn(TeamDraftExpr(toExpr(qid), toExpr(cands), k))
  def sorted_intersect_count(a: Column, b: Column): Column =
    toColumn(SortedIntersectCountExpr(toExpr(a), toExpr(b)))
  def top_ngram_frac(c: Column, n: Int): Column = toColumn(TopNgramFracExpr(toExpr(c), n))

  /** Register as SQL functions on a session: the
    * [[graft.GraftExtensions.functions]] list. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftExtensions.functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
