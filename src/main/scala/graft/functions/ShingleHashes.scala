package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Fused tokenize → word-k-gram → 32-bit-md5 pipeline, one JVM call per
  * document.
  *
  * Semantically identical to the composed built-ins
  * `transform(shingles(tokens(text), k), hex32)` (and to the DuckDB oracle
  * `list_transform(shingles, s -> ('0x'||substr(md5(s),1,8))::BIGINT)`),
  * but those run thousands of *interpreted* higher-order-lambda
  * invocations per document — the lambda interpreter, not the hashing,
  * dominates (~10× on the dedup benchmarks). A single typed function per
  * document keeps the scan codegen'd around it and the hot loop JIT'd.
  *
  * Tokenizer contract (must stay in sync with TextOps.tokens and the SQL
  * fragments in SparkEntry): lowercase, split on `[^a-z0-9]+`, drop
  * empties; shingle = k tokens joined by single spaces; hash = first 8 hex
  * chars of md5(shingle) as a long. Docs with fewer than k tokens yield an
  * empty array.
  */
object ShingleHashes {

  private val splitRe = java.util.regex.Pattern.compile("[^a-z0-9]+")

  /** The kernel's tokenization, shared with JVM-side callers — identical
    * to [[graft.ops.TextOps.tokens]] (the specs pin the parity).
    */
  def tokenize(text: String): Array[String] =
    if (text == null) Array.empty[String]
    else splitRe.split(text.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)

  def hashes(text: String, k: Int, distinct: Boolean): Array[Long] =
    hashesImpl(text, k, distinct, wide = false)

  /** 63-bit variant for term-IDENTITY keys (posting tables, LM gram
    * counts): md5 bytes 0–7 with the top bit cleared, so the value is
    * always a non-negative BIGINT that DuckDB reproduces with plain
    * signed arithmetic (`(hi & 0x7fffffff) * 2^32 + lo` — see
    * SparkEntry.sqlHex64). A 32-bit key birthday-collides ~1.1 M term
    * pairs at a 100 M-term vocabulary, silently merging tf/df across
    * unrelated terms; at 63 bits the expected collision count at the
    * same vocabulary is ~5e-4. Same 8-byte key width on the wire, so
    * the shuffle cost is identical. Sketch semantics (minhash, simhash,
    * DSIR buckets) deliberately stay on the 32-bit [[hashes]] — there
    * the 32-bit space IS the spec.
    */
  def hashes64(text: String, k: Int, distinct: Boolean): Array[Long] =
    hashesImpl(text, k, distinct, wide = true)

  private def hashesImpl(
      text: String, k: Int, distinct: Boolean, wide: Boolean): Array[Long] = {
    if (text == null) return Array.empty[Long]
    val toks = splitRe.split(text.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
    if (toks.length < k) return Array.empty[Long]
    val md = MessageDigest.getInstance("MD5")
    val n = toks.length - k + 1
    val out = new Array[Long](n)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
      out(i) =
        if (wide)
          ((d(0) & 0x7fL) << 56) | ((d(1) & 0xffL) << 48) |
            ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
            ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
            ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        else
          ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    if (distinct) {
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      out.foreach(seen.add(_))
      val arr = new Array[Long](seen.size)
      var idx = 0
      val it = seen.iterator()
      while (it.hasNext) { arr(idx) = it.next(); idx += 1 }
      arr
    } else out
  }

  /** Column form: array<long> of shingle hashes. `wide = true` selects
    * the 63-bit term-identity keys of [[hashes64]].
    */
  def apply(text: Column, k: Int, distinct: Boolean,
      wide: Boolean = false): Column = {
    val f =
      if (wide) udf((s: String) => hashes64(s, k, distinct))
      else udf((s: String) => hashes(s, k, distinct))
    f(text)
  }

  /** 63-bit term-identity hash of one token string — byte-identical to
    * one element of [[hashes64]] (md5 bytes 0–7, top bit cleared).
    */
  private def md5Wide(md: MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    ((d(0) & 0x7fL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }

  /** Fused bigram-occurrence kernel for the LM scorers: for documents
    * with ≥ 2 tokens, entry i (0-based) is
    * (h2 = hashes64 of the bigram at i, h1 = token i, hn = token i+1) —
    * exactly the rows `arrays_zip(hashes64(text,2,false),
    * slice(hashes64(text,1,false), 1, n-1), slice(..., 2, n-1))`
    * produces (empty array below 2 tokens, so an explode consumer drops
    * the same documents the old `size >= 2` filter did). One tokenize
    * pass and one md5 per gram, instead of three separate udf
    * evaluations per document (the h2s/h1s/filter triple re-tokenized
    * and re-hashed the unigrams twice — measured ~40% of the t11/t23
    * kernel time at sf0.1).
    */
  def bigramTriples64(text: String): Array[(Long, Long, Long)] = {
    if (text == null) return Array.empty
    val toks = tokenize(text)
    val n = toks.length
    if (n < 2) return Array.empty
    val md = MessageDigest.getInstance("MD5")
    val uni = new Array[Long](n)
    var i = 0
    while (i < n) { uni(i) = md5Wide(md, toks(i)); i += 1 }
    val out = new Array[(Long, Long, Long)](n - 1)
    i = 0
    while (i < n - 1) {
      out(i) = (md5Wide(md, toks(i) + " " + toks(i + 1)), uni(i), uni(i + 1))
      i += 1
    }
    out
  }

  /** Column form of [[bigramTriples64]]: array<struct<_1,_2,_3>> of
    * (h2, h1, hn) 63-bit hashes per bigram position.
    */
  def bigramTriples64Col(text: Column): Column = {
    val f = udf((s: String) => bigramTriples64(s))
    f(text)
  }

  /** Per-document term-frequency kernel over 63-bit term-identity
    * hashes: (hash, occurrences) per distinct hashed token, first-
    * occurrence order. Exactly the rows
    * `explode(hashes64(text,1,false)) groupBy (doc, term) count`
    * produces for one document — hash collisions inside a document
    * merge identically in both forms — but computed map-side in the
    * kernel, so the (doc, term) occurrence explode and its corpus-wide
    * hash aggregation (the top of the t22 executor profile) disappear
    * from the plan. This is map-side pre-aggregation taken to its
    * limit: at any corpus size the posting-table build becomes
    * embarrassingly parallel with zero shuffle.
    */
  def termCounts64(text: String): Array[(Long, Long)] = {
    if (text == null) return Array.empty
    val toks = tokenize(text)
    if (toks.isEmpty) return Array.empty
    val md = MessageDigest.getInstance("MD5")
    val m = new java.util.LinkedHashMap[java.lang.Long, Array[Long]]()
    var i = 0
    while (i < toks.length) {
      val h = java.lang.Long.valueOf(md5Wide(md, toks(i)))
      val slot = m.get(h)
      if (slot == null) m.put(h, Array(1L)) else slot(0) += 1L
      i += 1
    }
    val out = new Array[(Long, Long)](m.size)
    var idx = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(idx) = (e.getKey.longValue(), e.getValue()(0))
      idx += 1
    }
    out
  }

  def termCounts64Col(text: Column): Column = {
    val f = udf((s: String) => termCounts64(s))
    f(text)
  }

  /** Fused winnowing-fingerprint kernel: the distinct minima of every
    * `window` consecutive k-gram hashes, in first-occurrence order —
    * exactly `array_distinct(transform(sequence(1, n-window+1),
    * i => array_min(slice(hashes(text,k), i, window))))`, computed in
    * one pass instead of a second udf evaluation for the size
    * pre-filter plus an O(len·window) interpreted slice/min chain.
    * Empty below `window` k-grams (the old `size >= window` filter).
    */
  def winnowFps(text: String, k: Int, window: Int): Array[Long] = {
    val hs = hashes(text, k, distinct = false)
    if (hs.length < window) return Array.empty[Long]
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= hs.length - window) {
      var m = Long.MaxValue
      var j = i
      while (j < i + window) { if (hs(j) < m) m = hs(j); j += 1 }
      seen.add(m)
      i += 1
    }
    val out = new Array[Long](seen.size)
    var idx = 0
    val it = seen.iterator()
    while (it.hasNext) { out(idx) = it.next(); idx += 1 }
    out
  }

  def winnowFpsCol(text: Column, k: Int, window: Int): Column = {
    val f = udf((s: String) => winnowFps(s, k, window))
    f(text)
  }

  /** Per-document term-frequency kernel over token STRINGS:
    * (token, occurrences) per distinct token, first-occurrence order —
    * the string-keyed twin of [[termCounts64]] for operators whose
    * output carries the term text (tf-idf, NB classifier).
    */
  def termCountsStr(text: String): Array[(String, Long)] = {
    if (text == null) return Array.empty
    val toks = tokenize(text)
    if (toks.isEmpty) return Array.empty
    val m = new java.util.LinkedHashMap[String, Array[Long]]()
    var i = 0
    while (i < toks.length) {
      val slot = m.get(toks(i))
      if (slot == null) m.put(toks(i), Array(1L)) else slot(0) += 1L
      i += 1
    }
    val out = new Array[(String, Long)](m.size)
    var idx = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out(idx) = (e.getKey, e.getValue()(0))
      idx += 1
    }
    out
  }

  def termCountsStrCol(text: Column): Column = {
    val f = udf((s: String) => termCountsStr(s))
    f(text)
  }

  /** Fused 32-bit SimHash over the token multiset — same semantics as
    * its SQL oracle: per-token hash = hex32(md5(token)); bit i of the
    * fingerprint set iff Σ_tokens ((h>>i & 1)*2 - 1) > 0. One pass per
    * document instead of 32 interpreted array-aggregates.
    */
  def simhash32(text: String): Long = {
    if (text == null) return 0L
    val toks = splitRe.split(text.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
    if (toks.isEmpty) return 0L
    val md = MessageDigest.getInstance("MD5")
    val sums = new Array[Int](32)
    toks.foreach { t =>
      md.reset()
      val d = md.digest(t.getBytes(StandardCharsets.UTF_8))
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      var i = 0
      while (i < 32) {
        sums(i) += (((h >> i) & 1L) * 2 - 1).toInt
        i += 1
      }
    }
    var fp = 0L
    var i = 0
    while (i < 32) {
      if (sums(i) > 0) fp |= (1L << i)
      i += 1
    }
    fp
  }

  def simhashCol(text: Column): Column = {
    val f = udf((s: String) => simhash32(s))
    f(text)
  }

  /** Non-empty-token guard matching `size(tokens(text)) > 0`. */
  def hasTokens(text: Column): Column = {
    val f = udf((s: String) =>
      s != null && splitRe.split(s.toLowerCase(java.util.Locale.ROOT)).exists(_.nonEmpty))
    f(text)
  }
}
