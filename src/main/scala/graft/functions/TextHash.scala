package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels of graft's text SQL functions (minhash/simhash
  * signatures, shingles, token statistics, scrubbing).
  *
  * The declarative formulations explode tokens (×48 bit positions for
  * simhash) and re-aggregate — two shuffles over millions of
  * intermediate rows. These kernels compute the whole signature in
  * one pass over the token array, per document, with zero shuffle.
  *
  * Hash parity: identical to the SQL-level portable hash
  * (conv(substr(md5(s),1,15),16,10) ≡ DuckDB ('0x'||substr(md5(s),1,15))
  * ::BIGINT) — MD5 over UTF-8 bytes, first 15 hex chars as a 60-bit
  * int64 — so the DuckDB oracle reproduces the signatures exactly.
  * Each `graft_*` function is one row of [[GraftFunctions.kernels]]:
  * generated code calls the static forwarder
  * `graft.functions.TextHash.<method>(...)` and interpreted evaluation
  * calls the same method, so every kernel is written once.
  */
object TextHash {
  private val md5Local = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** Per-thread memo for [[phCached]]: token domains are Zipfian, so
    * the same few thousand strings are hashed millions of times — the
    * memo turns ~all md5 invocations into one hash-map probe. Bounded
    * by clear-on-full (keeps the steady state hot for any Zipf-shaped
    * domain while capping memory at ~3 MB/thread); keys are cloned on
    * insert because an ArrayData's UTF8Strings may view a buffer whose
    * lifetime ends with the row. */
  private val PhMemoMax = 1 << 16
  private val phMemo = ThreadLocal.withInitial[java.util.HashMap[UTF8String, java.lang.Long]](
    () => new java.util.HashMap[UTF8String, java.lang.Long](PhMemoMax * 2))

  /** [[ph]] of a UTF8String through the per-thread memo — identical
    * result, amortized O(1) md5s on Zipf-shaped domains. */
  def phCached(s: UTF8String): Long = {
    val m = phMemo.get()
    val v = m.get(s)
    if (v != null) v.longValue()
    else {
      val h = ph(s.getBytes)
      if (m.size >= PhMemoMax) m.clear()
      m.put(s.clone(), java.lang.Long.valueOf(h))
      h
    }
  }

  /** [[ph]] of a UTF8String — the `graft_ph` expression's kernel (no
    * memo: the expression serves arbitrary domains, including unique-
    * per-row keys where a memo is a guaranteed miss + insert). */
  def phLong(s: UTF8String): Long = ph(s.getBytes)

  /** HLL rank-of-first-one: rho = patternBits+1 − bitlength(w), with the
    * all-zero pattern pinned at patternBits+1 — the `graft_hll_rho`
    * kernel behind the q49/q61/q69/st46 register builds. The SQL form
    * `when(w = 0, pb1).otherwise(pb1 - length(bin(w)))` renders a
    * ~50-char binary STRING per corpus row just to take its length;
    * this is one numberOfLeadingZeros instruction. w is h div 256 of
    * the 60-bit non-negative [[ph]], so no sign handling is needed. */
  def hllRho(w: Long): Int = {
    val pb1 = PortableHash.HllPatternBits + 1
    if (w == 0L) pb1 else pb1 - (64 - java.lang.Long.numberOfLeadingZeros(w))
  }

  /** ph(s): first 15 hex chars of md5 as long (matches PortableHash.ph). */
  def ph(bytes: Array[Byte]): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    // first 15 hex chars = bytes 0..6 (14 chars) + high nibble of byte 7
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  def simhash48(tokens: ArrayData): Long = {
    val counts = new Array[Int](PortableHash.SimBits)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val th = ph(tokens.getUTF8String(i).getBytes) % PortableHash.SimMod
      var b = 0
      while (b < PortableHash.SimBits) {
        if (((th >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < PortableHash.SimBits) {
      if (counts(b) > 0) sim |= (1L << b)
      b += 1
    }
    sim
  }

  /** LSH band keys: NumBands strings of '_'-joined minhash values —
    * computed in ONE pass (a bare sig array referenced by N band
    * expressions would be inlined and recomputed N times by
    * CollapseProject). */
  def minhashBands(tokens: ArrayData): Array[UTF8String] = {
    import PortableHash._
    val sig = minhashSig(tokens)
    Array.tabulate(NumBands) { b =>
      val sb = new java.lang.StringBuilder()
      var r = 0
      while (r < RowsPerBand) {
        if (r > 0) sb.append('_')
        sb.append(sig(b * RowsPerBand + r))
        r += 1
      }
      UTF8String.fromString(sb.toString)
    }
  }

  def minhashSig(tokens: ArrayData): Array[Long] = {
    import PortableHash._
    val sig = Array.fill(NumMinhash)(Long.MaxValue)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val x = TextHash.ph(tokens.getUTF8String(i).getBytes) % P
      var j = 0
      while (j < NumMinhash) {
        val h = (seedA(j) * x + seedB(j)) % P
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  // ---- ArrayData-returning entry points of the SQL functions ----

  def minhashSigData(tokens: ArrayData): ArrayData =
    new GenericArrayData(minhashSig(tokens))

  def minhashBandsData(tokens: ArrayData): ArrayData =
    new GenericArrayData(minhashBands(tokens).asInstanceOf[Array[Any]])

  private val Space = UTF8String.fromString(" ")

  /** "w1 w2 w3" as a UTF8String without decoding to java.lang.String —
    * UTF-8 byte concatenation equals the bytes of the concatenated
    * string, so this is exactly concat_ws(' ', ...). */
  private def shingleAt(words: ArrayData, i: Int): UTF8String =
    UTF8String.concat(words.getUTF8String(i), Space,
      words.getUTF8String(i + 1), Space, words.getUTF8String(i + 2))

  /** Distinct 3-gram word shingles, space-joined — one pass, byte-level
    * concat (no String decode/encode per shingle). Replaces the
    * interpreted `array_distinct(transform(sequence(...), i ->
    * concat_ws(' ', slice(...))))` chain, which each self-join side
    * evaluated again. */
  def shingles3Data(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i + 2 < n) {
      val s = shingleAt(words, i)
      if (seen.add(s)) out += s
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** Portable hashes of the distinct 3-gram shingles — the same loop as
    * [[shingles3Data]] but emitting ph(shingle) int64s instead of the
    * shingle strings. Distinctness is by STRING (matching the oracle's
    * list_distinct-then-hash order), so a 60-bit hash collision between
    * two distinct shingles appears twice in both engines. d24's posting
    * explode carries fixed-width longs instead of ~30-byte strings, so
    * the df-cap window + self-join shuffle ~8 bytes/row where it shuffled
    * the string before.
    */
  def shingleHashes3Data(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i + 2 < n) {
      val s = shingleAt(words, i)
      if (seen.add(s)) out += ph(s.getBytes)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** p69's hashed DSIR feature buckets: every unigram then every bigram,
    * occurrences preserved (the selector counts them); bucket =
    * ph % [[PortableHash.DsirBuckets]]. Byte-level space-join, so a
    * bigram's bucket equals ph(w_i || ' ' || w_{i+1}) % B on the oracle
    * side. ONE pass per document — replaces the arrays_zip + double
    * explode formulation whose string intermediates shuffled and whose
    * interpreted md5/conv chain dominated the sf1 runtime.
    */
  def featHashesData(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val B = PortableHash.DsirBuckets
    val out = new Array[Long](if (n == 0) 0 else 2 * n - 1)
    var i = 0
    while (i < n) {
      out(i) = ph(words.getUTF8String(i).getBytes) % B
      i += 1
    }
    i = 0
    while (i + 1 < n) {
      val s = UTF8String.concat(words.getUTF8String(i), Space,
        words.getUTF8String(i + 1))
      out(n + i) = ph(s.getBytes) % B
      i += 1
    }
    new GenericArrayData(out)
  }

  /** t34's per-document repetition statistics in ONE pass:
    * (n_words, n_distinct, top_bigram_n, n_bigrams). The declarative
    * form materialized the bigram array (transform over sequence),
    * array_sort'ed it (O(L log L) comparisons on freshly-concatenated
    * strings) and ran an interpreted `aggregate` fold over the sorted
    * copy — three interpreted HOFs per document on the corpus grain
    * (the t38 lesson; measured 8.9 s of t34's sf1 noop time). Here:
    * distinct words via one hash set, the dominant bigram via one
    * bigram-count map (the [[bigramCountsData]] walk, max instead of
    * emit). Caller guarantees n ≥ 2 (t34 filters `size(words) >= 2`);
    * n < 2 returns zero bigrams and the caller's DIV guard handles it.
    */
  def repStatsData(words: ArrayData): InternalRow = {
    val n = words.numElements()
    val distinct = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < n) { distinct.add(words.getUTF8String(i)); i += 1 }
    val m = new java.util.HashMap[UTF8String, Array[Int]]()
    var best = 0
    i = 0
    while (i + 1 < n) {
      val key = UTF8String.concat(words.getUTF8String(i), Space,
        words.getUTF8String(i + 1))
      var e = m.get(key)
      if (e == null) { e = Array(0); m.put(key, e) }
      e(0) += 1
      if (e(0) > best) best = e(0)
      i += 1
    }
    InternalRow(n.toLong, distinct.size.toLong, best.toLong,
      (if (n < 2) 0 else n - 1).toLong)
  }

  /** t36's per-document bigram pre-aggregate, computed in ONE pass:
    * (w1, w2, n) structs, one per DISTINCT adjacent-word pair, n = its
    * occurrence count in this document, first-occurrence order. The
    * declarative form (slice ×2 → arrays_zip → explode → partial
    * HashAggregate over the occurrence stream) materializes two
    * near-full array copies plus a struct per occurrence and hashes
    * every occurrence row — measured 4.6 s of t36's 5.6 s at sf1; this
    * kernel walks the words array once with a per-doc hash map.
    * Emitted w1/w2 are CLONED off the input array (ADVICE r10):
    * `graft_bigram_counts` is registered as a general SQL function, and
    * an unsafe-backed input array may view a buffer the scan reuses
    * across rows — un-copied views would silently corrupt if the output
    * were buffered. The copy cost is bounded: one clone per DISTINCT
    * bigram, never per occurrence.
    */
  def bigramCountsData(words: ArrayData): ArrayData = {
    val n = words.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    // key "w1 w2" → [first w1 index, count]
    val m = new java.util.LinkedHashMap[UTF8String, Array[Int]]()
    var i = 0
    while (i + 1 < n) {
      val key = UTF8String.concat(words.getUTF8String(i), Space,
        words.getUTF8String(i + 1))
      val e = m.get(key)
      if (e == null) m.put(key, Array(i, 1)) else e(1) += 1
      i += 1
    }
    val out = new Array[Any](m.size())
    val it = m.values().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = InternalRow(words.getUTF8String(e(0)).clone(),
        words.getUTF8String(e(0) + 1).clone(), e(1).toLong)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** t30's whitespace token count WITHOUT the array: `size(split(text,
    * ' '))` materializes every token's UTF8String just to count them.
    * The count is segments-between-single-spaces = #spaces + 1 (Spark's
    * split keeps interior AND trailing empty segments at limit −1, so
    * the identity is exact, including '' → 1). A byte scan for 0x20 is
    * UTF-8-safe: multibyte sequences never contain an ASCII byte. */
  def wsTokenCount(text: UTF8String): Long = {
    val b = text.getBytes
    var spaces = 0L
    var i = 0
    while (i < b.length) { if (b(i) == 0x20) spaces += 1L; i += 1 }
    spaces + 1L
  }

  /** t30's distinct whitespace tokens straight off the text bytes — one
    * pass replacing `array_distinct(split(text, ' '))`, which allocates
    * the full token array (copying every occurrence's bytes) and then a
    * second distinct array. Segments split on single 0x20 exactly like
    * Spark's split at limit −1 (interior/trailing empties kept, so ''
    * yields ['']); set probes use a ZERO-COPY UTF8String view of the
    * segment, and bytes are copied only on first occurrence (clone on
    * insert) — Zipfian text makes almost every probe a hit. */
  def distinctTokensData(text: UTF8String): ArrayData = {
    val b = text.getBytes
    val seen = new java.util.HashSet[UTF8String]()
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var start = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == 0x20) {
        val tok = UTF8String.fromBytes(b, start, i - start)
        if (!seen.contains(tok)) {
          val kept = tok.clone()
          seen.add(kept)
          out += kept
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** t35's per-document token pre-aggregate: (w, c) structs, one per
    * DISTINCT word, first-occurrence order — the unigram analog of
    * [[bigramCountsData]] (same clone discipline: emitted words are
    * copied off the scan-owned input buffer). Replaces the explode +
    * (doc_id, token) hash aggregation: tf completes per document, so
    * NO occurrence-grain rows or corpus-grain exchange exist in the
    * plan at all — at 100 TB the old shape shuffled every token
    * occurrence once. */
  def tokenCountsData(words: ArrayData): ArrayData = {
    val n = words.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val m = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i)
      val e = m.get(w)
      if (e == null) m.put(w.clone(), Array(1L)) else e(0) += 1L
      i += 1
    }
    val out = new Array[Any](m.size())
    val it = m.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = InternalRow(e.getKey, e.getValue()(0))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** p69's per-document hashed-feature pre-aggregate: (f, c) structs,
    * one per OCCUPIED bucket, ascending f — exactly
    * groupBy(doc, f).count over [[featHashesData]]'s explode, computed
    * against a fixed long[DsirBuckets] histogram instead of shuffling
    * the per-occurrence feature stream (the bucket domain is a
    * compile-time constant, so the histogram is allocation-bounded
    * regardless of document size).
    */
  def featCountsData(words: ArrayData): ArrayData = {
    val n = words.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val B = PortableHash.DsirBuckets.toInt
    val hist = new Array[Long](B)
    var occupied = 0
    var i = 0
    while (i < n) {
      val b = (phCached(words.getUTF8String(i)) % B).toInt
      if (hist(b) == 0L) occupied += 1
      hist(b) += 1L
      i += 1
    }
    i = 0
    while (i + 1 < n) {
      val s = UTF8String.concat(words.getUTF8String(i), Space,
        words.getUTF8String(i + 1))
      val b = (phCached(s) % B).toInt
      if (hist(b) == 0L) occupied += 1
      hist(b) += 1L
      i += 1
    }
    val out = new Array[Any](occupied)
    var k = 0
    var b = 0
    while (b < B) {
      if (hist(b) != 0L) { out(k) = InternalRow(b.toLong, hist(b)); k += 1 }
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Per-thread memo for [[tfInData]]'s term set: the terms argument
    * rides a broadcast 1-row cross join, so every row of a partition
    * carries the same term array. Reuse is validated by FULL BYTE
    * COMPARISON against a copied snapshot of the unsafe array region —
    * never by reference or buffer identity, because a reused scan
    * buffer can present the same (base, offset) with NEW content (the
    * bigramCountsData buffer rule, applied to an input). memcmp on a
    * few-KB region is ~µs/row; a set rebuild is the fallback, so a
    * non-broadcast terms column is correct, merely slower. */
  private val tfMemo = new ThreadLocal[(Array[Byte], java.util.HashSet[UTF8String])]

  private def termsSet(terms: ArrayData): java.util.HashSet[UTF8String] = {
    import org.apache.spark.unsafe.Platform
    import org.apache.spark.unsafe.array.ByteArrayMethods
    terms match {
      case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
        val size = u.getSizeInBytes
        val memo = tfMemo.get()
        if (memo != null && memo._1.length == size &&
            ByteArrayMethods.arrayEquals(memo._1, Platform.BYTE_ARRAY_OFFSET,
              u.getBaseObject, u.getBaseOffset, size.toLong)) {
          memo._2
        } else {
          val snap = new Array[Byte](size)
          Platform.copyMemory(u.getBaseObject, u.getBaseOffset,
            snap, Platform.BYTE_ARRAY_OFFSET, size.toLong)
          val set = new java.util.HashSet[UTF8String](u.numElements() * 2)
          var j = 0
          while (j < u.numElements()) { set.add(u.getUTF8String(j).clone()); j += 1 }
          tfMemo.set((snap, set))
          set
        }
      case other =>
        val set = new java.util.HashSet[UTF8String](other.numElements() * 2)
        var j = 0
        while (j < other.numElements()) { set.add(other.getUTF8String(j).clone()); j += 1 }
        set
    }
  }

  /** t41's postings probe computed per document in ONE pass (r11):
    * (token, tf) structs for tokens present in `terms` ONLY, first-
    * occurrence order. Replaces explode-every-token → broadcast semi
    * filter → per-occurrence HashAggregate: non-query tokens never
    * leave the expression, and matching tokens emit PRE-COUNTED — the
    * exchange after this carries |postings of query terms| rows that
    * were never individually hashed by an aggregate. Emitted tokens are
    * cloned (the bigramCountsData output-buffer rule).
    */
  def tfInData(words: ArrayData, terms: ArrayData): ArrayData = {
    val set = termsSet(terms)
    val n = words.numElements()
    val m = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i)
      if (set.contains(w)) {
        val e = m.get(w)
        if (e == null) m.put(w.clone(), Array(1L)) else e(0) += 1L
      }
      i += 1
    }
    val out = new Array[Any](m.size())
    val it = m.entrySet().iterator()
    var k = 0
    while (k < out.length) {
      val e = it.next()
      out(k) = InternalRow(e.getKey, e.getValue()(0))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Per-thread memo for [[lmDocScoreData]]'s bigram model: the model
    * argument rides a broadcast 1-row cross join (t36's trained-model
    * deployment), so every row of a partition carries the same model
    * array. Reuse is validated by the caller-supplied CONTENT
    * FINGERPRINT — an order-independent hash computed over the model
    * rows in the SAME 1-row aggregation that folds the model (see
    * [[graft.operators.TextAnalysis.t36Scores]]), so model and fp
    * cannot drift. The [[tfInData]] full-byte-comparison rule does not
    * transfer here: this model is vocabulary²-sized (hundreds of KB),
    * not a few-KB term list, and the per-row memcmp measured 25 of the
    * 39 µs/doc that made the kernel form SLOWER than the join it
    * replaced — validation must be O(1). Keys are the space-joined
    * bigram ("w1 w2" — tokens come from split(' '), so a token never
    * contains the delimiter), values the model's s_ppm. */
  private val lmMemo = new ThreadLocal[(Long, java.util.HashMap[UTF8String, Array[Long]])]

  private def lmModelMap(model: ArrayData, fp: Long): java.util.HashMap[UTF8String, Array[Long]] = {
    val memo = lmMemo.get()
    if (memo != null && memo._1 == fp) memo._2
    else {
      val m = new java.util.HashMap[UTF8String, Array[Long]](model.numElements() * 2)
      var j = 0
      while (j < model.numElements()) {
        val r = model.getStruct(j, 3)
        m.put(UTF8String.concat(r.getUTF8String(0), Space, r.getUTF8String(1)).clone(),
          Array(r.getLong(2)))
        j += 1
      }
      lmMemo.set((fp, m))
      m
    }
  }

  /** Java-regex line terminators — the characters `(.)` does NOT match,
    * so the p66/p68 per-char symbolization leaves them un-spaced. The
    * kernels replicate this exactly to stay bit-identical with the
    * regexp_replace(..., "(.)", "$1 ") formulation they replace. */
  private def isLineTerm(cp: Int): Boolean =
    cp == '\n' || cp == '\r' || cp == 0x85 || cp == 0x2028 || cp == 0x2029

  /** p66/p68's character symbolization: leading space, each code point
    * followed by a space (line terminators excepted — the Java-regex
    * `(.)` contract), spaces optionally replaced by the '|' word
    * sentinel first. ≡ concat(' ', regexp_replace([replace(s,' ','|')],
    * '(.)', '$1 ')) for every input. */
  def bpeSpacedSym(s: String, sentinel: Boolean): String = {
    val sb = new java.lang.StringBuilder(s.length * 2 + 2)
    sb.append(' ')
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (sentinel && cp == ' ') sb.append('|') else sb.appendCodePoint(cp)
      if (!isLineTerm(cp)) sb.append(' ')
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** p68's whole-document BPE encode step in ONE call: '|'-sentinel
    * symbolization ([[bpeSpacedSym]]) then the learned merges applied
    * in rank order via Java String.replace — the same stdlib
    * left-to-right non-overlapping scan the previous
    * replace-per-merge column chain used (bit-identical, including on
    * ≥4-symbol runs), without K broadcast joins or the corpus-grain
    * regexp_replace. merges rows are (rnk, pair, m) sorted ascending
    * by rnk by the caller; an empty merge table passes the
    * symbolization through unchanged (the left-join-NULL contract). The
    * merges ride a broadcast 1-row cross join (K ≤ a few entries, read
    * per row, no memo needed). */
  def bpeApplyData(text: UTF8String, merges: ArrayData): UTF8String = {
    var sym = bpeSpacedSym(text.toString, sentinel = true)
    val k = merges.numElements()
    var j = 0
    while (j < k) {
      val r = merges.getStruct(j, 3)
      sym = sym.replace(
        " " + r.getUTF8String(1).toString + " ",
        " " + r.getUTF8String(2).toString + " ")
      j += 1
    }
    UTF8String.fromString(sym)
  }

  /** t36's per-document LM score computed in ONE pass against the
    * memoized broadcast model: walks the words array once, looks up
    * each adjacent pair's s_ppm, and returns (n_bigrams, tot) — the
    * exact sums the explode → broadcast-join → per-doc HashAggregate
    * chain produced, without materializing a bigram row, probing a
    * join, or re-grouping by doc (sum over bigram TYPES of n·s ≡ sum
    * over OCCURRENCES of s). A pair absent from the model is skipped
    * from both sums — inner-join semantics (vacuous when the model is
    * trained on the same corpus, pinned by the contract test). */
  def lmDocScoreData(words: ArrayData, model: ArrayData, fp: Long): InternalRow = {
    val m = lmModelMap(model, fp)
    val n = words.numElements()
    var nb = 0L
    var tot = 0L
    var i = 0
    while (i + 1 < n) {
      val s = m.get(UTF8String.concat(words.getUTF8String(i), Space,
        words.getUTF8String(i + 1)))
      if (s != null) { nb += 1L; tot += s(0) }
      i += 1
    }
    InternalRow(nb, tot)
  }

  /** Portable hashes of EVERY w-token window, stride 1, positions
    * preserved (NOT distinct — span detection counts occurrences, so a
    * passage repeated within one document must appear twice). Same
    * byte-level space-join as [[shingleAt]], so the hash equals
    * ph(array_to_string(words[i:i+w-1], ' ')) on the oracle side.
    */
  def windowHashesData(words: ArrayData, w: Int): ArrayData = {
    val n = words.numElements()
    val count = n - w + 1
    if (count <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](count)
    // one varargs concat per window (each byte copied once) — pairwise
    // concat in a loop re-copies the growing prefix, O(w²) bytes per
    // window in the hottest loop of d29/d30
    val parts = new Array[UTF8String](2 * w - 1)
    var k = 1
    while (k < parts.length) { parts(k) = Space; k += 2 }
    var i = 0
    while (i < count) {
      var j = 0
      while (j < w) { parts(2 * j) = words.getUTF8String(i + j); j += 1 }
      out(i) = ph(UTF8String.concat(parts: _*).getBytes)
      i += 1
    }
    new GenericArrayData(out)
  }

  private val HexUpper = "0123456789ABCDEF".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** m35's per-payload chunk fingerprints: the payload splits into
    * [[PortableHash.ChunkdupC]] size-relative chunks (chunk width
    * ⌈nb/C⌉); fingerprint i is ph over the UPPERCASE-HEX rendering of
    * chunk i's bytes — byte-for-byte the oracle's
    * ph(substr(hex(payload), i·cb·2+1, cb·2)) (DuckDB hex() is
    * uppercase; ph = first 15 md5 hex chars as int64). Computing the
    * whole array here, BEFORE the posexplode, keeps the multi-KB
    * payload/hex out of the exploded rows — the first cut carried the
    * hex string through the Generate and shuffled ~4 KB per posting
    * (measured 3× the operator's total cost at sf1).
    */
  def chunkFpsData(payload: Array[Byte]): ArrayData = {
    val c = PortableHash.ChunkdupC
    val nb = payload.length
    if (nb == 0) return new GenericArrayData(Array.emptyLongArray)
    val cb = (nb + c - 1) / c
    val k = (nb + cb - 1) / cb // chunks with i·cb < nb — a prefix of 0..C-1
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      val start = i * cb
      val end = math.min(nb, start + cb)
      val hexb = new Array[Byte]((end - start) * 2)
      var j = start
      var o = 0
      while (j < end) {
        val b = payload(j) & 0xff
        hexb(o) = HexUpper(b >>> 4)
        hexb(o + 1) = HexUpper(b & 0xf)
        j += 1; o += 2
      }
      out(i) = ph(hexb)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The canonical stop-profile word lists of t28's language classifier
    * (order: en, de, es, fr, zh). [[graft.operators.TextAnalysis]] and
    * the DuckDB oracle both mirror THESE values. */
  val StopProfiles: Array[Array[String]] = Array(
    Array("the", "a", "of", "and", "to"),
    Array("der", "die", "das", "und", "ist"),
    Array("el", "la", "los", "que", "una"),
    Array("le", "les", "des", "est", "une"),
    Array("的", "是", "了", "在", "和"))

  private val stopSets: Array[java.util.HashSet[UTF8String]] =
    StopProfiles.map { p =>
      val s = new java.util.HashSet[UTF8String]()
      p.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }

  /** t40's entropy statistics in ONE pass over the text: codepoint and
    * word (space-split, empties kept — string_split parity) frequency
    * maps, folded to Shannon entropies via H = ln(n) − (Σ c·ln c)/n —
    * the integer-argument-log form both engines reproduce to well
    * under 6 dp regardless of summation order.
    * Returns array<double>[6]:
    * [char_ent, word_ent, n_distinct_chars, n_distinct_words, n_chars, n_words].
    */
  def entropyStatsData(text: UTF8String): ArrayData = {
    val s = text.toString
    val cc = new java.util.HashMap[Integer, java.lang.Long]()
    var i = 0
    var nc = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val k = Integer.valueOf(cp)
      val prev = cc.get(k)
      cc.put(k, if (prev eq null) 1L else prev.longValue() + 1L)
      i += Character.charCount(cp)
      nc += 1
    }
    val wc = new java.util.HashMap[String, java.lang.Long]()
    var nw = 0L
    var start = 0
    var j = 0
    while (j <= s.length) {
      if (j == s.length || s.charAt(j) == ' ') {
        val w = s.substring(start, j)
        val prev = wc.get(w)
        wc.put(w, if (prev eq null) 1L else prev.longValue() + 1L)
        nw += 1
        start = j + 1
      }
      j += 1
    }
    def ent(values: java.util.Collection[java.lang.Long], n: Long): Double =
      if (n == 0L) 0.0
      else {
        var sum = 0.0
        val it = values.iterator()
        while (it.hasNext) {
          val c = it.next().longValue()
          sum += c * math.log(c.toDouble)
        }
        math.log(n.toDouble) - sum / n
      }
    new GenericArrayData(Array[Double](
      ent(cc.values(), nc), ent(wc.values(), nw),
      cc.size.toDouble, wc.size.toDouble, nc.toDouble, nw.toDouble))
  }

  /** s36's feature-hashed (hashing-trick) document vector — one pass
    * over the token array: token w adds ±1 (sign from hash bit) to
    * component ph(w) mod D. Signed hashing keeps inner products unbiased
    * (Weinberger et al., ICML'09 §3). Components are exact small
    * integers carried as doubles (every value ≪ 2⁵³), so `graft_dot`
    * ([[VectorKernels.dot]]) and the oracle's exact-BIGINT relational dot agree bit-for-bit
    * regardless of summation order. */
  def hashVecData(words: ArrayData): ArrayData = {
    val d = PortableHash.HashVecDim
    val out = new Array[Double](d)
    val n = words.numElements()
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) {
        val h = ph(words.getUTF8String(i).getBytes)
        val b = (h % d).toInt
        if ((h / d) % 2 == 0L) out(b) += 1.0 else out(b) -= 1.0
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** t28's five stop-profile scores (en, de, es, fr, zh: the count of
    * words in each profile) in one pass over the token array — replaces
    * five interpreted `size(filter(words, w -> w in (...)))` chains
    * (3.4 s at sf1 on t38's eval). */
  def stopScoresData(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val counts = new Array[Long](stopSets.length)
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) {
        val w = words.getUTF8String(i)
        var s = 0
        while (s < stopSets.length) {
          if (stopSets(s).contains(w)) counts(s) += 1
          s += 1
        }
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  // ---- t33 fused PII scan ------------------------------------------------
  // Byte-level scanners equivalent to java.util.regex find/replaceAll for
  // t33's three patterns. All pattern bytes are ASCII (< 0x80) and UTF-8
  // continuation bytes are >= 0x80, so byte-wise scanning of valid UTF-8
  // finds exactly the char-level matches, in the same leftmost
  // non-overlapping order Matcher.find produces.

  private def isEmailLocal(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') ||
      b == '.' || b == '_' || b == '%' || b == '+' || b == '-'
  private def isEmailDom(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == '.' || b == '-'
  private def isAlphaLc(b: Byte): Boolean = b >= 'a' && b <= 'z'
  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  private val EmailTag = "<EMAIL>".getBytes("UTF-8")
  private val SsnTag = "<SSN>".getBytes("UTF-8")
  private val PhoneTag = "<PHONE>".getBytes("UTF-8")

  /** Growable byte sink for the replace scans (match count inflates the
    * string: "<EMAIL>" is 7 bytes vs the 6-byte minimal email). */
  private final class ByteSink(cap: Int) {
    var buf = new Array[Byte](math.max(cap, 16))
    var pos = 0
    def put(src: Array[Byte], from: Int, len: Int): Unit = {
      if (pos + len > buf.length) {
        buf = java.util.Arrays.copyOf(buf,
          math.max(buf.length * 2, pos + len))
      }
      System.arraycopy(src, from, buf, pos, len); pos += len
    }
    def bytes: Array[Byte] = if (pos == buf.length) buf
      else java.util.Arrays.copyOf(buf, pos)
  }

  /** Leftmost-find equivalence for t33's email pattern
    * `[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}` (greedy + backtracking):
    * a match must start at the head of a maximal local-class run
    * (backtracking the local `+` cannot re-place the `@`, since `@` is
    * outside the class — a failed run start fails for every start
    * inside the run), the domain `+` gives back as little as possible,
    * so the dot is the LAST position in the maximal domain-class run
    * with >= 2 lowercase letters after it, and the trailing `{2,}` is
    * greedy. On failure the scan resumes at `@`+1 (domain-class bytes
    * are local-class bytes and may start the next match — "a@b@c.com"
    * matches "b@c.com"). If `out` is null, only counts; else writes the
    * scrubbed string. Returns the match count.
    */
  private def emailScan(b: Array[Byte], out: ByteSink): Long = {
    val n = b.length
    var cnt = 0L
    var copied = 0
    var i = 0
    while (i < n) {
      if (!isEmailLocal(b(i))) i += 1
      else {
        val start = i
        while (i < n && isEmailLocal(b(i))) i += 1
        if (i < n && b(i) == '@') {
          val at = i
          var q = at + 1
          while (q < n && isEmailDom(b(q))) q += 1
          var e = q - 3
          while (e >= at + 2 &&
            !(b(e) == '.' && isAlphaLc(b(e + 1)) && isAlphaLc(b(e + 2)))) e -= 1
          if (e >= at + 2) {
            var m = e + 3
            while (m < q && isAlphaLc(b(m))) m += 1
            cnt += 1
            if (out != null) {
              out.put(b, copied, start - copied)
              out.put(EmailTag, 0, EmailTag.length)
              copied = m
            }
            i = m
          } else i = at + 1
        }
      }
    }
    if (out != null) out.put(b, copied, n - copied)
    cnt
  }

  /** Fixed-shape scan for `[0-9]{3}-[0-9]{2}-[0-9]{4}` (len 11); ascending
    * start + skip-on-match reproduces leftmost non-overlapping find. */
  private def ssnScan(b: Array[Byte], out: ByteSink): Long = {
    val n = b.length
    var cnt = 0L
    var copied = 0
    var i = 0
    while (i + 11 <= n) {
      if (isDigit(b(i)) && isDigit(b(i + 1)) && isDigit(b(i + 2)) &&
          b(i + 3) == '-' && isDigit(b(i + 4)) && isDigit(b(i + 5)) &&
          b(i + 6) == '-' && isDigit(b(i + 7)) && isDigit(b(i + 8)) &&
          isDigit(b(i + 9)) && isDigit(b(i + 10))) {
        cnt += 1
        if (out != null) {
          out.put(b, copied, i - copied)
          out.put(SsnTag, 0, SsnTag.length)
          copied = i + 11
        }
        i += 11
      } else i += 1
    }
    if (out != null) out.put(b, copied, n - copied)
    cnt
  }

  /** Fixed-shape scan for `555-01[0-9]{2}` (len 8). */
  private def phoneScan(b: Array[Byte], out: ByteSink): Long = {
    val n = b.length
    var cnt = 0L
    var copied = 0
    var i = 0
    while (i + 8 <= n) {
      if (b(i) == '5' && b(i + 1) == '5' && b(i + 2) == '5' &&
          b(i + 3) == '-' && b(i + 4) == '0' && b(i + 5) == '1' &&
          isDigit(b(i + 6)) && isDigit(b(i + 7))) {
        cnt += 1
        if (out != null) {
          out.put(b, copied, i - copied)
          out.put(PhoneTag, 0, PhoneTag.length)
          copied = i + 8
        }
        i += 8
      } else i += 1
    }
    if (out != null) out.put(b, copied, n - copied)
    cnt
  }

  /** t33's whole scrub in one kernel:
    * (n_email, n_ssn, n_phone, clean) — counts over the RAW string per
    * pattern, `clean` the TIERED email→ssn→phone replacement, exactly
    * t33's previous 3×regexp_count + 3×nested regexp_replace (six full
    * java.util.regex traversals plus six UTF8String<->String round
    * trips per document, measured 4.26 s at sf1). Here: one
    * backtracking-derived email scan (count + replace fused) and four
    * fixed-shape byte scans — no Pattern machinery at all. Count-only
    * scans skip output entirely; replace scans copy inter-match spans
    * in bulk.
    */
  def piiScrubData(raw: UTF8String): InternalRow = {
    val b = raw.getBytes
    val s1 = new ByteSink(b.length + 8)
    val nEmail = emailScan(b, s1)
    val nSsn = ssnScan(b, null)
    val nPhone = phoneScan(b, null)
    val b1 = s1.bytes
    val s2 = new ByteSink(b1.length)
    ssnScan(b1, s2)
    val b2 = s2.bytes
    val s3 = new ByteSink(b2.length)
    phoneScan(b2, s3)
    InternalRow(nEmail, nSsn, nPhone, UTF8String.fromBytes(s3.bytes))
  }
}
