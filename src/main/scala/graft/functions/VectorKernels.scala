package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

import PortableHash.{HplaneA, HplaneB, HplaneMod, HplaneShift, IvfOffset, NumPlanes}

/** Static kernels of graft's vector SQL functions. Each is one row of
  * [[GraftFunctions.kernels]]: generated code makes one static call into
  * it, interpreted evaluation calls the same method, and `isFloat`-style
  * flags are derived once from the argument types. These kernels replace
  * `aggregate`/`transform`/`zip_with` lambda chains, which are evaluated
  * interpreted per row × element (HigherOrderFunction is CodegenFallback).
  */
object VectorKernels {
  /** The NULL result of a kernel typed `double`: a signalling NaN. IEEE
    * 754 arithmetic never returns one (an operation on a signalling NaN
    * returns a quiet NaN), so no computed result collides with it, and a
    * NULL costs no boxed Double per row. */
  private val NullDoubleBits = 0x7ff0000000000001L
  private val NullDouble = java.lang.Double.longBitsToDouble(NullDoubleBits)

  /** The NULL result of a kernel typed `bigint`. [[kmeansArgmin]] can only
    * reach it when Σ(q−cv)²·100 overflows int64. */
  private val NullLong = Long.MinValue

  def isNull(d: Double): Boolean = java.lang.Double.doubleToRawLongBits(d) == NullDoubleBits
  def isNull(l: Long): Boolean = l == NullLong

  /** Embedding dot product (`graft_dot`). Float elements widen to double
    * exactly as the DuckDB oracle's `embedding::DOUBLE[]` cast does, and
    * accumulation runs in element order, so results are bit-identical to
    * the `aggregate(zip_with(a, b, (x, y) -> x * y), 0d, ...)` fold.
    * Mismatched lengths or a null element give NULL, the fold's
    * semantics (zip_with pads the shorter array with nulls and the fold
    * propagates them). */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    if (b.numElements() != n) return NullDouble
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return NullDouble
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** s27's random-hyperplane LSH bucket (`graft_hyperplane_bucket`): bit
    * p is set iff Σ_j v[j] · w(p,j) ≥ 0 with w(p,j) = (HplaneA·p +
    * HplaneB·j) mod HplaneMod − HplaneShift (j 1-based), accumulated in
    * ascending j so doubles match the DuckDB oracle bit-for-bit. Replaces
    * 8 `aggregate(transform(sequence(1,64), ...))` chains, one per plane,
    * which ran 16× over the DuckDB baseline. */
  def hyperplaneBucket(v: ArrayData, isFloat: Boolean): Long = {
    val n = v.numElements()
    var bucket = 0L
    var p = 0
    while (p < NumPlanes) {
      var acc = 0.0
      var j = 0
      while (j < n) {
        val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
        acc += x * ((HplaneA * p + HplaneB * (j + 1)) % HplaneMod - HplaneShift)
        j += 1
      }
      if (acc >= 0.0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  /** IVF cell assignment (`graft_ivf_cells`, `graft_ivf_cells_n`): the
    * [[PortableHash.IvfProbes]] = 2 nearest of `nCells` pseudo-centroids
    * (best first) by cosine, as array<bigint>. The corpus indexes on
    * element 0 (its home cell); the query side explodes both probes.
    * Centroid component w(c,j) is the [[hyperplaneBucket]] family at
    * offset IvfOffset, and the ranking score dot(v, C_c) / sqrt(Σ w(c,j)²)
    * uses only integer weights (the norm² sum is exact in int64), so the
    * DuckDB oracle reproduces the same cells. Ties rank the lower cell
    * first, the oracle's ORDER BY score DESC, c. s28/s29 use the fixed
    * [[PortableHash.IvfCells]]; d28 passes a cell count that scales with
    * the corpus (≈ √N balances the O(N·nlist) assignment against the
    * O(N²/nlist) within-cell join). */
  def ivfCells(v: ArrayData, isFloat: Boolean, nCells: Long): ArrayData = {
    val n = v.numElements()
    var best1 = Double.NegativeInfinity; var idx1 = -1L
    var best2 = Double.NegativeInfinity; var idx2 = -1L
    var c = 0L
    while (c < nCells) {
      var dot = 0.0
      var nrm2 = 0L
      var j = 0
      while (j < n) {
        val w = (HplaneA * (c + IvfOffset) + HplaneB * (j + 1)) % HplaneMod - HplaneShift
        val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
        dot += x * w
        nrm2 += w * w
        j += 1
      }
      val score = dot / math.sqrt(nrm2.toDouble)
      if (score > best1) { best2 = best1; idx2 = idx1; best1 = score; idx1 = c }
      else if (score > best2) { best2 = score; idx2 = c }
      c += 1
    }
    new GenericArrayData(Array(idx1, idx2))
  }

  /** s30's k-means assignment argmin (`graft_kmeans_argmin`): min over
    * centroids of key_c = Σ_j (q_j − cv_cj)² · 100 + cid_c, exact integer
    * arithmetic identical to the `array_min(transform(cents, c ->
    * aggregate(zip_with(q, c.cv, ...), ...) * 100 + c.cid))` chain and its
    * DuckDB mirror (that chain measured ~385 µs/row at K=16, dim=64). An
    * empty centroid array, a null or length-mismatched centroid, or a null
    * element gives NULL (a superset of the chain's null propagation; the
    * packed-centroid build makes these impossible in practice). */
  def kmeansArgmin(q: ArrayData, cents: ArrayData): Long = {
    val n = q.numElements()
    val k = cents.numElements()
    if (k == 0) return NullLong
    var best = Long.MaxValue
    var c = 0
    while (c < k) {
      if (cents.isNullAt(c)) return NullLong
      val row = cents.getStruct(c, 2)
      if (row.isNullAt(0) || row.isNullAt(1)) return NullLong
      val cv = row.getArray(1)
      if (cv.numElements() != n) return NullLong
      var d = 0L
      var j = 0
      while (j < n) {
        if (q.isNullAt(j) || cv.isNullAt(j)) return NullLong
        val t = q.getLong(j) - cv.getLong(j)
        d += t * t
        j += 1
      }
      val key = d * 100L + row.getInt(0)
      if (key < best) best = key
      c += 1
    }
    best
  }

  /** [[graft.operators.Similarity]]'s integer-grid quantization
    * floor(x·10⁶) per element — replaces the interpreted
    * `transform(embedding, x -> floor(x*1e6)::long)` HOF evaluated per
    * corpus row at every ANN family entry point (HigherOrderFunction is
    * CodegenFallback: per-element closure dispatch + boxed lambda
    * variables on the corpus grain). Null elements stay null (transform
    * parity). */
  def quantizeData(emb: ArrayData, isFloat: Boolean): ArrayData = {
    val n = emb.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = emb.isNullAt(i); i += 1 }
    if (!hasNull) {
      val out = new Array[Long](n)
      i = 0
      while (i < n) {
        val x = if (isFloat) emb.getFloat(i).toDouble else emb.getDouble(i)
        out(i) = math.floor(x * 1000000.0d).toLong
        i += 1
      }
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        if (!emb.isNullAt(i)) {
          val x = if (isFloat) emb.getFloat(i).toDouble else emb.getDouble(i)
          out(i) = math.floor(x * 1000000.0d).toLong
        }
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** s34's SQ8 encode⊕decode round-trip
    * x̂ᵢ = loᵢ + ((qᵢ−loᵢ)·255 div spanᵢ)·spanᵢ div 255, span = max(1,
    * hi−lo) — replaces the `transform(sequence(1, dim), i -> ...)` HOF
    * (sequence materialization + six element_at probes per element per
    * corpus row, all interpreted). Integer arithmetic identical to the
    * SQL form: operands are non-negative (lo/hi are corpus min/max of
    * q), so Java truncating division ≡ SQL DIV. Returns null on length
    * mismatch or null elements (element_at-chain parity: never hit on
    * the fixed-dim corpus). */
  def sqXhatData(q: ArrayData, lo: ArrayData, hi: ArrayData): ArrayData = {
    val n = q.numElements()
    if (lo.numElements() != n || hi.numElements() != n) return null
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (q.isNullAt(i) || lo.isNullAt(i) || hi.isNullAt(i)) return null
      val l = lo.getLong(i)
      val span = math.max(1L, hi.getLong(i) - l)
      out(i) = l + (q.getLong(i) - l) * 255L / span * span / 255L
      i += 1
    }
    new GenericArrayData(out)
  }
}
