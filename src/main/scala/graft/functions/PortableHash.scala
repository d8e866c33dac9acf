package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic hash primitives.
  *
  * All dedup/similarity operators must produce bit-identical results in
  * Spark and the DuckDB oracle, so we avoid engine-native hash functions
  * (Spark's xxhash64/murmur vs DuckDB's hash differ) and build on md5,
  * which both engines expose with identical semantics: take the first 15
  * hex chars of md5 (60 bits, fits a signed int64) and parse as an
  * integer. All downstream minhash/simhash arithmetic is pure int64
  * mod-arithmetic kept below 2^62 so neither engine overflows.
  *
  * DuckDB equivalent: ('0x' || substr(md5(s), 1, 15))::BIGINT
  */
object PortableHash {
  /** 60-bit portable string hash — the codegen'd `graft_ph` kernel
    * ([[TextHash.phLong]]; r12). Semantically identical to the original
    * SQL chain `conv(substr(md5(c),1,15),16,10)::long`, but one static
    * call with a reused per-thread digest instead of four per-row
    * allocations (fresh MessageDigest + hex string + Substring copy +
    * Conv parse) on every corpus-grain hash site. The frame's session
    * must carry graft's functions — `Tables.load` registers them, as do
    * [[graft.GraftSession]] and [[graft.GraftExtensions]]
    * (call_function resolves at analysis). */
  def ph(c: Column): Column = call_function("graft_ph", c)

  val P: Long = 1000000007L

  /** MinHash family: h_j(x) = (a_j * (ph(x) % P) + b_j) % P.
    * ph%P < 2^30 and a_j < 2^31 keep products < 2^61. */
  def seedA(j: Int): Long = 2L * j + 3L
  def seedB(j: Int): Long = 7919L * j + 1L

  val NumMinhash = 16

  /** m35 payload chunk count (lives here so [[TextHash.chunkFpsData]]
    * and the operator share one definition). */
  val ChunkdupC = 16

  /** p69 hashed-feature domain (lives here so [[TextHash.featHashesData]]
    * and the operator share one definition). DSIR's reference
    * implementation uses 10⁴ buckets; 1024 keeps both bucket tables
    * broadcast-tiny at any corpus scale while the statistics stay dense
    * on the test corpora. */
  val DsirBuckets = 1024L
  val NumBands   = 4
  val RowsPerBand = 4

  /** SimHash token-hash domain: 48 bits (2^48 exact in doubles too). */
  val SimBits = 48
  val SimMod: Long = 281474976710656L

  /** Random-hyperplane LSH (s27): component j (1-based) of plane p is
    * (HplaneA·p + HplaneB·j) mod HplaneMod − HplaneShift — deterministic
    * integer pseudo-planes both engines reproduce exactly. */
  val HplaneA: Long = 1315423911L
  val HplaneB: Long = 2654435761L
  val HplaneMod: Long = 1000003L
  val HplaneShift: Long = 501001L
  val NumPlanes = 8

  /** IVF ANN (s28): deterministic pseudo-centroids in the hyperplane
    * family — component j (1-based) of centroid c is
    * (HplaneA·(c+IvfOffset) + HplaneB·j) mod HplaneMod − HplaneShift.
    * IvfOffset keeps the centroid family disjoint from the s27 planes.
    * Cell assignment ranks cosine(v, centroid) = dot / ‖centroid‖ (the
    * ‖v‖ factor is rank-invariant); ‖centroid‖² is an exact int64 sum,
    * so both engines agree bit-for-bit. */
  val IvfCells = 16
  val IvfProbes = 2
  val IvfOffset = 101

  /** s36 feature-hashing (hashing trick) vector dimension: token w maps
    * to component ph(w) mod D with sign +1 iff (ph(w) div D) is even —
    * pure int64 arithmetic both engines reproduce exactly. */
  val HashVecDim = 64

  /** d37 bloom filter: K position hashes from the minhash family at seed
    * offset 40 (disjoint from minhash rows 0..15 and t37's CMS rows at
    * offset 32). Bit-domain M scales with the corpus key count n as
    * max(BloomMinBits, BloomBitsPerKey·n) — the d28 nlist discipline:
    * fixed M saturates at scale (load kn/M → fill → FP → 1), sized M
    * pins the load at K/BloomBitsPerKey = 0.25 and the FP rate at
    * (1−e^−0.25)⁴ ≈ 0.24% REGARDLESS of corpus size. */
  val BloomMinBits = 8192L
  val BloomBitsPerKey = 16L
  val BloomK = 4
  val BloomSeedOffset = 40

  /** Portable HLL (q49): p = 8 → m = 256 buckets; the 60-bit [[ph]]
    * splits into 8 bucket bits + a 52-bit pattern word. Rho and the
    * normalizer Z are computed in pure int64 (Z in units of 2⁻⁵³), so
    * cross-engine double-summation order can never break parity — only
    * the final division and the small-range ln() are floating-point.
    * Both constants are injected verbatim into the Spark plan AND the
    * DuckDB oracle. */
  val HllBuckets = 256
  val HllPatternBits = 52
  /** Standard HLL bias constant α₂₅₆ (Flajolet et al. 2007). */
  val HllAlpha: Double = 0.7213 / (1 + 1.079 / 256.0)
}
