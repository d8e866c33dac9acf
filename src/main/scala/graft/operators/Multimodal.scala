package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** m32–m37: multimodal column plumbing (SURVEY.md §2).
  *
  * Models image/audio/video handling at 100 TB: media payloads are
  * opaque `binary` columns travelling next to typed metadata. Two stage
  * shapes, chosen per operator: (a) cheap scalar byte-stat features
  * (m32) run as codegen'd built-in expressions fused onto the scan —
  * no serialization boundary; (b) genuine codec-boundary transforms
  * (m33 frame-sample, m34 resize) run as per-partition typed batch code
  * (the Scala analogue of a Pandas-UDF `mapInPandas` stage). The codec
  * itself is STUBBED with deterministic byte arithmetic (`???` in
  * spirit — this container has no media libraries); the plumbing
  * (binary column, typed Dataset, mapPartitions batch shape,
  * partition-preserving schema) is the real production shape.
  */
object Multimodal {

  /** Typed media record: payload stays opaque bytes; metadata is typed.
    * The mapPartitions stages (m33/m34) deserialize to this shape — the
    * per-batch decoder boundary a real codec plugs into. */
  case class MediaIn(doc_id: Long, payload: Array[Byte], meta_n_chars: Long, meta_fmt: String)

  /** Frames per payload for m33 — the "video" sampling rate. */
  val NumFrames = 4

  /** Per-frame features; luma_q models a quantized per-frame brightness
    * (integer mean byte value) — the kind of cheap scalar a pre-filter
    * stage computes before an expensive model sees the frame. */
  case class FrameFeat(doc_id: Long, frame_idx: Int, n_frame_bytes: Long,
      byte_sum: Long, byte_min: Int, byte_max: Int, luma_q: Long)

  /** m33: frame-sampling feature extraction — one payload fans out to
    * [[NumFrames]] fixed-offset frames, each reduced to a feature row
    * (sum/min/max/quantized-mean over the frame's bytes). This is the
    * video-pipeline batch shape: `mapPartitions` + `flatMap` (1 row → K
    * frame rows) with a per-partition "decoder", exactly how a
    * frame-sample + feature-extract stage runs as a Pandas UDF over
    * `mapInPandas` in the Python stack. The frame math is deterministic
    * integer arithmetic over the raw bytes, so the DuckDB oracle
    * reproduces it via hex-string slicing — the decode itself is the
    * stubbed step (no codecs in this container), the plumbing is real.
    */
  def m33FrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"),
        col("n_chars").as("meta_n_chars"), lit("txt").as("meta_fmt"))
      .as[MediaIn]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val len = r.payload.length
        (0 until NumFrames).iterator.flatMap { k =>
          val s = (k.toLong * len / NumFrames).toInt
          val e = ((k + 1).toLong * len / NumFrames).toInt
          if (e > s) {
            var sum = 0L; var mn = 255; var mx = 0; var i = s
            while (i < e) {
              val b = r.payload(i) & 0xff
              sum += b; if (b < mn) mn = b; if (b > mx) mx = b; i += 1
            }
            Some(FrameFeat(r.doc_id, k, (e - s).toLong, sum, mn, mx, sum / (e - s)))
          } else None
        }
      }
    }.toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** m34 stride: every 4th payload byte survives — the "quarter
    * resolution" stand-in for a real image/audio downsample. */
  val ResizeStride = 4

  /** Resize output: new payload rides as opaque bytes next to its
    * provenance metadata; the hash is over the RESIZED bytes' hex
    * (uppercase, DuckDB hex() convention) so the oracle can verify the
    * transformed CONTENT without blob support. */
  case class ResizedOut(doc_id: Long, n_bytes: Long, n_resized: Long,
      resized_hash: String, byte_sum: Long, meta_fmt: String)

  /** m34: payload resize — the binary→binary batch transform of the
    * multimodal set (decode=m32, frame-sample=m33, resize=here): each
    * payload is downsampled by [[ResizeStride]] inside a mapPartitions
    * batch stage and the RESIZED payload is re-emitted with updated
    * metadata — the image-resize / audio-downsample production shape
    * (mapInPandas in the Python stack), with the codec stubbed by
    * deterministic byte striding (no media libs in this container).
    * Output carries an md5 witness of the resized bytes plus their sum,
    * so the oracle verifies the transform's content, not just lengths.
    *
    * 100 TB posture: pure partition-parallel projection — no shuffle
    * before the presentation sort; output bytes are ¼ of input, so the
    * stage SHRINKS the dataset (the reason resize runs before any
    * shuffle-bearing stage in real pipelines).
    */
  def m34PayloadResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"),
        col("n_chars").as("meta_n_chars"), lit("txt").as("meta_fmt"))
      .as[MediaIn]
    media.mapPartitions { rows =>
      val md = MessageDigest.getInstance("MD5")
      rows.map { r =>
        val src = r.payload
        val out = Array.ofDim[Byte]((src.length + ResizeStride - 1) / ResizeStride)
        var i = 0; var sum = 0L
        val hexb = new StringBuilder(out.length * 2)
        while (i < out.length) {
          val b = src(i * ResizeStride)
          out(i) = b; sum += (b & 0xff)
          hexb.append("%02X".format(b & 0xff))
          i += 1
        }
        md.reset()
        val hash = md.digest(hexb.toString.getBytes(StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        ResizedOut(r.doc_id, src.length.toLong, out.length.toLong, hash, sum, r.meta_fmt)
      }
    }.toDF()
      .orderBy("doc_id")
  }

  /** m32: payload byte-stat features as CODEGEN'D expressions.
    *
    * r15 shape: a typed-Dataset `mapPartitions` modelling the Pandas-UDF
    * decode stage — it paid a full InternalRow→case-class→InternalRow
    * serialization boundary per payload and held an 11.4× / 1.71 s floor
    * at sf1 (docs/FLOORS.json, VERDICT r15). The cheap scalar features a
    * pre-filter stage wants (length, content hash, leading byte) never
    * needed a decoder: `md5`, `length`, and `substring`/`hex`/`conv` are
    * all whole-stage-codegen built-ins over the binary column, so the
    * whole operator now fuses onto the scan — no serialization boundary,
    * no custom kernel. The genuine codec-boundary batch shape (the part a
    * real deployment swaps for image/audio libs) lives in m33/m34, which
    * keep `mapPartitions` deliberately.
    */
  def m32Multimodal(spark: SparkSession, dir: String): DataFrame = {
    // synthesize the opaque payload from text (utf-8 bytes): in a real
    // pipeline this column arrives as image/audio bytes from the lake
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"),
        col("n_chars").as("meta_n_chars"), lit("txt").as("meta_fmt"))
    media.select(
      col("doc_id"),
      length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("content_hash"),
      // first OCTET of the payload (payload(0) & 0xff): binary substring →
      // hex → base-16 parse, all codegen'd; empty payload pins to 0 — the
      // same byte-oriented definition the oracle's hex-prefix slice uses
      when(length(col("payload")) === 0, lit(0))
        .otherwise(conv(hex(substring(col("payload"), 1, 1)), 16, 10).cast("int"))
        .as("first_byte"),
      col("meta_n_chars"), col("meta_fmt"))
      .orderBy("doc_id")
  }

  /** m35 chunking/threshold: payloads split into [[ChunkdupNumChunks]]
    * size-relative chunks; pairs sharing ≥ [[ChunkdupMinShared]] aligned
    * chunk fingerprints are near-dups. A chunk fingerprint held by more
    * than [[ChunkdupDfCap]] payloads (shared boilerplate bytes — headers,
    * padding) is dropped from candidate generation, the d24 df-cap. */
  val ChunkdupNumChunks: Int = graft.functions.PortableHash.ChunkdupC
  val ChunkdupMinShared = 12
  val ChunkdupDfCap = 50

  /** m35: binary-payload near-duplicate detection by aligned chunk
    * fingerprinting — the multimodal analogue of d22/d24: a perceptual
    * hash needs a real decoder (stubbed in this container), but
    * content-defined chunk hashing over the RAW bytes is itself a
    * production dedup shape for media blobs (same asset re-uploaded,
    * metadata-stripped copies, truncated tails). Each payload splits
    * into [[ChunkdupNumChunks]] size-relative chunks; chunk i's int64
    * fingerprint comes from the codegen'd
    * [[graft.functions.TextHash.chunkFpsData]] (ph over the chunk's uppercase-hex
    * rendering — both engines compute the identical value, so even a
    * 60-bit collision produces the same pair on both sides, the d24
    * posting-hash device). Two payloads sharing
    * ≥ [[ChunkdupMinShared]] aligned fingerprints are reported with
    * their witness count. Size-relative chunking means only near-equal-
    * length payloads can collide — exactly the re-encode/minor-edit
    * family; byte-shifted variants need the real decoder (documented
    * stub boundary, m32's contract).
    *
    * 100 TB posture: fingerprints are computed per payload BEFORE the
    * posting explode, so exploded rows are (doc, idx, int64) — never
    * the multi-KB payload (a first cut carried the hex string through
    * the Generate and spent 3× the operator's cost shuffling it);
    * postings aggregate once to the (idx, fp) grain where singleton
    * fingerprints — the overwhelming majority — die before any pair
    * work, and a fingerprint held by > [[ChunkdupDfCap]] payloads
    * (shared boilerplate bytes) is dropped there too, so pair
    * generation is a bounded per-group explode (≤ cap²/2 pairs), never
    * payload×payload and never a join.
    */
  def m35PayloadChunkdup(spark: SparkSession, dir: String): DataFrame = {
    // the chunk-fingerprint kernel fuses onto the scan — rebalance so a
    // single-row-group file doesn't serialize it on one core
    val chunks = Tables.rebalanceSmallScan(Tables.documents(spark, dir))
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        posexplode(expr("graft_chunk_fps(encode(text, 'utf-8'))")).as(Seq("idx", "fp")))
    chunks
      .groupBy("idx", "fp")
      // graft_collect_capped (r15) = sorted collect_list + the df-cap
      // filter in ONE bounded-buffer aggregate: an over-cap boilerplate
      // fingerprint stores a 16-byte count, never a list (the previous
      // collect_list built the full list before the size filter could
      // drop it — unbounded state on a degenerate key at 100 TB)
      .agg(expr(s"graft_collect_capped(doc_id, $ChunkdupDfCap)").as("docs"))
      .filter(size(col("docs")) >= 2) // null (over-cap) fails too
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= ChunkdupMinShared)
      .orderBy("doc_a", "doc_b")
  }

  /** m36: training-sample ASSEMBLY — the stage that turns three modality
    * tables into training samples (the WebDataset/sample-manifest shape):
    * each text document left-joins its media payload (m32's synthesized
    * binary, with every third payload missing — the upload-gap reality)
    * and its embedding row (`vec_id = doc_id`; the embedding table covers
    * only part of the corpus, so absence is natural, not synthesized),
    * then classifies completeness — complete / missing_media /
    * missing_embedding / text_only — and rolls up a per-(source, status)
    * manifest with media byte volume, embedding dim volume, and a
    * min-doc_id witness. The taxonomy drives the downstream split every
    * multimodal pipeline makes: complete samples train the contrastive
    * leg, text_only feeds the LM leg, the missing_* buckets are the
    * re-fetch queue.
    *
    * 100 TB posture: per-sample media FEATURES (byte length) are
    * projected out BEFORE the join — payload bytes never cross an
    * exchange (m34/m35's resize-before-shuffle discipline; assembling
    * actual bytes happens in the final sharded write, where production
    * buckets all three tables by sample id so the join is exchange-free
    * — q39's layout). Both joins are doc_id equi-joins preserving the
    * document grain; the rollup map-side combines to ≤|sources|·4 rows.
    */
  def m36SampleAssembly(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val media = docs.filter(pmod(col("doc_id"), lit(3L)) =!= 2L)
      .select(col("doc_id"),
        length(encode(col("text"), "utf-8")).cast("long").as("n_bytes"))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"),
        size(col("embedding")).cast("long").as("emb_dim"))
    docs.join(media, Seq("doc_id"), "left")
      .join(emb, Seq("doc_id"), "left")
      .withColumn("status",
        when(col("n_bytes").isNotNull && col("emb_dim").isNotNull, "complete")
          .when(col("n_bytes").isNull && col("emb_dim").isNotNull, "missing_media")
          .when(col("n_bytes").isNotNull, "missing_embedding")
          .otherwise("text_only"))
      .groupBy("source", "status")
      .agg(count(lit(1)).as("n_samples"),
        sum(coalesce(col("n_bytes"), lit(0L))).as("media_bytes"),
        sum(coalesce(col("emb_dim"), lit(0L))).as("emb_dims"),
        min(col("doc_id")).as("witness_id"))
      .orderBy("source", "status")
  }

  /** m37: cross-modal pair ALIGNMENT filtering — the LAION/DataComp
    * curation gate (Schuhmann arXiv:2210.08402 §3.1, Gadre
    * arXiv:2304.14108: keep an (image, caption) pair only if the
    * embedding similarity clears a bar; LAION-5B used CLIP ≥ 0.28,
    * which removed ~90% of crawled pairs). Here the pair is (media
    * embedding, caption text): the media side is the `embeddings` row
    * with vec_id = doc_id, the caption side vectorizes with s36's
    * hashing-trick kernel — the CLIP encoders are the stand-in (this
    * sandbox has no model weights, the m32 discipline); the pairing
    * join, exact scoring, threshold gate, and per-source removal
    * report are the real operator.
    *
    * Exactness: both sides are integer grids — caption components are
    * `graft_hash_vec`'s exact signed counts, media components quantize
    * to floor(x·10⁶) (s30/s34's device) — so dot and both norms² are
    * EXACT integer-valued doubles (≤ 10¹⁵ < 2⁵³) and
    * round(dot/(√nt·√nv), 6) is bit-identical cross-engine.
    *
    * 100 TB posture: ONE doc_id = vec_id equi-join of the two corpus
    * tables (co-partitionable; production buckets both by sample id —
    * q39's layout makes it exchange-free), kernel + quantization as
    * per-row projections, report = one map-side-combined aggregate.
    * The alignment bar is 0 here (hash-caption × random-media cosines
    * center on 0; a deployment calibrates the bar to its encoder —
    * LAION's 0.28).
    */
  def m37PairAlign(spark: SparkSession, dir: String): DataFrame = {
    val cap = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        expr("graft_hash_vec(split(coalesce(text, ''), ' '))").as("tv"))
    val med = Similarity.quantize(Tables.embeddings(spark, dir))
      .select(col("vec_id").as("doc_id"),
        transform(col("q"), x => x.cast("double")).as("mv"))
    cap.join(med, Seq("doc_id"))
      .withColumn("cos_sim", round(expr(
        "graft_dot(tv, mv) / nullif(sqrt(graft_dot(tv, tv)) * sqrt(graft_dot(mv, mv)), 0D)"),
        6))
      .withColumn("aligned", (col("cos_sim") >= 0d).cast("int"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_pairs"),
        // coalesce: a group whose every cos_sim is NULL (all captions
        // zero-norm) sums to NULL in Spark, while the oracle's CASE sum
        // yields 0 — pin the degenerate group to 0 (ADVICE r8).
        coalesce(sum(col("aligned").cast("long")), lit(0L)).as("n_aligned"),
        round(min(col("cos_sim")), 6).as("min_cos"),
        round(max(col("cos_sim")), 6).as("max_cos"))
      .select(col("source"), col("n_pairs"), col("n_aligned"),
        expr("n_aligned * 10000 DIV n_pairs").as("aligned_pm"),
        col("min_cos"), col("max_cos"))
      .orderBy("source")
  }
}
