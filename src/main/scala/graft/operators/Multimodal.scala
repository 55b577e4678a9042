package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media are opaque `binary` columns travelling next to typed metadata —
  * the layout a 100 TB training-data pipeline needs: the bytes shuffle only
  * when strictly necessary, all filtering happens on the metadata columns,
  * and decode/feature-extraction runs batched per partition (the Scala
  * analog of `mapInPandas`).
  *
  * Two decode paths:
  *  - [[decodeRawFeatures]] — a REAL decoder for the self-describing RAWM
  *    container (magic + width/height/channels header + raw interleaved
  *    samples): header parsing, frame segmentation, and pixel statistics
  *    are computed from the actual payload bytes. Raw containers are what
  *    a pre-tokenization training pipeline stores anyway (decode-once,
  *    scan-many); the format needs no codec library.
  *  - [[decodeFeatures]] — the batched pipeline shape for COMPRESSED
  *    codecs (JPEG/Opus/H.264), whose decode step remains a clearly-marked
  *    STUB: those libraries don't exist in this container, so a
  *    deterministic fake stands in while schema, batch iteration, and
  *    partition-parallel execution stay real and tested.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("meta_width", IntegerType, nullable = true),
    StructField("meta_height", IntegerType, nullable = true)))

  /** Build a synthetic media table from documents: the text bytes stand in
    * for an encoded image payload. Deterministic, and the metadata derivation
    * is plain integer arithmetic (not an engine-specific hash) so any SQL
    * engine can reproduce it — which is what lets the resize-plan query have
    * a real DuckDB oracle instead of a rows-only check.
    */
  def syntheticMedia(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      when(pmod(col(idCol), lit(3)) === 0, lit("image"))
        .when(pmod(col(idCol), lit(3)) === 1, lit("audio"))
        .otherwise(lit("video")).as("kind"),
      encode(col(textCol), "UTF-8").as("payload"),
      (pmod(col(idCol).cast("long") * lit(2654435761L), lit(1024L)) + 1).cast("int").as("meta_width"),
      (pmod(col(idCol).cast("long") * lit(2246822519L), lit(1024L)) + 1).cast("int").as("meta_height"))

  // ---- RAWM container: [R A W M][u16 width][u16 height][u8 channels][samples…]

  private val Magic: Array[Byte] = Array('R', 'A', 'W', 'M').map(_.toByte)
  /** Header bytes: magic(4) + u16 width + u16 height + u8 channels. */
  val HeaderLen = 9

  /** Encode one frame-sequence payload: header + `frames × w × h × c` raw
    * samples. Big-endian u16 dims keep the header arithmetic trivial.
    */
  def packRawMedia(width: Int, height: Int, channels: Int, samples: Array[Byte]): Array[Byte] = {
    require(width > 0 && width <= 0xFFFF && height > 0 && height <= 0xFFFF)
    require(channels > 0 && channels <= 255)
    require(samples.length % (width * height * channels) == 0, "partial frame")
    val out = new Array[Byte](HeaderLen + samples.length)
    System.arraycopy(Magic, 0, out, 0, 4)
    out(4) = (width >> 8).toByte; out(5) = width.toByte
    out(6) = (height >> 8).toByte; out(7) = height.toByte
    out(8) = channels.toByte
    System.arraycopy(samples, 0, out, HeaderLen, samples.length)
    out
  }

  /** Decoded RAWM properties, computed from the real bytes. */
  final case class RawDecoded(width: Int, height: Int, channels: Int,
      nFrames: Int, meanSample: Double, minSample: Int, maxSample: Int)

  /** Parse a RAWM payload: None when the magic/shape is wrong (corrupt or
    * foreign payloads must not kill a 100 TB job — they surface as NULL
    * feature rows the pipeline can route to quarantine).
    */
  def decodeRaw(payload: Array[Byte]): Option[RawDecoded] = {
    if (payload == null || payload.length < HeaderLen) return None
    var i = 0
    while (i < 4) { if (payload(i) != Magic(i)) return None; i += 1 }
    val w = ((payload(4) & 0xFF) << 8) | (payload(5) & 0xFF)
    val h = ((payload(6) & 0xFF) << 8) | (payload(7) & 0xFF)
    val c = payload(8) & 0xFF
    if (w == 0 || h == 0 || c == 0) return None
    // Long arithmetic: 65535×65535×255 overflows Int, and an adversarial
    // header must yield None, not a divide-by-zero in the modulo below
    val frameBytes = w.toLong * h * c
    val body = (payload.length - HeaderLen).toLong
    if (body == 0 || body % frameBytes != 0) return None
    var sum = 0L
    var mn = 255
    var mx = 0
    i = HeaderLen
    while (i < payload.length) {
      val v = payload(i) & 0xFF
      sum += v
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    Some(RawDecoded(w, h, c, (body / frameBytes).toInt, sum.toDouble / body, mn, mx))
  }

  /** Synthetic RAWM media table: deterministic payloads, small dims, 1–4
    * frames. The sample function is position-based modular arithmetic
    * (`(id·31 + i·17) mod 251`), NOT a recursive PRNG, deliberately: any
    * SQL engine can recompute the expected pixel statistics from first
    * principles, which is what gives the real-decode queries a DuckDB
    * oracle — the oracle models the generator arithmetically while Spark
    * recovers the same numbers by actually parsing the bytes.
    */
  def syntheticRawMedia(spark: SparkSession, n: Int): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(mediaSchema)
    spark.range(n.toLong).toDF("media_id").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        val w = (id % 7 + 2).toInt; val h = (id % 5 + 2).toInt
        val c = if (kind == "audio") 1 else 3
        val frames = if (kind == "video") (id % 4 + 1).toInt else 1
        val samples = new Array[Byte](w * h * c * frames)
        var i = 0
        while (i < samples.length) {
          samples(i) = ((id * 31 + i * 17) % 251).toByte
          i += 1
        }
        Row(id, kind, packRawMedia(w, h, c, samples), w, h)
      }
    }(enc)
  }

  /** REAL batched decode of RAWM payloads: one pass per partition, NULL
    * features for undecodable rows.
    */
  def decodeRawFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val outSchema = StructType(media.schema.fields.filterNot(_.name == "payload") ++ Seq(
      StructField("payload_bytes", LongType, nullable = false),
      StructField("n_frames", IntegerType, nullable = true),
      StructField("mean_sample", DoubleType, nullable = true),
      StructField("min_sample", IntegerType, nullable = true),
      StructField("max_sample", IntegerType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    // positional access: upstream mapPartitions stages can hand over plain
    // GenericRows (no schema), where name-based getAs would throw. The row
    // below is built in mediaSchema's column order, so reject frames whose
    // layout differs — a reordered/extended schema would mis-assign values.
    val schema = media.schema
    require(schema.fieldNames.sameElements(mediaSchema.fieldNames),
      s"decodeRawFeatures expects the mediaSchema layout ${mediaSchema.fieldNames.mkString(",")}, " +
        s"got ${schema.fieldNames.mkString(",")}")
    val iId = schema.fieldIndex("media_id")
    val iKind = schema.fieldIndex("kind")
    val iPayload = schema.fieldIndex("payload")
    val iW = schema.fieldIndex("meta_width")
    val iH = schema.fieldIndex("meta_height")
    media.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](iPayload)
        val d = decodeRaw(payload)
        Row(
          r.getLong(iId),
          r.getString(iKind),
          r.getInt(iW),
          r.getInt(iH),
          (if (payload == null) 0 else payload.length).toLong,
          d.map(_.nFrames).orNull,
          d.map(_.meanSample).orNull,
          d.map(_.minSample).orNull,
          d.map(_.maxSample).orNull)
      }
    }(enc)
  }

  /** Per-frame perceptual fingerprint from the REAL decoded bytes: bit k
    * is set when sample k of the frame is strictly brighter than the frame
    * mean — an average-hash (aHash) in exact integer form (`pix·n > Σpix`,
    * no division, no FP), the fingerprint a multimodal corpus near-dups
    * frames on. One partition pass, one output row per frame (rows ∝
    * frames); undecodable payloads contribute nothing (the quarantine
    * rule). The oracle recomputes every bit from the generator's
    * closed-form pixel model — bytes → decode → hash must equal the model
    * (the m04 contract, extended to per-sample access).
    */
  def frameFingerprints(spark: SparkSession, media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", LongType, nullable = false),
      StructField("fingerprint", LongType, nullable = false),
      // significant hash width = min(64, samples/frame): bits ≥ width are
      // structurally zero — the banding quarantine keys off this (a
      // sub-width fingerprint's zero chunks are padding, not signal)
      StructField("width", IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val schema = media.schema
    require(schema.fieldNames.sameElements(mediaSchema.fieldNames),
      s"frameFingerprints expects the mediaSchema layout ${mediaSchema.fieldNames.mkString(",")}, " +
        s"got ${schema.fieldNames.mkString(",")}")
    val iId = schema.fieldIndex("media_id")
    val iPayload = schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(iId)
        val payload = r.getAs[Array[Byte]](iPayload)
        decodeRaw(payload) match {
          case None => Iterator.empty
          case Some(d) =>
            val n = d.width * d.height * d.channels
            (0 until d.nFrames).iterator.map { f =>
              val base = HeaderLen + f * n
              var sum = 0L
              var k = 0
              while (k < n) { sum += (payload(base + k) & 0xFF); k += 1 }
              var fp = 0L
              k = 0
              val bits = math.min(64, n)
              while (k < bits) {
                if ((payload(base + k) & 0xFF).toLong * n > sum) fp |= (1L << k)
                k += 1
              }
              Row(id, f.toLong, fp, bits)
            }
        }
      }
    }(enc)
  }

  /** Near-dup frame pairs from 64-bit aHash fingerprints: d03's 16-bit
    * chunk banding ([[BandLsh.hammingPairs]], pigeonhole-exact for hamming ≤ 3: three flips cannot
    * touch all four chunks) with the SUB-WIDTH QUARANTINE implemented in
    * the plan (VERDICT r7 — previously prose):
    *
    *  - FULL-WIDTH fingerprints (width = 64) band over the 4 chunks and
    *    bucket-join — every zero chunk in a bucket key is then SIGNAL
    *    (samples below the frame mean), not padding, so bucket sizes stay
    *    bounded by genuine hash collisions.
    *  - SUB-WIDTH fingerprints (width < 64 — short payloads: thumbnails,
    *    truncated media; rare in a production corpus, the same class m06's
    *    decode quarantines) are FILTERED OUT of the banding: their padding
    *    zero chunks would otherwise all land in one (chunk, 0) bucket and
    *    the bucket join would go quadratic in the quarantine size. They
    *    pair through two broadcast paths instead — quarantine×quarantine
    *    and quarantine×corpus exact hamming — whose cost is |quarantine|-
    *    proportional per corpus row: bounded by the quarantine's
    *    smallness, never by a bucket blow-up.
    *
    * The three paths partition the pair space (full×full, quar×quar,
    * quar×full), so the union equals all-pairs hamming ≤ 3 exactly — the
    * m07 oracle is unchanged by the quarantine.
    */
  def phashNearDupPairs(
      fps: DataFrame,
      idCol: String,
      fpCol: String,
      widthCol: String): DataFrame = {
    import graft.functions.TextFns
    val f = fps.select(col(idCol).as("id"), col(fpCol).as("sig"), col(widthCol).as("w"))
    val full = f.where(col("w") >= 64).select(col("id"), col("sig"))
      .repartition(col("id"))
    val ff = BandLsh.hammingPairs(full, maxHamming = 3)
    val quar = f.where(col("w") < 64).select(col("id"), col("sig"))
    val qq = quar.select(col("id").as("a"), col("sig").as("sig_a"))
      .crossJoin(broadcast(quar.select(col("id").as("b"), col("sig").as("sig_b"))))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), TextFns.hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .where(col("hamming") <= 3)
    val qf = full.select(col("id").as("fa"), col("sig").as("sig_a"))
      .crossJoin(broadcast(quar.select(col("id").as("qb"), col("sig").as("sig_b"))))
      .select(least(col("fa"), col("qb")).as("a"), greatest(col("fa"), col("qb")).as("b"),
        TextFns.hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .where(col("hamming") <= 3)
    ff.unionByName(qq).unionByName(qf)
  }

  /** STUB decode: in production this would call an image/audio codec on each
    * payload batch. Here it derives deterministic pseudo-features so the
    * pipeline shape (batched per-partition decode → feature columns) is
    * fully exercised. The fake is a CLOSED-FORM model over
    * `(media_id, payload byte length)` — the length is read from the real
    * payload bytes, and the arithmetic is plain modular math any SQL engine
    * can recompute (`strlen(text)` reproduces the UTF-8 byte count), which
    * is what gives the m01 pipeline a cross-engine oracle — the same trick
    * the RAWM generator uses (see [[syntheticRawMedia]]).
    */
  private def fakeDecode(mediaId: Long, payload: Array[Byte]): (Int, Double) = {
    // ??? <- real codec goes here; closed-form deterministic fake below
    val len = payload.length.toLong
    val nFrames = ((mediaId * 31 + len) % 64).toInt + 1
    val meanLuma = ((mediaId * 17 + len * 13) % 10000).toDouble / 10000.0
    (nFrames, meanLuma)
  }

  /** Batched per-partition "decode" + feature extraction. Runs as one pass
    * over each partition (no per-row task overhead), emitting typed feature
    * columns alongside the metadata.
    */
  def decodeFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val outSchema = StructType(media.schema.fields.filterNot(_.name == "payload") ++ Seq(
      StructField("payload_bytes", LongType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("mean_luma", DoubleType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val (nFrames, meanLuma) = fakeDecode(r.getAs[Long]("media_id"), payload)
        Row(
          r.getAs[Long]("media_id"),
          r.getAs[String]("kind"),
          r.getAs[Int]("meta_width"),
          r.getAs[Int]("meta_height"),
          payload.length.toLong,
          nFrames,
          meanLuma)
      }
    }(enc)
  }

  /** Frame sampling for video media: every `stride`-th frame index from the
    * decoded frame count (STUB decode — indices are real plumbing, the
    * frames themselves would come from the codec). Explodes to one row per
    * sampled frame, the shape a frame-level training pipeline consumes.
    */
  def sampleFrames(decoded: DataFrame, stride: Int): DataFrame =
    decoded
      .where(col("kind") === "video")
      .select(
        col("media_id"),
        col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))

  /** Resize planning for image media: target box fit preserving aspect
    * ratio (pure metadata arithmetic — the pixel work is the stubbed codec's
    * job; the point is that filtering/partitioning happens on metadata
    * without touching payload bytes).
    */
  def resizePlan(media: DataFrame, maxSide: Int): DataFrame =
    media
      .where(col("kind") === "image")
      .select(
        col("media_id"), col("meta_width"), col("meta_height"),
        least(lit(maxSide) / greatest(col("meta_width"), col("meta_height")).cast("double"), lit(1.0)).as("_scale"))
      .select(
        col("media_id"), col("meta_width"), col("meta_height"),
        round(col("meta_width") * col("_scale")).cast("int").as("out_width"),
        round(col("meta_height") * col("_scale")).cast("int").as("out_height"))

  /** Per-kind feature rollup over the decoded features. */
  def featureStats(decoded: DataFrame): DataFrame =
    decoded
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("payload_bytes")).as("total_bytes"),
        round(avg(col("n_frames")), 4).as("avg_frames"),
        round(avg(col("mean_luma")), 4).as("avg_luma"))
}
