package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, plus decode / feature-extract / frame-sample operators.
  *
  * The decode step is a clearly-marked STUB (no image/audio codecs in this
  * environment): `decodeStub` produces a deterministic fake — a 16-bin
  * byte histogram as the "feature vector" and dimensions derived from the
  * payload. Everything AROUND the stub is the real Spark shape:
  *
  *  - schema: (id, media: binary, format, width, height) — media stays
  *    opaque bytes end to end, never stringified;
  *  - batch seam: `extractFeatures` runs via mapPartitions over a typed
  *    Dataset, the Scala analog of mapInPandas — a real decoder (JNI
  *    codec, ONNX runtime) plugs into the partition iterator and amortizes
  *    model/codec init once per partition, not per row;
  *  - partitioning: media tables repartition by id before heavy decode so
  *    work spreads evenly and a decoded partition fits in executor memory;
  *  - frame sampling: explode fixed-offset byte windows, one row per
  *    frame, the shape video pipelines use before per-frame featurization.
  */
object Multimodal {

  final case class MediaRow(id: Long, media: Array[Byte], format: String)
  final case class MediaFeatures(id: Long, format: String, byte_len: Int,
      width: Int, height: Int, features: Array[Double])

  /** Build a media table from any (id, text) source: payload = utf8 bytes
    * (stand-in for real image/audio bytes), format round-robins over a
    * small set, dimensions derived deterministically. */
  def toMediaTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      encode(col(textCol), "UTF-8").as("media"),
      element_at(array(lit("png"), lit("jpeg"), lit("webp")),
        (col(idCol) % 3 + 1).cast("int")).as("format"))
      // dims from the cross-engine h56 so the media table's metadata —
      // and every query over it — stays oracle-recomputable
      .withColumn("width", (pmod(graft.engine.Det.h56(
        concat(lit("w:"), col("id").cast("string"))), lit(1920)) + 1).cast("int"))
      .withColumn("height", (pmod(graft.engine.Det.h56(
        concat(lit("h:"), col("id").cast("string"))), lit(1080)) + 1).cast("int"))

  /** STUB decode: deterministic 16-bin byte histogram, L1-normalized.
    * Replace with a real codec at the same call site. */
  def decodeStub(media: Array[Byte]): Array[Double] = {
    val bins = new Array[Double](16)
    var i = 0
    while (i < media.length) {
      bins((media(i) & 0xff) >> 4) += 1.0
      i += 1
    }
    val n = math.max(1, media.length).toDouble
    bins.map(_ / n)
  }

  /** Feature extraction over the batch seam: one decoder init per
    * partition, rows streamed through it. */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    val typed = media.select(col("id"), col("media"), col("format"),
      col("width"), col("height"))
      .as[(Long, Array[Byte], String, Int, Int)]
    typed.mapPartitions { rows =>
      // decoder/codec init would happen HERE, once per partition
      rows.map { case (id, bytes, fmt, w, h) =>
        MediaFeatures(id, fmt, bytes.length, w, h, decodeStub(bytes))
      }
    }
  }

  /** Media → embedding bridge: project the decoded feature vector to a
    * dims-dim L2-normalized float embedding via a fixed deterministic
    * Rademacher matrix (signs derived from (j, i) on the driver — data
    * independent, so the projection is identical on every run/cluster).
    * With a real encoder the mapPartitions seam in [[extractFeatures]]
    * produces the embedding directly; this keeps the downstream shape —
    * `(id, embedding: array<float>)`, ready for [[Similarity]] ANN — real
    * and tested while the encoder is stubbed. Pure column expressions
    * (fixed 16 source dims → no HOFs, stays in codegen). */
  /** Fixed data-independent Rademacher sign for [[pseudoEmbed]] (j =
    * output dim, i = feature dim) — public so oracle SQL generation uses
    * the SAME constants as the plan. */
  def rademacherSign(j: Int, i: Int): Double =
    if ((((j * 31 + i) * 2654435761L >>> 16) & 1) == 1) 1.0 else -1.0

  val PseudoDims = 8
  val FeatCol = "features"

  def pseudoEmbed(features: DataFrame): DataFrame = {
    val comps = (0 until PseudoDims).map { j =>
      (0 until 16).map(i =>
        element_at(col(FeatCol), i + 1) * lit(rademacherSign(j, i)))
        .reduce(_ + _).as(s"__e$j")
    }
    val withComps = features.select(col("*") +: comps: _*)
    val norm = sqrt((0 until PseudoDims).map(j => col(s"__e$j") * col(s"__e$j"))
      .reduce(_ + _))
    withComps
      .withColumn("__n", norm)
      .withColumn("embedding", array((0 until PseudoDims).map(j =>
        when(col("__n") > 0, col(s"__e$j") / col("__n")).otherwise(0.0)
          .cast("float")): _*))
      .drop((0 until PseudoDims).map(j => s"__e$j") :+ "__n": _*)
  }

  /** Aspect-preserving resize PLAN: pure integer metadata arithmetic —
    * fit (width, height) into maxDim × maxDim, never upscale, and predict
    * the resized payload size as the pixel-count-proportional share of
    * the original bytes (ceil, so nonempty media never plans to zero).
    * All arithmetic is integer `DIV` on positive operands, so the plan is
    * engine-recomputable and oracle-checked; the payload transformation
    * itself happens in [[resizeStub]] behind the codec seam. Returns
    * (id, format, width, height, orig_bytes, new_width, new_height,
    * resized_bytes). */
  def resizePlan(media: DataFrame, maxDim: Int): DataFrame = {
    require(maxDim >= 1, s"maxDim: $maxDim")
    media.select(col("id"), col("format"), col("width"), col("height"),
        length(col("media")).cast("long").as("orig_bytes"))
      .withColumn("__m", greatest(col("width"), col("height")))
      .withColumn("new_width",
        when(col("__m") <= maxDim, col("width"))
          .otherwise(greatest(lit(1),
            expr(s"(width * $maxDim) DIV __m").cast("int"))))
      .withColumn("new_height",
        when(col("__m") <= maxDim, col("height"))
          .otherwise(greatest(lit(1),
            expr(s"(height * $maxDim) DIV __m").cast("int"))))
      .withColumn("resized_bytes",
        when(col("orig_bytes") === 0, lit(0L))
          .otherwise(expr("(orig_bytes * new_width * new_height - 1)" +
            " DIV (CAST(width AS BIGINT) * height) + 1")))
      .drop("__m")
  }

  final case class ResizedMedia(id: Long, format: String,
      media: Array[Byte], new_width: Int, new_height: Int)

  /** STUB resize execution through the same mapPartitions codec seam as
    * [[extractFeatures]]: a real resampler (libvips, JNI codec) plugs
    * into the partition iterator and amortizes init once per partition.
    * The stub truncates the payload to the planned byte count — a
    * deterministic fake whose OUTPUT SHAPE (payload length == plan's
    * resized_bytes, metadata carried) MultimodalSpec pins. */
  def resizeStub(spark: SparkSession, media: DataFrame,
      maxDim: Int): Dataset[ResizedMedia] = {
    import spark.implicits._
    val plan = resizePlan(media, maxDim)
      .select("id", "new_width", "new_height", "resized_bytes")
    media.select(col("id"), col("format"), col("media"))
      .join(plan, Seq("id"))
      .select(col("id"), col("format"), col("media"), col("new_width"),
        col("new_height"), col("resized_bytes"))
      .as[(Long, String, Array[Byte], Int, Int, Long)]
      .mapPartitions { rows =>
        // resampler/codec init would happen HERE, once per partition
        rows.map { case (id, fmt, bytes, nw, nh, nb) =>
          ResizedMedia(id, fmt, bytes.take(nb.toInt), nw, nh)
        }
      }
  }

  /** Frame sampling: n evenly-spaced byte windows per media row, exploded
    * to one row per frame — pure expressions, no decode needed. */
  def frameSample(media: DataFrame, nFrames: Int, frameBytes: Int): DataFrame = {
    val step = math.max(1, nFrames - 1)
    media
      .withColumn("__len", length(col("media")))
      .select(col("id"), col("format"), col("__len"),
        posexplode(transform(sequence(lit(0), lit(nFrames - 1)),
          f => col("media").substr(
            (f * greatest(col("__len") - frameBytes, lit(1)) / step + 1).cast("int"),
            lit(frameBytes)))).as(Seq("frame_id", "frame_bytes")))
      .withColumn("frame_len", length(col("frame_bytes")))
  }
}
