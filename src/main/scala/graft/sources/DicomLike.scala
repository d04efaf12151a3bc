package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S7: multimodal record read — binary volume files with nested metadata
  * (`generate_mapping.py:116-140` reads DICOM via pydicom and plucks
  * deeply nested tags with try/except-to-None).
  *
  * No DICOM parser exists on this JVM and no `.dcm` files ship with the
  * reference (SURVEY.md §7), so the FORMAT here is a synthetic
  * DICOM-like container (`GDCM` magic + length-prefixed UTF-8 metadata
  * + opaque pixel payload). Everything around the byte-level decode —
  * the binaryFile source, the null-safe nested extraction into a typed
  * struct column, column pruning, the downstream pipeline — is the real
  * Spark plumbing and is what the tests exercise. Swapping in a real
  * DICOM tag walker changes only [[parseMeta]]'s body.
  *
  * The extraction is a Scala UDF (the reference's only non-relational
  * kernel, SURVEY.md §2.2 "UDF surface"). The pixel payload has a REAL
  * decode: the container commits to a row-major uint8 tensor whose
  * byte length equals product(ImageShape), decoded by [[decodeFrames]]
  * into one `Array[Int]` of rows×cols values per leading-axis slice
  * (the reference reads `ds.pixel_array` and branches on `ndim == 3`,
  * `generate_mapping.py:116-117,125` — here the decoded frame count and
  * values are first-class columns). A shape/payload mismatch yields
  * NULL frames while the metadata stays valid, mirroring the
  * try/except-to-None posture. `pixelChecksum` remains as a cheap
  * whole-payload integrity digest alongside the decode.
  */
object DicomLike {

  val Magic: Array[Byte] = "GDCM".getBytes(StandardCharsets.US_ASCII)

  /** Columns mirroring the DICOM tags the reference consumes
    * (`generate_mapping.py:118-140`); None -> SQL NULL. */
  case class Meta(
      SOPInstanceUID: String,
      PatientID: String,
      StudyInstanceUID: String,
      SeriesInstanceUID: String,
      Modality: String,
      SeriesDescription: String,
      FrameLaterality: Option[String],
      SliceThickness: Option[Int],
      ViewModifier: Option[String],
      ImageShape: Seq[Int],
      pixelBytes: Long,
      pixelChecksum: Long)

  /** Serialize a synthetic volume: magic | metaLen:int32 | meta-kv UTF-8
    * (k=v lines) | pixel payload. Deterministic given its inputs. */
  def encode(fields: Map[String, String], shape: Seq[Int],
      pixels: Array[Byte]): Array[Byte] = {
    val meta = (fields + ("ImageShape" -> shape.mkString("x")))
      .toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n")
    val metaBytes = meta.getBytes(StandardCharsets.UTF_8)
    val buf = ByteBuffer.allocate(Magic.length + 4 + metaBytes.length + pixels.length)
    buf.put(Magic).putInt(metaBytes.length).put(metaBytes).put(pixels)
    buf.array()
  }

  /** Null-safe decode: malformed bytes -> None (the try/except-to-None
    * idiom of the reference, lifted to Option). */
  def parseMeta(bytes: Array[Byte]): Option[Meta] = {
    try {
      if (bytes.length < Magic.length + 4) return None
      if (!bytes.take(Magic.length).sameElements(Magic)) return None
      val buf = ByteBuffer.wrap(bytes, Magic.length, 4)
      val metaLen = buf.getInt
      val metaStart = Magic.length + 4
      if (metaLen < 0 || metaStart + metaLen > bytes.length) return None
      val meta = new String(bytes, metaStart, metaLen, StandardCharsets.UTF_8)
      val kv = meta.split("\n").iterator
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      val pixelStart = metaStart + metaLen
      val nPix = bytes.length - pixelStart
      // STUB decode: shape + byte checksum stand in for the pixel tensor.
      var sum = 0L
      var i = pixelStart
      while (i < bytes.length) { sum = sum * 31 + (bytes(i) & 0xff); i += 1 }
      if (!kv.contains("SOPInstanceUID") || !kv.contains("PatientID")) return None
      Some(Meta(
        SOPInstanceUID = kv("SOPInstanceUID"),
        PatientID = kv("PatientID"),
        StudyInstanceUID = kv.getOrElse("StudyInstanceUID", ""),
        SeriesInstanceUID = kv.getOrElse("SeriesInstanceUID", ""),
        Modality = kv.getOrElse("Modality", ""),
        SeriesDescription = kv.getOrElse("SeriesDescription", ""),
        FrameLaterality = kv.get("FrameLaterality"),
        SliceThickness = kv.get("SliceThickness").flatMap(_.toIntOption),
        ViewModifier = kv.get("ViewModifier"),
        ImageShape = kv.get("ImageShape").map(_.split("x").toSeq.flatMap(_.toIntOption))
          .getOrElse(Seq.empty),
        pixelBytes = nPix.toLong,
        pixelChecksum = sum))
    } catch { case _: Exception => None }
  }

  private val metaUdf = udf((bytes: Array[Byte]) =>
    if (bytes == null) None else parseMeta(bytes)).withName("dicom_meta")

  /** Decorate a binaryFile scan (path, content, ...) with the extracted
    * metadata struct; undecodable files keep a NULL struct.
    *
    * The decode is the generator of a one-row explode, not a projected
    * column. Catalyst substitutes a projected column's expression into
    * every predicate it pushes below the projection (`meta IS NOT NULL`,
    * each filter on a `meta` field, the join's inferred not-null
    * filters), so a plain `withColumn` ran the decode about seven times
    * per file. A predicate on a generator's output stays above the
    * generator, so each file is decoded once. `array` of one element
    * always yields exactly one row, so an undecodable file still yields
    * its NULL-`meta` row. */
  def withMeta(scanned: DataFrame, contentCol: String = "content"): DataFrame =
    scanned.select(col("*"), explode_outer(array(metaUdf(col(contentCol)))).as("meta"))

  /** Flattened volume-metadata view feeding
    * [[graft.pipeline.Ea1141Pipeline.buildMapping]]. */
  def volumes(scanned: DataFrame): DataFrame =
    withMeta(scanned)
      .filter(col("meta").isNotNull)
      .select(col("path").as("ImagePath"), col("meta.*"))

  /** Byte offset where the pixel payload starts, or None if the header
    * is malformed. */
  private[sources] def payloadStart(bytes: Array[Byte]): Option[Int] = {
    if (bytes == null || bytes.length < Magic.length + 4) return None
    if (!bytes.take(Magic.length).sameElements(Magic)) return None
    val metaLen = ByteBuffer.wrap(bytes, Magic.length, 4).getInt
    val start = Magic.length + 4 + metaLen
    if (metaLen < 0 || start > bytes.length) None else Some(start)
  }

  /** REAL pixel decode. Contract: the payload is a row-major uint8
    * tensor of exactly product(shape) bytes; the leading axis is the
    * slice/frame axis. Returns one Array[Int] (values 0–255) per frame;
    * None when the header is malformed or payload length ≠
    * product(shape) — a mismatched file is undecodable, not truncated. */
  def decodeFrames(bytes: Array[Byte], shape: Seq[Int]): Option[Seq[Array[Int]]] = {
    val start = payloadStart(bytes).getOrElse(return None)
    if (shape.isEmpty || shape.exists(_ <= 0)) return None
    val prod = shape.foldLeft(1L)(_ * _)
    if (prod != (bytes.length - start).toLong) return None
    val nSlices = shape.head
    val per = (prod / nSlices).toInt
    Some((0 until nSlices).map { s =>
      val a = new Array[Int](per)
      var i = 0
      val base = start + s * per
      while (i < per) { a(i) = bytes(base + i) & 0xff; i += 1 }
      a
    })
  }

  private val decodeUdf = udf((bytes: Array[Byte], shape: Seq[Int]) =>
    if (bytes == null || shape == null) None else decodeFrames(bytes, shape))

  /** Decorate a scan with the decoded `frames` column (NULL when
    * undecodable) — the v1 twin of the V2 source's `frames` column. */
  def withFrames(scanned: DataFrame): DataFrame =
    withMeta(scanned)
      .withColumn("frames", decodeUdf(col("content"), col("meta.ImageShape")))

  /** One sampled frame: slice index + its byte range + decoded-pixel
    * statistics for that slice. */
  case class Frame(slice: Int, offset: Long, nBytes: Long,
      pxMin: Int, pxMax: Int, pxMean: Double)

  /** Frame sampling over the pixel payload: pick `k` evenly spaced
    * slices using the shape metadata, slice the corresponding byte
    * ranges, and emit per-slice DECODED pixel stats (uint8 min/max/mean
    * — the mean is an exact integer sum over the slice divided once, so
    * it is partition-order independent). Tolerates payloads whose length
    * is not an exact multiple of the slice count by flooring the
    * per-slice byte width, like a trailing-padding container would. */
  private def sampleFramesImpl(bytes: Array[Byte], shape: Seq[Int], k: Int): Seq[Frame] = {
    if (bytes == null || shape.isEmpty || shape.head <= 0) return Seq.empty
    val metaEnd = payloadStart(bytes).getOrElse(return Seq.empty)
    val nSlices = shape.head
    val payload = bytes.length - metaEnd
    val perSlice = math.max(1L, payload.toLong / nSlices)
    val picks = if (k >= nSlices) 0 until nSlices
      else (0 until k).map(i => (i.toLong * nSlices / k).toInt)
    picks.map { s =>
      val from = (metaEnd + s * perSlice).toInt
      val until = math.min(bytes.length.toLong, from + perSlice).toInt
      var mn = 255; var mx = 0; var sum = 0L
      var i = from
      while (i < until) {
        val v = bytes(i) & 0xff
        if (v < mn) mn = v
        if (v > mx) mx = v
        sum += v
        i += 1
      }
      val n = until - from
      Frame(s, from.toLong - metaEnd, n.toLong,
        if (n == 0) 0 else mn, if (n == 0) 0 else mx,
        if (n == 0) 0.0 else sum.toDouble / n)
    }
  }

  private val framesUdf = udf((bytes: Array[Byte], shape: Seq[Int], k: Int) =>
    sampleFramesImpl(bytes, shape, k))

  /** Explode a decoded scan into per-sampled-frame rows. */
  def sampleFrames(scanned: DataFrame, k: Int): DataFrame =
    withMeta(scanned)
      .filter(col("meta").isNotNull)
      .select(col("path"), col("meta.SOPInstanceUID").as("uid"),
        col("meta.ImageShape").as("shape"),
        explode(framesUdf(col("content"), col("meta.ImageShape"), lit(k))).as("frame"))
      .select(col("uid"), col("shape"), col("frame.*"))

  /** Feature extraction from DECODED pixel values: the payload's uint8
    * values are split into `dim` stratified buckets and each feature is
    * that bucket's mean intensity scaled to [0,1] — a deterministic,
    * partition-order-independent stand-in for a learned embedding with
    * the same schema, batching and partitioning. */
  private val featureUdf = udf((bytes: Array[Byte], dim: Int) => {
    val start = if (bytes == null) None else payloadStart(bytes)
    start.map { s =>
      val n = bytes.length - s
      Array.tabulate(dim) { i =>
        val from = s + (i.toLong * n / dim).toInt
        val until = s + ((i + 1).toLong * n / dim).toInt
        if (until <= from) 0f
        else {
          var sum = 0L
          var j = from
          while (j < until) { sum += bytes(j) & 0xff; j += 1 }
          (sum.toDouble / (until - from) / 255.0).toFloat
        }
      }
    }.orNull
  })

  def extractFeatures(scanned: DataFrame, dim: Int = 16): DataFrame =
    withMeta(scanned)
      .filter(col("meta").isNotNull)
      .select(col("meta.SOPInstanceUID").as("uid"),
        featureUdf(col("content"), lit(dim)).as("features"))

  /** 64-bit average-hash (aHash) of one decoded frame — the standard
    * perceptual image fingerprint (resize to 8×8, threshold each cell
    * on the global mean), done in EXACT integer arithmetic so the
    * Python golden (tools/gen_phash_golden.py) reproduces it bit for
    * bit: grid cell (gi,gj) covers rows [gi·rows/8,(gi+1)·rows/8) ×
    * cols [gj·cols/8,(gj+1)·cols/8) (integer boundaries — any frame
    * size works, cells can be empty below 8×8), and bit gi·8+gj is set
    * iff cellSum·N > frameSum·cellCount (the block-mean > frame-mean
    * comparison cross-multiplied, so no division and no floats). A
    * uniform brightness shift +k moves both sides by k·cellCount·N —
    * the hash is exactly invariant, which is the property the planted
    * near-dups in [[DicomNearDupFixtures]] exercise.
    *
    * A UDF for the same reason [[decodeFrames]] is one: there is no
    * built-in 2-D block reduce, and the input is already the decode
    * UDF's output, off the codegen path. The downstream candidate
    * generation (banding, hamming verify) is all native bitwise
    * Columns — see q_frame_phash_near.
    */
  def ahash64(px: Seq[Int], rows: Int, cols: Int): Option[Long] = {
    if (px == null || rows <= 0 || cols <= 0) return None
    val n = rows * cols
    if (px.length != n) return None
    val a = px.toArray
    var s = 0L
    var i = 0
    while (i < n) { s += a(i); i += 1 }
    var hash = 0L
    var gi = 0
    while (gi < 8) {
      val r0 = gi * rows / 8; val r1 = (gi + 1) * rows / 8
      var gj = 0
      while (gj < 8) {
        val c0 = gj * cols / 8; val c1 = (gj + 1) * cols / 8
        val nb = (r1 - r0).toLong * (c1 - c0)
        if (nb > 0) {
          var sb = 0L
          var r = r0
          while (r < r1) {
            var c = c0
            val base = r * cols
            while (c < c1) { sb += a(base + c); c += 1 }
            r += 1
          }
          if (sb * n > s * nb) hash |= 1L << (gi * 8 + gj)
        }
        gj += 1
      }
      gi += 1
    }
    Some(hash)
  }

  private val ahashUdf = udf((px: Seq[Int], rows: Int, cols: Int) =>
    ahash64(px, rows, cols))

  /** Column form of [[ahash64]]. */
  def ahash(px: Column, rows: Column, cols: Column): Column =
    ahashUdf(px, rows, cols)
}
