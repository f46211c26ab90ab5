package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata.
  *
  * The decode step is STUBBED (this container has no image/audio codecs) —
  * `fakeDecode` derives deterministic pseudo-metadata from the bytes, but the
  * Spark-side shape is real: binary column in, per-partition batch iteration
  * via mapPartitions (the Scala analog of mapInPandas batch processing),
  * typed metadata schema out, partitioning preserved. Swapping `fakeDecode`
  * for a real codec is the only change needed in production.
  */
object Multimodal {

  case class MediaMeta(
      media_id: Long,
      byte_len: Long,
      first_byte: Int,
      width: Int,
      height: Int,
      checksum: Long)

  /** STUB decode: deterministic pseudo width/height/checksum from bytes.
    * A real implementation would hand `bytes` to a codec here.
    */
  def fakeDecode(id: Long, bytes: Array[Byte]): MediaMeta = {
    // position-weighted byte sum: deterministic and SQL-mirrorable
    var cs = 0L
    var i = 0
    while (i < bytes.length) { cs += (bytes(i) & 0xff).toLong * (i + 1); i += 1 }
    MediaMeta(
      media_id = id,
      byte_len = bytes.length.toLong,
      first_byte = if (bytes.nonEmpty) bytes(0) & 0xff else -1,
      width = (bytes.length % 640).toInt,
      height = (bytes.length % 480).toInt,
      checksum = cs)
  }

  /** (media_id long, payload binary) -> typed metadata Dataset. Batch shape:
    * one decode call per row inside mapPartitions — codec state can be
    * hoisted per-partition (the expensive part for real codecs).
    */
  def decodeMeta(media: DataFrame): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition setup would init the codec once here
        it.map { case (id, bytes) => fakeDecode(id, bytes) }
      }
  }

  /** Frame sampling for video/audio-shaped payloads: treat the payload as a
    * sequence of fixed `frameSize`-byte frames and emit every `stride`-th
    * COMPLETE frame as its own row (media_id, frame_idx, frame). Pure
    * codegen'd column expressions (sequence/filter/substr/posexplode) — no
    * UDF, map-only, partitioning preserved; the real-codec analog hands
    * each emitted frame to a decoder downstream.
    */
  def frameSample(media: DataFrame, frameSize: Int, stride: Int): DataFrame = {
    require(frameSize > 0 && stride > 0)
    val nFrames = (octet_length(col("payload")) / frameSize).cast("long")
    val idx = when(nFrames > 0, filter(sequence(lit(0L), nFrames - 1),
      i => i % stride === 0)).otherwise(typedlit(Seq.empty[Long]))
    media.select(col("media_id"),
      posexplode(transform(idx,
        i => col("payload").substr((i * frameSize + 1).cast("int"), lit(frameSize))))
        .as(Seq("pos", "frame")))
      .select(col("media_id"), (col("pos") * stride).cast("long").as("frame_idx"),
        col("frame"))
  }

  /** Deterministic integer feature projection from payload bytes — the
    * engine-portable stand-in for a real image/audio encoder (which would
    * replace the per-row arithmetic inside the same mapPartitions shape):
    * f_d = ((byte[(d*7) mod L] & 0xff) * 31 + d) mod 13 - 6 for d in
    * 0..dim-1, all-zero when the payload is empty. Output is an
    * Array[Float] column ready for the `Similarity` ANN operators, closing
    * the multimodal -> embedding -> similarity pipeline.
    */
  def featureStub(media: DataFrame, dim: Int = 16): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition setup would load the encoder weights once here
        it.map { case (id, bytes) =>
          val f = Array.tabulate(dim) { d =>
            if (bytes.isEmpty) 0f
            else (((bytes((d * 7) % bytes.length) & 0xff) * 31 + d) % 13 - 6).toFloat
          }
          (id, f)
        }
      }
      .toDF("media_id", "features")
  }
}
