package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column plumbing: image/audio/video payloads ride through the
 * pipeline as opaque `binary` columns with typed metadata. The Spark-side
 * mechanics — schema, batched per-partition decode, partitioning — are
 * real; the codec itself is STUBBED (media libraries are not available in
 * this environment) behind [[MediaDecoder]], which any real decoder
 * (javacv, ffmpeg-cli, a JNI codec) can replace without touching the
 * dataflow.
 *
 * Scale notes: decode runs in `mapPartitions`, one decoder instance per
 * partition (not per row); payloads never pass through a shuffle before
 * decode — filter/prune first, decode last. Metadata-only queries never
 * touch the blob column thanks to Parquet column pruning.
 */
object Multimodal {

  /** Typed metadata every decoded asset carries. */
  case class MediaMeta(byteLen: Long, sha256: String, width: Int, height: Int, frames: Int)

  case class DecodedAsset(id: Long, meta: MediaMeta)

  /** Pluggable decoder boundary; one instance per partition. */
  trait MediaDecoder extends Serializable {
    def decode(payload: Array[Byte]): MediaMeta
  }

  /**
   * Deterministic stub standing in for a real image decoder: dimensions
   * derived from the payload digest (stable across engines and runs).
   * A real decoder replaces exactly this class.
   */
  final class StubDecoder extends MediaDecoder {
    @transient private lazy val md = java.security.MessageDigest.getInstance("SHA-256")
    override def decode(payload: Array[Byte]): MediaMeta = {
      md.reset()
      val dig = md.digest(payload)
      val hex = Multimodal.hexString(dig)
      MediaMeta(
        byteLen = payload.length.toLong,
        sha256 = hex,
        width = 64 + hexDigit(hex.charAt(0)),
        height = 64 + hexDigit(hex.charAt(1)),
        frames = 1 + Integer.parseInt(hex.substring(2, 4), 16) % 16)
    }
    private def hexDigit(c: Char): Int = "0123456789abcdef".indexOf(c)
  }

  /**
   * Batched decode over a binary column: (id, payload) -> (id, meta).
   * mapPartitions so decoder setup amortizes across the partition —
   * the Spark shape a Pandas-UDF / Arrow-batch decode would take.
   */
  def decodeAssets(df: DataFrame, idCol: String, payloadCol: String,
      decoder: MediaDecoder = new StubDecoder): Dataset[DecodedAsset] = {
    val spark = df.sparkSession
    import spark.implicits._
    // null payloads drop (the SQL paths' null-propagation does the same)
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .filter(col(payloadCol).isNotNull)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) => DecodedAsset(id, decoder.decode(payload)) }
      }
  }

  case class SampledFrame(id: Long, frame_idx: Int, frame_sha: String)

  /**
   * Video frame sampling: one output row per kept frame (every `everyN`th
   * of the decoded frame count), fanned out INSIDE the partition — the
   * source blob never crosses a shuffle, only the per-frame payloads do.
   * Stub frame payload: utf8("<payload-sha256>-<frame idx>"); its sha256
   * is the frame id — deterministic and SQL-reproducible for the oracle.
   */
  def sampleFrames(df: DataFrame, idCol: String, payloadCol: String,
      everyN: Int, decoder: MediaDecoder = new StubDecoder): Dataset[SampledFrame] = {
    require(everyN > 0)
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(payloadCol))
      .filter(col(payloadCol).isNotNull)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        it.flatMap { case (id, payload) =>
          val meta = decoder.decode(payload)
          (0 until meta.frames by everyN).iterator.map { i =>
            md.reset()
            val frame = md.digest(s"${meta.sha256}-$i".getBytes("UTF-8"))
            SampledFrame(id, i, hexString(frame))
          }
        }
      }
  }

  /** Lowercase hex of a digest — the single encoding the oracle contract
    * depends on (shared by the stub decoder and frame ids). */
  private[operators] def hexString(bytes: Array[Byte]): String =
    bytes.map(b => f"$b%02x").mkString

  /**
   * The same stub-decode semantics as pure Catalyst expressions (for the
   * SQL-oracle cross-check): metadata from sha2 over the payload bytes.
   */
  def stubFeatures(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val sha = lower(sha2(col(payloadCol), 256))
    val hexPos: Column => Column = c => instr(lit("0123456789abcdef"), c) - 1
    df.select(
      col(idCol),
      length(col(payloadCol)).cast(LongType).as("byte_len"),
      sha.as("sha256"),
      (lit(64) + hexPos(substring(sha, 1, 1))).cast(IntegerType).as("width"),
      (lit(64) + hexPos(substring(sha, 2, 1))).cast(IntegerType).as("height"),
      (lit(1) + conv(substring(sha, 3, 2), 16, 10).cast(IntegerType) % 16).as("frames"))
  }
}
