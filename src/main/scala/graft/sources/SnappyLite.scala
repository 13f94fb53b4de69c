package graft.sources

import org.xerial.snappy.Snappy

/** Snappy RAW-format codec (the block format, not the framed stream)
  * over snappy-java (shipped with Spark): a varint uncompressed length,
  * then tagged literal/copy elements. This is the payload
  * `Blosc(cname='snappy')` frames carry.
  */
object SnappyLite {

  /** Decompress one raw-snappy block; `outLen` must match the varint. */
  def decompress(src: Array[Byte], off: Int, len: Int, outLen: Int, name: String): Array[Byte] =
    try {
      val declared = Snappy.uncompressedLength(src, off, len)
      require(declared == outLen, s"$name: snappy declares $declared bytes, expected $outLen")
      val out = new Array[Byte](outLen)
      Snappy.uncompress(src, off, len, out, 0)
      out
    } catch {
      case e: java.io.IOException =>
        throw new IllegalArgumentException(s"$name: snappy stream rejected: ${e.getMessage}", e)
    }

  /** Raw-snappy compression; null when not smaller. */
  def compress(src: Array[Byte]): Array[Byte] = {
    val res = Snappy.compress(src)
    if (res.length < src.length) res else null
  }
}
