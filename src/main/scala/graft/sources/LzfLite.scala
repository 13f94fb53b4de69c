package graft.sources

import com.ning.compress.lzf.impl.VanillaChunkEncoder
import com.ning.compress.lzf.util.ChunkDecoderFactory

/** LZF codec over compress-lzf (shipped with Spark) — h5py's OWN
  * portable compression filter (HDF5 filter id 32000,
  * `compression='lzf'`). h5py stores bare liblzf streams, without the
  * "ZV" chunk headers of compress-lzf's container format, so this
  * object calls the library's raw chunk decoder and encoder directly.
  */
object LzfLite {

  /** Decompress into exactly `outLen` bytes. */
  def decompress(src: Array[Byte], off: Int, len: Int, outLen: Int, name: String): Array[Byte] = {
    // the decoder reads up to the end of its input array, so bound it to the stream
    val in = if (off == 0 && len == src.length) src else java.util.Arrays.copyOfRange(src, off, off + len)
    val out = new Array[Byte](outLen)
    try ChunkDecoderFactory.safeInstance().decodeChunk(in, 0, out, 0, outLen)
    catch {
      case e @ (_: java.io.IOException | _: IndexOutOfBoundsException) =>
        throw new IllegalArgumentException(s"$name: lzf stream does not decode to $outLen bytes", e)
    }
    out
  }

  /** `tryCompress` is the library's bare-liblzf encoder; it is protected
    * because the public API always wraps it in a chunk header.
    */
  private final class RawEncoder(n: Int) extends VanillaChunkEncoder(n) {
    def encode(src: Array[Byte], out: Array[Byte]): Int = tryCompress(src, 0, src.length, out, 0)
  }

  /** Bare liblzf compression; null when not smaller (HDF5's
    * optional-filter convention stores the chunk raw in that case).
    */
  def compress(src: Array[Byte]): Array[Byte] = {
    val n = src.length
    if (n < 16) return null // too short to shrink; the encoder needs a few bytes of lookahead
    // worst case: one control byte per 32 literals
    val out = new Array[Byte](n + n / 32 + 16)
    val used = new RawEncoder(n).encode(src, out)
    if (used < n) java.util.Arrays.copyOf(out, used) else null
  }
}
