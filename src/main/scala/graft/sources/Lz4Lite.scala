package graft.sources

import net.jpountz.lz4.{LZ4Exception, LZ4Factory}

/** LZ4 *block format* codec over lz4-java (shipped with Spark) — the
  * compression blosc1 frames carry by default in zarr v2 stores
  * (numcodecs `Blosc(cname='lz4')`, the zarr default compressor the
  * reference hits through `xr.open_zarr`, GPSat/dataloader.py:28-35).
  * Decoding uses the bounds-checked decompressor: chunk bytes come from
  * outside the program.
  */
object Lz4Lite {

  private val factory = LZ4Factory.fastestInstance()

  /** Decompress an LZ4 block of `srcLen` bytes at `srcOff` into exactly
    * `dstLen` bytes.
    */
  def decompress(src: Array[Byte], srcOff: Int, srcLen: Int, dstLen: Int): Array[Byte] = {
    val dst = new Array[Byte](dstLen)
    val n = try factory.safeDecompressor().decompress(src, srcOff, srcLen, dst, 0, dstLen)
    catch { case e: LZ4Exception => throw new IllegalArgumentException(s"lz4: ${e.getMessage}", e) }
    require(n == dstLen, s"lz4: decompressed $n bytes, expected $dstLen")
    dst
  }

  /** Compress `src` as one LZ4 block. */
  def compress(src: Array[Byte]): Array[Byte] = factory.fastCompressor().compress(src)
}
