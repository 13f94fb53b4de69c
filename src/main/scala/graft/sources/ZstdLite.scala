package graft.sources

import com.github.luben.zstd.{Zstd, ZstdInputStreamNoFinalizer}

/** Zstandard codec over zstd-jni (shipped with Spark) — the compressor
  * of zarr's modern default stores (numcodecs `Zstd()` and
  * `Blosc(cname='zstd')` chunk payloads), which the reference opens
  * through xarray (GPSat/dataloader.py:28-35). Decoding streams through
  * the library, so skippable frames are stepped over and content
  * checksums are verified.
  */
object ZstdLite {

  private val Magic = 0xFD2FB528
  private def isSkippable(magic: Int): Boolean = (magic & 0xFFFFFFF0) == 0x184D2A50

  /** Decompress a zstd frame (leading skippable frames are skipped). */
  def decompress(src: Array[Byte], name: String): Array[Byte] = {
    val magic = if (src.length < 4) 0
      else java.nio.ByteBuffer.wrap(src, 0, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    require(magic == Magic || isSkippable(magic), s"$name: not a zstd frame (bad magic)")
    val in = new ZstdInputStreamNoFinalizer(new java.io.ByteArrayInputStream(src))
    try in.readAllBytes()
    catch {
      case e: java.io.IOException =>
        throw new IllegalArgumentException(s"$name: zstd stream rejected: ${e.getMessage}", e)
    } finally in.close()
  }

  /** Compress one zstd frame at the library's default level. */
  def compress(raw: Array[Byte]): Array[Byte] = Zstd.compress(raw)

  /** Encode a STORED-mode zstd frame (raw blocks, no entropy coding) —
    * a valid RFC 8878 frame any zstd decoder accepts, byte-for-byte
    * predictable for tests and fixtures.
    */
  def compressStored(raw: Array[Byte]): Array[Byte] = {
    val maxBlock = 128 * 1024
    val nBlocks = math.max(1, (raw.length + maxBlock - 1) / maxBlock)
    val fcsLen = if (raw.length <= 255) 1 else if (raw.length < 65536 + 256) 2 else 4
    val fcsFlag = fcsLen match { case 1 => 0; case 2 => 1; case 4 => 2 }
    val out = java.nio.ByteBuffer.allocate(4 + 1 + fcsLen + nBlocks * 3 + raw.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.putInt(Magic)
    out.put(((fcsFlag << 6) | 0x20).toByte) // single-segment, no checksum/dict
    fcsLen match {
      case 1 => out.put(raw.length.toByte)
      case 2 => out.putShort((raw.length - 256).toShort)
      case 4 => out.putInt(raw.length)
    }
    var off = 0
    var bi = 0
    while (bi < nBlocks) {
      val len = math.min(maxBlock, raw.length - off)
      val last = if (bi == nBlocks - 1) 1 else 0
      val bh = (len << 3) | last // type 0 = raw
      out.put((bh & 0xff).toByte).put(((bh >> 8) & 0xff).toByte).put(((bh >> 16) & 0xff).toByte)
      out.put(raw, off, len)
      off += len; bi += 1
    }
    out.array()
  }
}
