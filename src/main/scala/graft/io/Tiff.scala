package graft.io

/** Minimal baseline-TIFF container codec — enough to ingest the
  * reference's GRD rasters (uncompressed strip TIFFs with GDAL metadata,
  * the exact shape of icecube's fixtures and products) without any
  * native library.
  *
  * Scope (reference semantics, not a general TIFF library):
  *   - pixel read: single-sample, uncompressed (Compression=1) strips,
  *     both byte orders, {u,}int8/16/32 + float32/64
  *     (`grd_datacube.py:117-149` via rasterio; dtype whitelist
  *     `sar_datacube.py:194-201`)
  *   - metadata: GDAL_METADATA tag 42112 `<Item name=…>` XML — what
  *     rasterio `.tags()` returns (`analytics_IO.py:374-403`)
  *   - RPC: tag 50844 (92 doubles) — what rasterio `.tags(ns="RPC")`
  *     reads (`analytics_IO.py:876-948`)
  *
  * Header parsing is expressed against a positional reader so the crawler
  * can fetch metadata with a few ~KB seeks (never the pixel payload) —
  * the metadata-before-pixels plan stays cheap no matter the raster size.
  */
object Tiff {

  final case class Info(
      width: Int,
      height: Int,
      bitsPerSample: Int,
      sampleFormat: Int, // 1=uint, 2=int, 3=float (TIFF SampleFormat)
      compression: Int,
      littleEndian: Boolean,
      rowsPerStrip: Int,
      stripOffsets: Array[Long],
      stripByteCounts: Array[Long],
      gdalXml: Option[String],
      rpc: Option[Array[Double]],
      // tiled organization (tags 322-325) — GDAL's other layout; empty
      // offsets ⇒ strip-organized
      tileWidth: Int = 0,
      tileLength: Int = 0,
      tileOffsets: Array[Long] = Array.empty,
      tileByteCounts: Array[Long] = Array.empty,
      predictor: Int = 1,
      // tag 347 JPEGTables: libtiff's split-stream convention for
      // compression 7 — a tables-only SOI..EOI stream shared by every
      // strip/tile's abbreviated scan
      jpegTables: Option[Array[Byte]] = None) {

    def tiled: Boolean = tileOffsets.nonEmpty

    /** numpy-style dtype string, the master-dtype vocabulary of
      * `grd_datacube.py:151-159`. */
    def dtype: String = (sampleFormat, bitsPerSample) match {
      case (3, 32) => "float32"
      case (3, 64) => "float64"
      case (2, 8)  => "int8"
      case (2, 16) => "int16"
      case (2, 32) => "int32"
      case (1, 8)  => "uint8"
      case (1, 12) => "uint16" // 12-bit JPEG samples widen to 16-bit words
      case (1, 16) => "uint16"
      case (1, 32) => "uint32"
      case other   => throw new IllegalArgumentException(
        s"unsupported TIFF sample format/bits: $other")
    }

    /** Bytes per sample in the DECODED block buffer. 12-bit samples
      * (BitsPerSample=12, legal here only under JPEG compression — the
      * entropy codec owns the bit packing) decode to 16-bit words in
      * the file's byte order, libjpeg-12/libtiff style. */
    def storageBytes: Int = {
      require(bitsPerSample % 8 == 0 || (bitsPerSample == 12 && compression == 7),
        s"$bitsPerSample-bit packed rasters only supported under JPEG compression")
      if (bitsPerSample == 12) 2 else bitsPerSample / 8
    }
  }

  /** Positional reader: (offset, length) => bytes. */
  type ReadAt = (Long, Int) => Array[Byte]

  def fromBytes(data: Array[Byte]): Info =
    readHeader((off, len) => java.util.Arrays.copyOfRange(data, off.toInt, off.toInt + len))

  /** Header-only read: a handful of small seeks via RandomAccessFile —
    * never touches the strip payload. */
  def readHeader(path: String): Info = {
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      readHeader { (off, len) =>
        val buf = new Array[Byte](len)
        raf.seek(off)
        raf.readFully(buf)
        buf
      }
    } finally raf.close()
  }

  /** Header parse through any positional reader (the raster connector
    * hands in reads through the Hadoop FileSystem). */
  def readHeader(read: ReadAt): Info = {
    val head = read(0L, 8)
    val le = head(0) == 'I' && head(1) == 'I'
    require(le || (head(0) == 'M' && head(1) == 'M'),
      "not a TIFF: bad byte-order mark")
    def u16(b: Array[Byte], i: Int): Int =
      if (le) ((b(i) & 0xff) | ((b(i + 1) & 0xff) << 8))
      else (((b(i) & 0xff) << 8) | (b(i + 1) & 0xff))
    def u32(b: Array[Byte], i: Int): Long =
      if (le) ((b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24))
      else (((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) | ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL))
    def u64(b: Array[Byte], i: Int): Long = {
      var v = 0L
      var j = 0
      while (j < 8) {
        val x = b(i + j) & 0xffL
        v |= (if (le) x << (8 * j) else x << (8 * (7 - j)))
        j += 1
      }
      v
    }
    val magic = u16(head, 2)
    require(magic == 42 || magic == 43, "not a TIFF: bad magic")
    // BigTIFF (magic 43): 8-byte offsets everywhere — the layout real
    // >4 GiB GRD products ship in. Same tag vocabulary; entries are 20
    // bytes (count and value/offset widen to u64) and types 16/17 (u64/
    // s64) appear on offset tags.
    val big = magic == 43

    val ifdOff =
      if (big) {
        val h2 = read(0L, 16)
        require(u16(h2, 4) == 8 && u16(h2, 6) == 0,
          s"BigTIFF: unsupported offset size ${u16(h2, 4)}")
        u64(h2, 8)
      } else u32(head, 4)
    val entrySize = if (big) 20 else 12
    val nTags = if (big) u64(read(ifdOff, 8), 0).toInt else u16(read(ifdOff, 2), 0)
    val entries = read(ifdOff + (if (big) 8 else 2), nTags * entrySize)

    val typeSize = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 6 -> 1, 7 -> 1, 11 -> 4, 12 -> 8, 16 -> 8, 17 -> 8)

    var width, height = 0
    var bits = 1
    var sampleFormat = 1
    var compression = 1
    var samplesPerPixel = 1
    var rowsPerStrip = Int.MaxValue
    var stripOffsets, stripByteCounts = Array.empty[Long]
    var predictor = 1
    var tileW, tileL = 0
    var tileOffsets, tileByteCounts = Array.empty[Long]
    var gdalXml: Option[String] = None
    var rpc: Option[Array[Double]] = None
    var jpegTables: Option[Array[Byte]] = None

    var i = 0
    while (i < nTags) {
      val e = entries.slice(i * entrySize, (i + 1) * entrySize)
      val tag = u16(e, 0)
      val typ = u16(e, 2)
      val count = (if (big) u64(e, 4) else u32(e, 4)).toInt
      val byteLen = typeSize.getOrElse(typ, 0) * count
      // value fits in the 4 (classic) / 8 (BigTIFF) inline bytes, else
      // the inline bytes are an offset
      val inlineCap = if (big) 8 else 4
      val valOff = if (big) 12 else 8
      val raw: Array[Byte] =
        if (byteLen <= inlineCap && byteLen > 0) e.slice(valOff, valOff + byteLen)
        else if (byteLen > 0) read(if (big) u64(e, valOff) else u32(e, valOff), byteLen)
        else Array.empty
      def ints: Array[Long] = typ match {
        case 3       => Array.tabulate(count)(k => u16(raw, k * 2).toLong)
        case 4       => Array.tabulate(count)(k => u32(raw, k * 4))
        case 16 | 17 => Array.tabulate(count)(k => u64(raw, k * 8))
        case _       => Array.empty
      }
      def firstInt: Int = ints.headOption.map(_.toInt).getOrElse(0)
      def doubles: Array[Double] = Array.tabulate(count) { k =>
        var bitsL = 0L
        var j = 0
        while (j < 8) {
          val b = raw(k * 8 + j) & 0xffL
          bitsL |= (if (le) b << (8 * j) else b << (8 * (7 - j)))
          j += 1
        }
        java.lang.Double.longBitsToDouble(bitsL)
      }
      tag match {
        case 256   => width = firstInt
        case 257   => height = firstInt
        case 258   => bits = firstInt
        case 259   => compression = firstInt
        case 273   => stripOffsets = ints
        case 277   => samplesPerPixel = firstInt
        case 278   => rowsPerStrip = firstInt
        case 279   => stripByteCounts = ints
        case 317   => predictor = firstInt
        case 322   => tileW = firstInt
        case 323   => tileL = firstInt
        case 324   => tileOffsets = ints
        case 325   => tileByteCounts = ints
        case 339   => sampleFormat = firstInt
        case 347   => jpegTables = Some(raw)
        case 42112 => gdalXml = Some(new String(raw, java.nio.charset.StandardCharsets.UTF_8).takeWhile(_ != '\u0000'))
        case 50844 if typ == 12 && count == 92 => rpc = Some(doubles)
        case _     => ()
      }
      i += 1
    }
    require(compression == 1 || compression == 5 || compression == 7 ||
        compression == 8 || compression == 32773 || compression == 32946,
      s"unsupported TIFF compression $compression " +
        "(uncompressed, LZW, deflate, PackBits or baseline JPEG only)")
    require(compression != 7 || ((bits == 8 || bits == 12) && sampleFormat != 3),
      s"JPEG-compressed TIFF must be 8- or 12-bit integer samples, got $bits-bit format $sampleFormat")
    require(compression != 7 || predictor == 1,
      "predictors do not apply to JPEG-compressed TIFF")
    require(predictor == 1 || predictor == 2 || predictor == 3,
      s"unsupported TIFF predictor $predictor (none, horizontal or floating-point)")
    require(samplesPerPixel == 1,
      s"unsupported TIFF samples-per-pixel $samplesPerPixel (single-band SAR rasters only)")
    Info(width, height, bits, sampleFormat, compression, le,
      math.min(rowsPerStrip.toLong, height.toLong).toInt, stripOffsets, stripByteCounts, gdalXml, rpc,
      tileW, tileL, tileOffsets, tileByteCounts, predictor, jpegTables)
  }

  /** Decode all strips of an in-memory TIFF to (azimuth, range, value)
    * rows — azimuth = row index, range = column index, matching the
    * reference's (Azimuth, Range) = array shape (`grd_datacube.py:139-147`).
    * Iterator-lazy across strips: at most one (possibly inflated) strip
    * buffer is alive at a time. */
  def decode(data: Array[Byte], info: Info): Iterator[(Int, Int, Double)] =
    if (info.tiled) decodeTiles(data, info) else decodeStrips(data, info)

  /** Row-bounded decode: only strips/tiles whose row range intersects
    * [rowLo, rowHi] are DECOMPRESSED at all — the block-pruning hook the
    * DataSource V2 scan ([[GraftRasterSource]]) pushes azimuth predicates
    * into. Blocks are the TIFF's own IO unit, so this is the binary
    * analog of parquet row-group pruning. Emitted rows are exactly
    * `decode(...)` filtered to the bounds. */
  def decodeRows(data: Array[Byte], info: Info, rowLo: Int, rowHi: Int): Iterator[(Int, Int, Double)] = {
    val it =
      if (info.tiled) decodeTiles(data, info, rowLo, rowHi)
      else decodeStrips(data, info, rowLo, rowHi)
    it.filter { case (az, _, _) => az >= rowLo && az <= rowHi }
  }

  /** Decompressed-block counter (single-JVM test instrumentation), so
    * the DSv2 spec can prove predicate pushdown skips block IO rather
    * than just filtering rows after decode. */
  val blocksDecompressed = new java.util.concurrent.atomic.AtomicLong(0)

  /** Tile-organized rasters (tags 322-325): full-size tiles in row-major
    * tile-grid order; edge tiles overhang and are clipped. */
  private def decodeTiles(data: Array[Byte], info: Info,
      rowLo: Int = 0, rowHi: Int = Int.MaxValue): Iterator[(Int, Int, Double)] = {
    val bytesPerSample = info.storageBytes
    val tilesAcross = (info.width + info.tileWidth - 1) / info.tileWidth
    info.tileOffsets.iterator.zipWithIndex.flatMap { case (off, t) =>
      val rowStart = (t / tilesAcross) * info.tileLength
      if (rowStart > rowHi || rowStart + info.tileLength - 1 < rowLo) Iterator.empty
      else {
        val colStart = (t % tilesAcross) * info.tileWidth
        val tileBytes = info.tileWidth * info.tileLength * bytesPerSample
        val tile = decompressBlock(data, off.toInt,
          if (info.tileByteCounts.nonEmpty) info.tileByteCounts(t).toInt else tileBytes,
          tileBytes, info.tileWidth, info)
        for {
          r <- Iterator.range(0, math.min(info.tileLength, info.height - rowStart))
          c <- Iterator.range(0, math.min(info.tileWidth, info.width - colStart))
        } yield (rowStart + r, colStart + c,
          sampleAt(tile, (r * info.tileWidth + c) * bytesPerSample, info))
      }
    }
  }

  /** One strip/tile: decompress (none / LZW / deflate / PackBits /
    * baseline JPEG) then
    * undo the horizontal predictor when tag 317 = 2. */
  private def decompressBlock(data: Array[Byte], off: Int, count: Int,
      outLen: Int, blockWidth: Int, info: Info): Array[Byte] = {
    blocksDecompressed.incrementAndGet()
    val raw = info.compression match {
      case 1     => java.util.Arrays.copyOfRange(data, off, off + outLen)
      case 5     => lzwDecode(data, off, count, outLen)
      case 7     =>
        val (prec, decoded) = JpegDecoder.decodeRaster(info.jpegTables,
          java.util.Arrays.copyOfRange(data, off, off + count),
          blockWidth, outLen / blockWidth / info.storageBytes, info.littleEndian)
        require(prec == info.bitsPerSample,
          s"JPEG stream precision $prec under BitsPerSample ${info.bitsPerSample}")
        decoded
      case 32773 => packBitsDecode(data, off, count, outLen)
      case _     => inflate(data, off, count, outLen)
    }
    if (info.predictor == 2) unpredictHorizontal(raw, blockWidth, info)
    else if (info.predictor == 3) unpredictFloatingPoint(raw, blockWidth, info)
    raw
  }

  /** Predictor 2 (horizontal differencing): cumulative sum across each
    * row, per sample, in the file's byte order. Integer samples only
    * (the TIFF float predictor is 3). */
  private def unpredictHorizontal(d: Array[Byte], width: Int, info: Info): Unit = {
    require(info.sampleFormat != 3, "horizontal predictor on float samples not supported")
    val bps = info.bitsPerSample / 8
    val rowBytes = width * bps
    val rows = d.length / rowBytes
    var r = 0
    while (r < rows) {
      val base = r * rowBytes
      var c = 1
      while (c < width) {
        val p = base + c * bps
        val q = p - bps
        var carry = 0
        // add sample at q to sample at p, little- or big-endian
        var j = 0
        while (j < bps) {
          val (pi, qi) = if (info.littleEndian) (p + j, q + j) else (p + bps - 1 - j, q + bps - 1 - j)
          val s = (d(pi) & 0xff) + (d(qi) & 0xff) + carry
          d(pi) = s.toByte
          carry = s >> 8
          j += 1
        }
        c += 1
      }
      r += 1
    }
  }

  /** Predictor 3 (TIFF TechNote 3 floating-point predictor, what GDAL
    * emits for compressed float rasters): per row, the encoder shuffles
    * sample bytes into significance planes (plane 0 = MSB, independent
    * of the file's byte order) and then byte-differences the row.
    * Decode = byte-wise cumulative sum, then de-shuffle back into the
    * file's declared byte order so [[sampleAt]] reads it unchanged. */
  private def unpredictFloatingPoint(d: Array[Byte], width: Int, info: Info): Unit = {
    require(info.sampleFormat == 3, "floating-point predictor on non-float samples")
    val bps = info.bitsPerSample / 8
    val rowBytes = width * bps
    val rows = d.length / rowBytes
    var r = 0
    while (r < rows) {
      val base = r * rowBytes
      var i = 1
      while (i < rowBytes) {
        d(base + i) = ((d(base + i) + d(base + i - 1)) & 0xff).toByte
        i += 1
      }
      val tmp = java.util.Arrays.copyOfRange(d, base, base + rowBytes)
      var c = 0
      while (c < width) {
        var j = 0
        while (j < bps) {
          val plane = if (info.littleEndian) bps - 1 - j else j
          d(base + c * bps + j) = tmp(plane * width + c)
          j += 1
        }
        c += 1
      }
      r += 1
    }
  }

  /** TIFF-variant LZW (MSB-first codes, Clear=256, EOI=257, early
    * change at 2^w−1). */
  private[io] def lzwDecode(data: Array[Byte], off: Int, count: Int, outLen: Int): Array[Byte] = {
    val out = new Array[Byte](outLen)
    var outPos = 0
    var bitPos = 0L
    val totalBits = count.toLong * 8
    def readCode(w: Int): Int = {
      if (bitPos + w > totalBits) return 257 // ran off the end ⇒ treat as EOI
      var v = 0
      var i = 0
      while (i < w) {
        val b = data(off + (bitPos >> 3).toInt) & 0xff
        v = (v << 1) | ((b >> (7 - (bitPos & 7).toInt)) & 1)
        bitPos += 1
        i += 1
      }
      v
    }
    val table = new Array[Array[Byte]](4096)
    var i = 0
    while (i < 256) { table(i) = Array(i.toByte); i += 1 }
    var next = 258
    var width = 9
    var prev: Array[Byte] = null
    var done = false
    while (!done && outPos < outLen) {
      val code = readCode(width)
      if (code == 257) done = true
      else if (code == 256) { next = 258; width = 9; prev = null }
      else {
        val entry =
          if (code < next && table(code) != null) table(code)
          else {
            require(prev != null && code == next, s"corrupt LZW stream: code $code next $next")
            prev :+ prev(0)
          }
        val n = math.min(entry.length, outLen - outPos)
        System.arraycopy(entry, 0, out, outPos, n)
        outPos += entry.length
        if (prev != null && next < 4096) { table(next) = prev :+ entry(0); next += 1 }
        prev = entry
        // early change, decoder side: the reader's table is one entry
        // behind the writer's, so the width switches at 2^w − 2 (the
        // libtiff maxcode-1 rule)
        if (next == (1 << width) - 2 && width < 12) width += 1
      }
    }
    require(outPos >= outLen, s"LZW block decoded $outPos of $outLen bytes")
    out
  }

  /** PackBits RLE (TIFF 6.0 §9, compression 32773 — the Macintosh
    * run-length scheme): control byte n ∈ [0,127] copies the next n+1
    * bytes literally; n ∈ [−127,−1] repeats the next byte 1−n times;
    * −128 is a no-op. The most common wild-file TIFF codec after
    * LZW/deflate — the reference's rasterio open delegates to libtiff,
    * which accepts it (icecube/bin/sar_cube/grd_datacube.py:117-149).
    * Runs never span the strip/tile boundary (each block is compressed
    * independently), so decode is block-local like the other codecs;
    * the final run may overshoot `outLen` on writers that pad the last
    * row — copies clamp, mirroring [[lzwDecode]]. */
  private[io] def packBitsDecode(data: Array[Byte], off: Int, count: Int,
      outLen: Int): Array[Byte] = {
    val out = new Array[Byte](outLen)
    val end = off + count
    var ip = off
    var op = 0
    while (op < outLen && ip < end) {
      val n = data(ip)
      ip += 1
      if (n >= 0) {
        val len = n + 1
        require(ip + len <= end, s"PackBits literal run of $len overruns the block")
        System.arraycopy(data, ip, out, op, math.min(len, outLen - op))
        op += len
        ip += len
      } else if (n != -128) {
        val len = 1 - n
        require(ip < end, "PackBits replicate run lost its value byte")
        val b = data(ip)
        ip += 1
        var i = 0
        val m = math.min(len, outLen - op)
        while (i < m) { out(op + i) = b; i += 1 }
        op += len
      }
    }
    require(op >= outLen, s"PackBits block decoded $op of $outLen bytes")
    out
  }

  private def inflate(data: Array[Byte], off: Int, count: Int, outLen: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data, off, count)
    val out = new Array[Byte](outLen)
    var done = 0
    var stalled = false
    while (done < out.length && !inf.finished() && !stalled) {
      val n = inf.inflate(out, done, out.length - done)
      // inflate()==0 with needsInput on a truncated stream would spin
      // forever — bail out and let the length check raise
      stalled = n == 0 && (inf.needsInput() || inf.needsDictionary())
      done += n
    }
    inf.end()
    require(done == out.length, s"deflate block inflated to $done of $outLen bytes")
    out
  }

  private def decodeStrips(data: Array[Byte], info: Info,
      rowLo: Int = 0, rowHi: Int = Int.MaxValue): Iterator[(Int, Int, Double)] = {
    val bytesPerSample = info.storageBytes
    info.stripOffsets.iterator.zipWithIndex.flatMap { case (off, s) =>
      val rowStart = s * info.rowsPerStrip
      if (rowStart > rowHi || rowStart + info.rowsPerStrip - 1 < rowLo) Iterator.empty
      else {
        val rows = math.min(info.rowsPerStrip, info.height - rowStart)
        val stripBytes = rows * info.width * bytesPerSample
        val strip = decompressBlock(data, off.toInt,
          if (info.stripByteCounts.nonEmpty) info.stripByteCounts(s).toInt else stripBytes,
          stripBytes, info.width, info)
        for {
          r <- Iterator.range(0, rows)
          c <- Iterator.range(0, info.width)
        } yield (rowStart + r, c, sampleAt(strip, (r * info.width + c) * bytesPerSample, info))
      }
    }
  }

  private def sampleAt(d: Array[Byte], p: Int, info: Info): Double = {
    val le = info.littleEndian
    def u8 = d(p) & 0xff
    def u16 = if (le) (d(p) & 0xff) | ((d(p + 1) & 0xff) << 8)
              else ((d(p) & 0xff) << 8) | (d(p + 1) & 0xff)
    def u32: Long =
      if (le) (d(p) & 0xffL) | ((d(p + 1) & 0xffL) << 8) | ((d(p + 2) & 0xffL) << 16) | ((d(p + 3) & 0xffL) << 24)
      else ((d(p) & 0xffL) << 24) | ((d(p + 1) & 0xffL) << 16) | ((d(p + 2) & 0xffL) << 8) | (d(p + 3) & 0xffL)
    def u64: Long = {
      var bits = 0L
      var j = 0
      while (j < 8) {
        val b = d(p + j) & 0xffL
        bits |= (if (le) b << (8 * j) else b << (8 * (7 - j)))
        j += 1
      }
      bits
    }
    (info.sampleFormat, info.bitsPerSample) match {
      case (1, 8)  => u8.toDouble
      case (2, 8)  => d(p).toDouble
      case (1, 12) => u16.toDouble // 12-bit JPEG widened to 16-bit words
      case (1, 16) => u16.toDouble
      case (2, 16) => u16.toShort.toDouble
      case (1, 32) => u32.toDouble
      case (2, 32) => u32.toInt.toDouble
      case (3, 32) => java.lang.Float.intBitsToFloat(u32.toInt).toDouble
      case (3, 64) => java.lang.Double.longBitsToDouble(u64)
      case other   => throw new IllegalArgumentException(s"unsupported sample $other")
    }
  }

  private val XmlEscapes = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&apos;" -> "'", "&amp;" -> "&")

  /** GDAL_METADATA XML → ordered (key, value) pairs — the dict rasterio's
    * `.tags()` returns (`analytics_IO.py:376-380`). */
  def gdalItems(xml: String): Seq[(String, String)] =
    "(?s)<Item name=\"([^\"]+)\"[^>]*>(.*?)</Item>".r
      .findAllMatchIn(xml)
      .map { m =>
        val v = XmlEscapes.foldLeft(m.group(2)) { case (s, (from, to)) => s.replace(from, to) }
        (m.group(1), v)
      }
      .toSeq

  // --- RPC tag 50844 layout (TIFF RPCCoefficientTag: 12 scalars then
  // 4×20 coefficient blocks) — the source of rasterio's ns="RPC" tags ---
  private val RpcScalars = Seq(
    "ERR_BIAS", "ERR_RAND", "LINE_OFF", "SAMP_OFF", "LAT_OFF", "LONG_OFF",
    "HEIGHT_OFF", "LINE_SCALE", "SAMP_SCALE", "LAT_SCALE", "LONG_SCALE", "HEIGHT_SCALE")

  /** M10: the 4×20 RPC matrix, rows = [az_num, az_denom, range_num,
    * range_denom] (`analytics_IO.py:876-910`: LINE_NUM, LINE_DEN,
    * SAMP_NUM, SAMP_DEN). */
  def rpcMatrix(vals: Array[Double]): Array[Array[Double]] = {
    require(vals.length == 92, s"RPC tag must hold 92 doubles, got ${vals.length}")
    Array.tabulate(4)(r => vals.slice(12 + r * 20, 12 + (r + 1) * 20))
  }

  /** M10: the RPC scale/offset metadata under the reference's names
    * (`analytics_IO.py:912-923`). */
  def rpcMeta(vals: Array[Double]): Map[String, Double] = {
    require(vals.length == 92, s"RPC tag must hold 92 doubles, got ${vals.length}")
    val t = RpcScalars.zip(vals.take(12)).toMap
    Map(
      "lat_mean" -> t("LAT_OFF"), "lat_scale_factor" -> t("LAT_SCALE"),
      "lon_mean" -> t("LONG_OFF"), "lon_scale_factor" -> t("LONG_SCALE"),
      "height_mean" -> t("HEIGHT_OFF"), "height_scale_factor" -> t("HEIGHT_SCALE"),
      "az_idx_mean" -> t("LINE_OFF"), "az_idx_scale_factor" -> t("LINE_SCALE"),
      "range_idx_mean" -> t("SAMP_OFF"), "range_idx_scale_factor" -> t("SAMP_SCALE"))
  }
}
