package graft.io

/** Minimal HDF5 reader — enough to ingest the reference's SLC products
  * (h5py-written files) without any native library.
  *
  * Scope (reference semantics, `slc_datacube.py:118-219`):
  *   - superblocks v0 (h5py default) and v2/v3 (h5py `libver='latest'`);
  *   - object headers v1 and v2 ("OHDR", incl. continuation "OCHK"
  *     blocks); groups via symbol tables (v1), compact Link messages, or
  *     dense link storage (fractal heap "FRHP"/"FHDB"/"FHIB" + v2 B-tree
  *     "BTHD"/"BTIN"/"BTLF" name index — what libhdf5 switches to above
  *     its max-compact link threshold);
  *   - root-group dataset iteration (the SLC metadata read walks all
  *     keys), subgroups one level down (the `RPC` group);
  *   - datatypes: fixed-point, IEEE float, fixed strings, and
  *     variable-length strings via the global heap (h5py stores python
  *     str as vlen);
  *   - layouts: contiguous + compact + chunked(+gzip).
  *
  * Like [[Tiff]], parsing is expressed against a positional reader so the
  * metadata crawl touches only structure bytes and small metadata
  * payloads — never the pixel datasets — regardless of raster size.
  */
object Hdf5 {

  /** Data-block read counter (single-JVM test instrumentation): the
    * DSv2 spec proves azimuth pushdown skips chunk/section IO rather
    * than filtering rows after decode. */
  val blocksRead = new java.util.concurrent.atomic.AtomicLong(0)

  type ReadAt = (Long, Int) => Array[Byte]

  private val Undef = -1L // 0xFFFF… addresses

  sealed trait Dtype
  final case class FixedPoint(size: Int, signed: Boolean, littleEndian: Boolean) extends Dtype
  final case class FloatPoint(size: Int, littleEndian: Boolean) extends Dtype
  final case class FixedString(size: Int) extends Dtype
  case object VlenString extends Dtype

  /** Decoded attribute value (netCDF interop reads these). */
  sealed trait AttrValue
  final case class AttrStr(values: Seq[String]) extends AttrValue {
    def first: String = values.headOption.getOrElse("")
  }
  final case class AttrNum(values: Seq[Double]) extends AttrValue

  /** One filter of a chunked dataset's pipeline, in WRITE order; id 1 =
    * deflate, 2 = shuffle, 3 = fletcher32 (the three h5py applies for
    * `shuffle=True, compression='gzip', fletcher32=True` — reference
    * delegate: icecube/bin/sar_cube/slc_datacube.py:118-162, which
    * accepts any h5py-written file). Reads apply the pipeline in
    * REVERSE: verify+strip the checksum, inflate, unshuffle. */
  final case class Filter(id: Int, clientValues: Seq[Int])

  sealed trait Layout
  final case class Contiguous(off: Long, size: Long) extends Layout
  final case class Compact(data: Array[Byte]) extends Layout
  /** Chunked storage: v1 chunk B-tree + per-chunk dims (without the
    * trailing element-size entry); `filters` from the pipeline message. */
  final case class Chunked(btreeAddr: Long, chunkDims: Seq[Long],
      filters: Seq[Filter]) extends Layout

  /** One dataset: dims (empty = scalar), element type, storage. */
  final case class Dataset(name: String, dims: Seq[Long], dtype: Dtype, layout: Layout) {
    def elementCount: Long = if (dims.isEmpty) 1L else dims.product
  }

  final class File(read: ReadAt) {

    private def u(b: Array[Byte], i: Int, n: Int): Long = {
      var v = 0L
      var j = 0
      while (j < n) { v |= (b(i + j) & 0xffL) << (8 * j); j += 1 }
      v
    }
    private def addr(b: Array[Byte], i: Int): Long = {
      val v = u(b, i, 8)
      if (v == -1L) Undef else v
    }

    private val rootOhdr: Long = {
      val head = read(0L, 56)
      require(head.take(8).sameElements(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')),
        "not an HDF5 file: bad signature")
      head(8) match {
        case 0 =>
          require(head(13) == 8 && head(14) == 8, "only 8-byte offsets/lengths supported")
          // root symbol-table entry directly after the 56-byte v0
          // superblock body: link name offset(8), object header address(8)
          val ste = read(56L, 16)
          addr(ste, 8)
        case 2 | 3 =>
          // v2/v3 (libver='latest'): sig(8) ver(1) sizeOff(1) sizeLen(1)
          // flags(1) base(8) ext(8) eof(8) rootOhdr(8) checksum(4)
          require(head(9) == 8 && head(10) == 8, "only 8-byte offsets/lengths supported")
          addr(head, 36)
        case v => throw new IllegalArgumentException(s"unsupported HDF5 superblock version $v")
      }
    }

    /** Object header → (msgType, body) list, following continuations.
      * Dispatches on the v2 "OHDR" signature vs the v1 version byte. */
    private def messages(ohdrAddr: Long): Seq[(Int, Array[Byte])] = {
      val sig = read(ohdrAddr, 4)
      if (sig(0) == 'O' && sig(1) == 'H' && sig(2) == 'D' && sig(3) == 'R') messagesV2(ohdrAddr)
      else messagesV1(ohdrAddr)
    }

    /** v2 ("OHDR") object header: optional time/attr-phase fields per the
      * flags byte, variably-sized chunk-0 length, 4-byte message headers
      * (plus 2 creation-order bytes when flagged), "OCHK" continuation
      * blocks, trailing checksums (not validated — structural read). */
    private def messagesV2(ohdrAddr: Long): Seq[(Int, Array[Byte])] = {
      val head = read(ohdrAddr, 6)
      require(head(4) == 2, s"unsupported OHDR version ${head(4)} at $ohdrAddr")
      val flags = head(5) & 0xff
      var p = ohdrAddr + 6
      if ((flags & 0x20) != 0) p += 16 // access/mod/change/birth times
      if ((flags & 0x10) != 0) p += 4  // max-compact/min-dense attr phase
      val szBytes = 1 << (flags & 0x3)
      val chunk0Size = u(read(p, szBytes), 0, szBytes).toInt
      p += szBytes
      val msgHdr = if ((flags & 0x04) != 0) 6 else 4 // + creation order(2)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
      // (blockStart, messagesLen) — chunk 0 carries messages only (its
      // checksum follows); continuation blocks are sig(4)+messages+cksum(4)
      var blocks = List((p, chunk0Size))
      while (blocks.nonEmpty) {
        val (bOff, bSize) = blocks.head
        blocks = blocks.tail
        val blk = read(bOff, bSize)
        var q = 0
        while (q + msgHdr <= bSize) {
          val mType = blk(q) & 0xff
          val mSize = u(blk, q + 1, 2).toInt
          val body = java.util.Arrays.copyOfRange(blk, q + msgHdr, q + msgHdr + mSize)
          if (mType == 0x10) { // continuation: (addr, length incl sig+cksum)
            val cAddr = u(body, 0, 8)
            val cLen = u(body, 8, 8).toInt
            val cSig = read(cAddr, 4)
            require(cSig(0) == 'O' && cSig(1) == 'C' && cSig(2) == 'H' && cSig(3) == 'K',
              s"expected OCHK continuation at $cAddr")
            blocks = blocks :+ ((cAddr + 4, cLen - 8))
          } else if (mType != 0x00) out += ((mType, body))
          q += msgHdr + mSize
        }
      }
      out.toSeq
    }

    /** v1 object header → (msgType, body) list, following continuations. */
    private def messagesV1(ohdrAddr: Long): Seq[(Int, Array[Byte])] = {
      val prefix = read(ohdrAddr, 16)
      require(prefix(0) == 1, s"unsupported object header version ${prefix(0)} at $ohdrAddr")
      val nMsgs = u(prefix, 2, 2).toInt
      val firstSize = u(prefix, 8, 4).toInt
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
      var blocks = List((ohdrAddr + 16, firstSize))
      while (blocks.nonEmpty && out.size < nMsgs) {
        val (bOff, bSize) = blocks.head
        blocks = blocks.tail
        val blk = read(bOff, bSize)
        var p = 0
        while (p + 8 <= bSize && out.size < nMsgs) {
          val mType = u(blk, p, 2).toInt
          val mSize = u(blk, p + 2, 2).toInt
          val body = java.util.Arrays.copyOfRange(blk, p + 8, p + 8 + mSize)
          if (mType == 0x10) // continuation: (addr, length)
            blocks = blocks :+ ((u(body, 0, 8), u(body, 8, 8).toInt))
          else if (mType != 0x00) // skip NIL messages
            out += ((mType, body))
          p += 8 + mSize
        }
      }
      out.toSeq
    }

    /** Walk a v1 group B-tree down to its SNOD leaf addresses. */
    private def snodAddrs(btreeAddr: Long): Seq[Long] = {
      val head = read(btreeAddr, 8)
      require(new String(head, 0, 4) == "TREE", s"expected TREE node at $btreeAddr")
      val level = head(5).toInt
      val n = u(head, 6, 2).toInt
      // sig(4) type(1) level(1) n(2) left(8) right(8), then key0 child0 key1 …
      val body = read(btreeAddr + 24, n * 16 + 8)
      val children = (0 until n).map(i => u(body, 8 + i * 16, 8))
      if (level == 0) children
      else children.flatMap(snodAddrs)
    }

    /** NUL-terminated name at `off` inside a local heap data segment. */
    private def heapName(dataSegAddr: Long, off: Long): String = {
      val sb = new StringBuilder
      var p = dataSegAddr + off
      var chunk = read(p, 64)
      var i = 0
      while (chunk(i) != 0) {
        sb.append(chunk(i).toChar)
        i += 1
        if (i == chunk.length) { p += chunk.length; chunk = read(p, 64); i = 0 }
      }
      sb.toString()
    }

    /** (name → object header address) for a group's object header.
      * v1 groups: symbol-table message → B-tree → SNOD leaves.
      * v2 groups (libver='latest'): compact Link messages in the header;
      * dense fractal-heap storage is rejected with a clear error. */
    private def groupEntriesOf(ohdrAddr: Long): Seq[(String, Long)] = {
      val msgs = messages(ohdrAddr)
      msgs.collectFirst { case (0x11, b) => b } match {
        case Some(stab) =>
          val btree = u(stab, 0, 8)
          val heap = u(stab, 8, 8)
          val heapHead = read(heap, 32)
          require(new String(heapHead, 0, 4) == "HEAP", s"expected HEAP at $heap")
          val dataSeg = u(heapHead, 24, 8)
          snodAddrs(btree).flatMap { sa =>
            val sh = read(sa, 8)
            require(new String(sh, 0, 4) == "SNOD", s"expected SNOD at $sa")
            val n = u(sh, 6, 2).toInt
            val entries = read(sa + 8, n * 40)
            (0 until n).map { i =>
              (heapName(dataSeg, u(entries, i * 40, 8)), u(entries, i * 40 + 8, 8))
            }
          }
        case None =>
          // v2 group: Link Info (0x02) announces the storage form — links
          // are either compact Link messages (0x06) in the header, or
          // dense: link messages stored in a fractal heap, indexed by a
          // v2 B-tree of (name-hash, heap ID) records
          val dense = msgs.collectFirst { case (0x02, b) => b }.flatMap { li =>
            var q = 2 // version(1) flags(1)
            if ((li(1) & 0x01) != 0) q += 8 // max creation index
            val fheap = addr(li, q)
            val nameIndex = addr(li, q + 8)
            if (fheap == Undef) None else Some(denseLinks(fheap, nameIndex))
          }
          val links = dense.getOrElse(
            msgs.collect { case (0x06, b) => parseLink(b) }.flatten)
          require(links.nonEmpty || msgs.exists(m => m._1 == 0x02 || m._1 == 0x0a),
            s"object at $ohdrAddr is not a group")
          links.sortBy(_._1)
      }
    }

    /** Minimum bytes needed to encode `v` (≥ 1). */
    private def bytesFor(v: Long): Int =
      math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(v) + 7) / 8)

    /** Dense group links: every (name-hash, heap ID) record of the name
      * index v2 B-tree is resolved through the fractal heap to a Link
      * message. Supports the layout h5py/libhdf5 write for link storage:
      * unfiltered managed objects, root direct block or one level of
      * root indirect block with direct children, B-tree depth ≤ 1. */
    private def denseLinks(fheapAddr: Long, btreeAddr: Long): Seq[(String, Long)] =
      // type-5 record: name hash(4) + heap ID
      denseObjects(fheapAddr, btreeAddr, Set(5, 6), idOffset = 4)
        .flatMap(parseLink)

    /** Dense attributes (Attribute Info message 0x15): attribute
      * messages in a fractal heap, indexed by a type-8 v2 B-tree —
      * libhdf5's storage once an object exceeds its max-compact
      * attribute threshold (netCDF variables with rich per-layer
      * metadata hit this). */
    private def denseAttrs(fheapAddr: Long, btreeAddr: Long): Seq[(String, AttrValue)] =
      // type-8 record: heap ID(8) + message flags(1) + creation order(4) + hash(4)
      denseObjects(fheapAddr, btreeAddr, Set(8, 9), idOffset = 0)
        .flatMap(parseAttr)

    /** All v2 B-tree records resolved to their fractal-heap objects.
      * `idOffset` locates the heap ID inside each record (record layouts
      * differ per B-tree type; the ID's own size comes from the heap
      * header, so trailing record fields are ignored). */
    private def denseObjects(fheapAddr: Long, btreeAddr: Long,
        btreeTypes: Set[Int], idOffset: Int): Seq[Array[Byte]] = {
      // --- fractal heap header ("FRHP") ---
      val h = read(fheapAddr, 146)
      require(new String(h, 0, 4) == "FRHP", s"expected FRHP at $fheapAddr")
      require(h(4) == 0, s"unsupported fractal heap version ${h(4)}")
      val ioFilterLen = u(h, 7, 2).toInt
      require(ioFilterLen == 0, "filtered fractal heap (link storage) not supported")
      val maxManagedObjSize = u(h, 10, 4)
      val managedSpace = u(h, 46, 8)
      val tableWidth = u(h, 110, 2).toInt
      val startBlockSize = u(h, 112, 8)
      val maxDirectSize = u(h, 120, 8)
      val maxHeapBits = u(h, 128, 2).toInt
      val rootBlockAddr = addr(h, 132)
      val rootRows = u(h, 140, 2).toInt
      val offBytes = (maxHeapBits + 7) / 8
      val lenBytes = bytesFor(math.min(maxDirectSize, maxManagedObjSize))

      // --- direct-block map: (heapOffset, size, fileAddr) ---
      def rowSize(r: Int): Long =
        if (r < 2) startBlockSize else startBlockSize << (r - 1)
      val dblockHdr = 4 + 1 + 8 + offBytes // sig ver heapHdrAddr blockOffset (no checksum: flags bit1 unset in h5py link heaps is NOT guaranteed — tolerated below by never reading past objects)
      val blocks: Seq[(Long, Long, Long)] =
        if (rootRows == 0) Seq((0L, managedSpace, rootBlockAddr))
        else {
          // root indirect block ("FHIB"): children listed row-major
          val maxDirectRows =
            (java.lang.Long.numberOfTrailingZeros(java.lang.Long.highestOneBit(maxDirectSize))
              - java.lang.Long.numberOfTrailingZeros(java.lang.Long.highestOneBit(startBlockSize))) + 2
          val head = read(rootBlockAddr, 4 + 1 + 8 + offBytes + rootRows * tableWidth * 8)
          require(new String(head, 0, 4) == "FHIB", s"expected FHIB at $rootBlockAddr")
          var p = 4 + 1 + 8 + offBytes
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          var heapOff = 0L
          var r = 0
          while (r < rootRows) {
            require(r < maxDirectRows,
              s"indirect child blocks in fractal heap at $fheapAddr not supported")
            var c = 0
            while (c < tableWidth) {
              val a = addr(head, p)
              if (a != Undef) out += ((heapOff, rowSize(r), a))
              heapOff += rowSize(r)
              p += 8
              c += 1
            }
            r += 1
          }
          out.toSeq
        }

      /** Object bytes for a managed heap ID: heap offsets address the
        * heap's linear space (block headers included), so the file
        * position is blockAddr + (offset − blockOffset). */
      def heapObject(id: Array[Byte]): Array[Byte] = {
        require((id(0) & 0x30) == 0, s"non-managed fractal heap ID (flags ${id(0)})")
        val off = u(id, 1, offBytes)
        val len = u(id, 1 + offBytes, lenBytes).toInt
        val blk = blocks.find { case (bo, bs, _) => off >= bo && off < bo + bs }
          .getOrElse(throw new IllegalArgumentException(
            s"fractal heap offset $off outside any direct block"))
        require(off - blk._1 >= dblockHdr, s"fractal heap object at $off overlaps block header")
        read(blk._3 + (off - blk._1), len)
      }

      // --- name-index v2 B-tree ("BTHD"): collect all records ---
      val bt = read(btreeAddr, 38)
      require(new String(bt, 0, 4) == "BTHD", s"expected BTHD at $btreeAddr")
      require(btreeTypes.contains(bt(5).toInt),
        s"expected a v2 B-tree of type ${btreeTypes.mkString("/")}, got ${bt(5)}")
      val nodeSize = u(bt, 6, 4).toInt
      val recordSize = u(bt, 10, 2).toInt
      val depth = u(bt, 12, 2).toInt
      val rootAddr2 = addr(bt, 16)
      val rootNRec = u(bt, 24, 2).toInt
      require(depth <= 1, s"v2 B-tree depth $depth not supported for link index")
      val maxLeafRec = (nodeSize - 10) / recordSize
      val leafNRecBytes = bytesFor(maxLeafRec.toLong)

      def leafRecords(a: Long, n: Int): Seq[Array[Byte]] = {
        val node = read(a, 6 + n * recordSize)
        require(new String(node, 0, 4) == "BTLF", s"expected BTLF at $a")
        (0 until n).map(i =>
          java.util.Arrays.copyOfRange(node, 6 + i * recordSize, 6 + (i + 1) * recordSize))
      }
      val records: Seq[Array[Byte]] =
        if (rootAddr2 == Undef) Seq.empty
        else if (depth == 0) leafRecords(rootAddr2, rootNRec)
        else {
          // internal node ("BTIN"): records 0..N-1 then child pointers
          // 0..N. The internal records are REAL records (separators are
          // not repeated in leaves), so they are part of the result.
          val childPtr = 8 + leafNRecBytes // addr + nrec (no subtree totals at depth 1)
          val node = read(rootAddr2, 6 + rootNRec * recordSize + (rootNRec + 1) * childPtr)
          require(new String(node, 0, 4) == "BTIN", s"expected BTIN at $rootAddr2")
          val own = (0 until rootNRec).map(i =>
            java.util.Arrays.copyOfRange(node, 6 + i * recordSize, 6 + (i + 1) * recordSize))
          val kids = (0 to rootNRec).map { i =>
            val p = 6 + rootNRec * recordSize + i * childPtr
            (u(node, p, 8), u(node, p + 8, leafNRecBytes).toInt)
          }
          own ++ kids.flatMap { case (a, n) => leafRecords(a, n) }
        }

      records.map(r =>
        heapObject(java.util.Arrays.copyOfRange(r, idOffset, recordSize)))
    }

    /** Link message (0x06) → (name, object header address) for hard
      * links; soft/external links are skipped. */
    private def parseLink(b: Array[Byte]): Option[(String, Long)] = {
      require(b(0) == 1, s"unsupported link message version ${b(0)}")
      val flags = b(1) & 0xff
      var p = 2
      val linkType = if ((flags & 0x08) != 0) { val t = b(p) & 0xff; p += 1; t } else 0
      if ((flags & 0x04) != 0) p += 8 // creation order
      if ((flags & 0x10) != 0) p += 1 // charset
      val lenSize = 1 << (flags & 0x3)
      val nameLen = u(b, p, lenSize).toInt
      p += lenSize
      val name = new String(b, p, nameLen, java.nio.charset.StandardCharsets.UTF_8)
      p += nameLen
      if (linkType == 0) Some((name, u(b, p, 8))) else None
    }

    /** Root-group entries (sorted by name, as stored). */
    lazy val rootEntries: Seq[(String, Long)] = groupEntriesOf(rootOhdr)

    /** Attributes on the root group (netCDF global attrs live here). */
    def rootAttributes: Seq[(String, AttrValue)] = attributes(rootOhdr)

    /** Entries of a subgroup named at root (e.g. "RPC"), None when the
      * object is a dataset or absent. */
    def subgroupEntries(name: String): Option[Seq[(String, Long)]] =
      rootEntries.collectFirst { case (`name`, a) if isGroup(a) => groupEntriesOf(a) }

    def isGroup(ohdrAddr: Long): Boolean =
      messages(ohdrAddr).exists(m =>
        m._1 == 0x11 || m._1 == 0x02 || m._1 == 0x0a || m._1 == 0x06)

    /** Parse a dataset object header. */
    def dataset(name: String, ohdrAddr: Long): Dataset = {
      var dims: Seq[Long] = Seq.empty
      var dtype: Dtype = null
      var layout: Layout = null
      var filters: Seq[Filter] = Seq.empty
      messages(ohdrAddr).foreach {
        case (0x0b, b) => // filter pipeline: v1 (descriptions at 8,
          // 8-padded names, odd-count pad) or v2 ('latest' format:
          // descriptions at 2, no name field for id<256, no padding).
          // Parsing v2 with the v1 layout would silently misread filter
          // ids/client values → garbage decode, so dispatch on the
          // version byte and fail loudly on anything else (r11 advisor).
          val ver = b(0).toInt
          require(ver == 1 || ver == 2,
            s"$name: unsupported filter pipeline message version $ver")
          val nFilters = b(1).toInt
          val fb = Seq.newBuilder[Filter]
          var p = if (ver == 1) 8 else 2
          var i = 0
          while (i < nFilters && p + 6 <= b.length) {
            val id = u(b, p, 2).toInt
            val hasName = ver == 1 || id >= 256
            val nameLen = if (hasName) u(b, p + 2, 2).toInt else 0
            val hdr = if (hasName) 8 else 6
            val nValues = u(b, p + hdr - 2, 2).toInt
            val nameSpan =
              if (ver == 1) (nameLen + 7) / 8 * 8 // 8-padded
              else nameLen                        // v2: verbatim, unpadded
            val vOff = p + hdr + nameSpan
            fb += Filter(id, (0 until nValues).map(v => u(b, vOff + 4 * v, 4).toInt))
            p = vOff + nValues * 4 +
              (if (ver == 1 && nValues % 2 == 1) 4 else 0) // v2: no pad
            i += 1
          }
          filters = fb.result()
        case (0x01, b) => // dataspace: v1 (dims at 8) or v2 (dims at 4)
          dims = dataspaceDims(b, 0)
        case (0x03, b) => // datatype
          dtype = parseDtype(b, 0).getOrElse(throw new IllegalArgumentException(
            s"unsupported datatype class ${b(0) & 0x0f} in $name"))
        case (0x08, b) => // data layout (v3)
          require(b(0) == 3, s"unsupported layout version ${b(0)} in $name")
          layout = b(1) match {
            case 1 => Contiguous(u(b, 2, 8), u(b, 10, 8))
            case 0 =>
              val sz = u(b, 2, 2).toInt
              Compact(java.util.Arrays.copyOfRange(b, 4, 4 + sz))
            case 2 => // chunked: dimensionality(1), btree(8), dims u32 each
              val ndims = b(2).toInt // = rank + 1 (trailing element size)
              val chunkDims = (0 until ndims - 1).map(i => u(b, 11 + 4 * i, 4))
              Chunked(u(b, 3, 8), chunkDims, filters = Seq.empty) // patched below
            case c => throw new IllegalArgumentException(s"unsupported layout class $c in $name")
          }
        case _ => ()
      }
      require(dtype != null && layout != null, s"$name: missing datatype/layout message")
      layout = layout match {
        case c: Chunked => c.copy(filters = filters)
        case l          => l
      }
      Dataset(name, dims, dtype, layout)
    }

    /** Datatype message body at `off` → Dtype; None for classes the
      * reader has no use for (references, compounds — e.g. the
      * REFERENCE_LIST / DIMENSION_LIST attrs netCDF4 writes). */
    private def parseDtype(b: Array[Byte], off: Int): Option[Dtype] = {
      val cls = b(off) & 0x0f
      val le = (b(off + 1) & 0x01) == 0
      val size = u(b, off + 4, 4).toInt
      cls match {
        case 0 => Some(FixedPoint(size, signed = (b(off + 1) & 0x08) != 0, littleEndian = le))
        case 1 => Some(FloatPoint(size, littleEndian = le))
        case 3 => Some(FixedString(size))
        case 9 => // vlen: only of 1-byte chars (strings) is readable
          val vlenType = b(off + 1) & 0x0f
          if (vlenType == 1) Some(VlenString) else None
        case _ => None
      }
    }

    /** Dataspace message body at `off` → dims (v1 and v2 encodings). */
    private def dataspaceDims(b: Array[Byte], off: Int): Seq[Long] = {
      val rank = b(off + 1).toInt
      b(off) match {
        case 1 => (0 until rank).map(i => u(b, off + 8 + 8 * i, 8))
        case 2 => (0 until rank).map(i => u(b, off + 4 + 8 * i, 8))
        case v => throw new IllegalArgumentException(s"unsupported dataspace version $v")
      }
    }

    /** Decoded attributes of an object header (v1 + v3 attribute message
      * encodings). Attributes whose datatype the reader cannot represent
      * (object references, compounds) are skipped — netCDF4 files carry
      * DIMENSION_LIST / REFERENCE_LIST attrs of exactly that kind next to
      * the CLASS / units / metadata strings this reader is after. */
    def attributes(ohdrAddr: Long): Seq[(String, AttrValue)] = {
      val msgs = messages(ohdrAddr)
      val compact = msgs.collect { case (0x0c, b) => parseAttr(b) }.flatten
      // Attribute Info (0x15): dense storage in a fractal heap when the
      // object outgrew compact attribute messages
      val dense = msgs.collectFirst { case (0x15, b) => b }.toSeq.flatMap { ai =>
        var q = 2 // version(1) flags(1)
        if ((ai(1) & 0x01) != 0) q += 2 // max creation index (u16)
        val fheap = addr(ai, q)
        val nameIndex = addr(ai, q + 8)
        if (fheap == Undef) Seq.empty else denseAttrs(fheap, nameIndex)
      }
      compact ++ dense
    }

    private def pad8(n: Int): Int = (n + 7) / 8 * 8

    private def parseAttr(b: Array[Byte]): Option[(String, AttrValue)] = {
      val ver = b(0).toInt
      val nameSize = u(b, 2, 2).toInt // incl NUL terminator
      val dtSize = u(b, 4, 2).toInt
      val dsSize = u(b, 6, 2).toInt
      val (nameOff, dtOff, dsOff, dataOff) = ver match {
        case 1 =>
          val n = 8
          val dt = n + pad8(nameSize)
          val ds = dt + pad8(dtSize)
          (n, dt, ds, ds + pad8(dsSize))
        case 2 =>
          (8, 8 + nameSize, 8 + nameSize + dtSize, 8 + nameSize + dtSize + dsSize)
        case 3 => // + charset byte; name/dt/ds unpadded
          (9, 9 + nameSize, 9 + nameSize + dtSize, 9 + nameSize + dtSize + dsSize)
        case _ => return None
      }
      if (ver == 2 || ver == 3) {
        val flags = b(1) & 0xff
        if ((flags & 0x03) != 0) return None // shared datatype/dataspace
      }
      val nameEnd = {
        var e = nameOff
        while (e < nameOff + nameSize && b(e) != 0) e += 1
        e
      }
      val name = new String(b, nameOff, nameEnd - nameOff, java.nio.charset.StandardCharsets.UTF_8)
      parseDtype(b, dtOff).flatMap { dt =>
        val n = math.max(1L, dataspaceDims(b, dsOff).product).toInt
        val data = java.util.Arrays.copyOfRange(b, dataOff, b.length)
        dt match {
          case FixedString(sz) =>
            Some(name -> AttrStr((0 until n).map { i =>
              val s = data.slice(i * sz, (i + 1) * sz)
              val end = s.indexWhere(_ == 0) match { case -1 => s.length; case e => e }
              new String(s, 0, end, java.nio.charset.StandardCharsets.UTF_8)
            }))
          case VlenString =>
            Some(name -> AttrStr((0 until n).map { i =>
              val len = u(data, i * 16, 4).toInt
              val gcol = u(data, i * 16 + 4, 8)
              val idx = u(data, i * 16 + 12, 4).toInt
              readGlobalHeapObject(gcol, idx, len)
            }))
          case num =>
            Some(name -> AttrNum(decodeNumeric(data, n, num, name).toSeq))
        }
      }
    }

    /** Chunk B-tree (v1, node type 1) → (dataAddr, storedSize, origin). */
    private def chunkEntries(btreeAddr: Long, rank: Int): Seq[(Long, Int, Int, Seq[Long])] = {
      val head = read(btreeAddr, 8)
      require(new String(head, 0, 4) == "TREE", s"expected chunk TREE at $btreeAddr")
      require(head(4) == 1, "expected a raw-data chunk B-tree (type 1)")
      val level = head(5).toInt
      val n = u(head, 6, 2).toInt
      val keySize = 8 + 8 * (rank + 1) // size(4) + mask(4) + offsets u64 × (rank+1)
      val body = read(btreeAddr + 24, n * (keySize + 8) + keySize)
      (0 until n).flatMap { i =>
        val kOff = i * (keySize + 8)
        val storedSize = u(body, kOff, 4).toInt
        val mask = u(body, kOff + 4, 4).toInt // bit i = pipeline filter i SKIPPED
        val origin = (0 until rank).map(d => u(body, kOff + 8 + 8 * d, 8))
        val child = u(body, kOff + keySize, 8)
        if (level > 0) chunkEntries(child, rank)
        else Seq((child, storedSize, mask, origin))
      }
    }

    private def rawData(ds: Dataset): Array[Byte] = ds.layout match {
      case Compact(d)          => d
      case Contiguous(off, sz) => read(off, sz.toInt)
    }

    private def inflateBytes(stored: Array[Byte], outLen: Int, name: String): Array[Byte] = {
      val inf = new java.util.zip.Inflater()
      inf.setInput(stored)
      val buf = new Array[Byte](outLen)
      var done = 0
      var stalled = false
      while (done < buf.length && !inf.finished() && !stalled) {
        val n = inf.inflate(buf, done, buf.length - done)
        // truncated stream: inflate()==0 forever — fail instead
        stalled = n == 0 && (inf.needsInput() || inf.needsDictionary())
        done += n
      }
      inf.end()
      require(done == buf.length,
        s"$name: gzip'd chunk inflated to $done of ${buf.length} bytes")
      buf
    }

    /** Inflate with an unknown target length (deflate stacked above a
      * data-dependent resizer like scaleoffset, whose packed size is
      * only known from its own per-chunk header): grow until the stream
      * finishes; the defilter pipeline's final rawLen check stays the
      * loud corruption gate. */
    private def inflateGrow(stored: Array[Byte], hint: Int, name: String): Array[Byte] = {
      val inf = new java.util.zip.Inflater()
      inf.setInput(stored)
      var buf = new Array[Byte](math.max(hint, 64))
      var done = 0
      var stalled = false
      while (!inf.finished() && !stalled) {
        if (done == buf.length) {
          require(buf.length < (1 << 30),
            s"$name: gzip'd chunk exceeds 1 GiB inflated — refusing to grow")
          buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        }
        val n = inf.inflate(buf, done, buf.length - done)
        stalled = n == 0 && (inf.needsInput() || inf.needsDictionary())
        done += n
      }
      val finished = inf.finished()
      inf.end()
      require(finished, s"$name: truncated gzip'd chunk ($done bytes inflated)")
      java.util.Arrays.copyOf(buf, done)
    }

    /** HDF5's Fletcher-32 (H5checksum.c): big-endian 16-bit words,
      * 360-word blocks between modular reductions, odd trailing byte
      * high-padded. */
    private def fletcher32(b: Array[Byte], len: Int): Int = {
      var sum1 = 0L
      var sum2 = 0L
      var i = 0
      val words = len / 2
      var rem = words
      while (rem > 0) {
        var tlen = math.min(rem, 360)
        rem -= tlen
        while (tlen > 0) {
          sum1 += ((b(i) & 0xffL) << 8) | (b(i + 1) & 0xffL)
          sum2 += sum1
          i += 2
          tlen -= 1
        }
        sum1 = (sum1 & 0xffff) + (sum1 >>> 16)
        sum2 = (sum2 & 0xffff) + (sum2 >>> 16)
      }
      if (len % 2 == 1) {
        sum1 += (b(i) & 0xffL) << 8
        sum2 += sum1
        sum1 = (sum1 & 0xffff) + (sum1 >>> 16)
        sum2 = (sum2 & 0xffff) + (sum2 >>> 16)
      }
      sum1 = (sum1 & 0xffff) + (sum1 >>> 16)
      sum2 = (sum2 & 0xffff) + (sum2 >>> 16)
      ((sum2 << 16) | sum1).toInt
    }

    /** Reverse the byte-shuffle filter: input is elemSize byte-planes
      * of n elements each; trailing `len % elemSize` bytes pass through
      * unshuffled (H5Zshuffle.c's leftover rule). */
    private def unshuffle(b: Array[Byte], elemSize: Int): Array[Byte] = {
      if (elemSize <= 1 || b.length < elemSize) return b
      val n = b.length / elemSize
      val out = new Array[Byte](b.length)
      var j = 0
      var idx = 0
      while (j < elemSize) {
        var i = 0
        while (i < n) { out(i * elemSize + j) = b(idx); idx += 1; i += 1 }
        j += 1
      }
      // leftover bytes (never for real chunks — chunk bytes are a
      // multiple of the element size) copy verbatim at the tail
      while (idx < b.length) { out(idx) = b(idx); idx += 1 }
      out
    }

    /** Reverse the n-bit filter (id 5, H5Znbit.c): elements are packed
      * MSB-first as `precision`-bit fields taken from bit span
      * [offset, offset+precision) of each `size`-byte value; unpack each
      * back into its byte position (bits outside the span are zero —
      * n-bit is lossy there by definition). Atomic datatypes only
      * (class 1); the reference's SLC products carry no array/compound
      * n-bit data (`/root/reference/icecube/bin/sar_cube/slc_datacube.py:118-162`
      * delegates whatever h5py accepts). cd layout (H5Z__set_local_nbit):
      * [nparms, chunk nelmts, pass-through flag, class, size, order,
      * precision, offset]. */
    private def nbitDecode(stored: Array[Byte], rawLen: Int, cd: Seq[Int],
        name: String): Array[Byte] = {
      require(cd.length >= 3, s"$name: nbit filter with ${cd.length} client values")
      if (cd(2) != 0) return stored // full-precision datatype: filter was a pass-through
      require(cd.length >= 8 && cd(3) == 1,
        s"$name: unsupported nbit datatype class ${cd.lift(3).getOrElse(-1)} (atomic only)")
      val size = cd(4); val be = cd(5) != 0; val precision = cd(6); val offset = cd(7)
      require(size > 0 && precision > 0 && precision + offset <= size * 8,
        s"$name: nbit precision $precision + offset $offset exceeds ${size * 8} bits")
      val n = rawLen / size
      require(n * size == rawLen && cd(1) == n,
        s"$name: nbit chunk of $rawLen bytes vs ${cd(1)} declared $size-byte elements")
      val bits = n.toLong * precision
      require(stored.length >= (bits + 7) / 8,
        s"$name: nbit stream of ${stored.length} bytes for $bits packed bits — truncated")
      val out = new Array[Byte](rawLen)
      val dtLen = size * 8
      var j = 0; var bufLen = 8
      // one output byte k of one element: datLen significant bits at
      // in-byte offset datOff, consumed MSB-first from the stream
      // (H5Z__nbit_decompress_one_byte's begin/end split)
      def takeByte(k: Int, begin: Int, end: Int): Int = {
        var datLen = 8; var datOff = 0
        if (begin != end) {
          if (k == begin) datLen = 8 - (dtLen - precision - offset) % 8
          else if (k == end) { datLen = 8 - offset % 8; datOff = offset % 8 }
        } else { datOff = offset % 8; datLen = precision }
        var v = 0
        if (bufLen > datLen) {
          v = ((stored(j) & 0xff) >>> (bufLen - datLen)) & ((1 << datLen) - 1)
          bufLen -= datLen
        } else {
          v = ((stored(j) & 0xff) & ((1 << bufLen) - 1)) << (datLen - bufLen)
          datLen -= bufLen
          j += 1; bufLen = 8
          if (datLen > 0) {
            v |= ((stored(j) & 0xff) >>> (bufLen - datLen)) & ((1 << datLen) - 1)
            bufLen -= datLen
          }
        }
        v << datOff
      }
      var i = 0
      while (i < n) {
        val base = i * size
        if (!be) { // LE: most-significant byte (begin) emitted first
          val begin = if ((precision + offset) % 8 != 0) (precision + offset) / 8
                      else (precision + offset) / 8 - 1
          val end = offset / 8
          var k = begin
          while (k >= end) { out(base + k) = takeByte(k, begin, end).toByte; k -= 1 }
        } else { // BE: byte 0 side holds the most-significant bits
          val begin = (dtLen - precision - offset) / 8
          val end = if (offset % 8 != 0) (dtLen - offset) / 8
                    else (dtLen - offset) / 8 - 1
          var k = begin
          while (k <= end) { out(base + k) = takeByte(k, begin, end).toByte; k += 1 }
        }
        i += 1
      }
      out
    }

    /** Reverse the scale-offset filter (id 6, H5Zscaleoffset.c). Stored
      * chunk = 21-byte header (minbits u32 LE, minval byte-width u8,
      * minval LE) + either a verbatim copy (minbits == full width) or n
      * values of minbits bits packed MSB-first. Integer path adds minval
      * back (with the all-ones code reserved for the fill value when one
      * is defined); float D-scale divides the shifted integer by
      * 10^scaleFactor. E-scale (type 1) was never implemented by HDF5
      * itself — loud error. cd layout: [scaleType, scaleFactor, chunk
      * nelmts, class, size, sign, order, fillDefined, fill bytes
      * LSB-first 4 per word...]. */
    private def scaleoffsetDecode(stored: Array[Byte], rawLen: Int, cd: Seq[Int],
        name: String): Array[Byte] = {
      require(cd.length >= 8, s"$name: scaleoffset filter with ${cd.length} client values")
      val scaleType = cd(0); val scaleFactor = cd(1); val dtClass = cd(3)
      val size = cd(4); val be = cd(6) != 0; val fillDefined = cd(7) != 0
      require(size >= 1 && size <= 8, s"$name: scaleoffset element size $size")
      val n = rawLen / size
      require(n * size == rawLen && cd(2) == n,
        s"$name: scaleoffset chunk of $rawLen bytes vs ${cd(2)} declared $size-byte elements")
      require(stored.length >= 13, s"$name: scaleoffset chunk under the 13-byte header")
      var minbits = 0; { var i = 0; while (i < 4) { minbits |= (stored(i) & 0xff) << (8 * i); i += 1 } }
      val minvalWidth = math.min(stored(4) & 0xff, 8)
      var minval = 0L; { var i = 0; while (i < minvalWidth) { minval |= (stored(5 + i) & 0xffL) << (8 * i); i += 1 } }
      val dataOff = 21
      val out = new Array[Byte](rawLen)
      if (minbits == size * 8) { // full-width chunk: stored little-endian
        // H5Z__scaleoffset_convert canonicalizes BE datasets to LE before
        // compressing, so a full-width payload is LE on disk regardless of
        // cd(6); swap back per element when the dataset order is BE (the
        // packed path honors cd(6) inside putVal already).
        require(stored.length >= dataOff + rawLen,
          s"$name: scaleoffset full-width chunk truncated (${stored.length} bytes)")
        System.arraycopy(stored, dataOff, out, 0, rawLen)
        if (be && size > 1) {
          var base = 0
          while (base < rawLen) {
            var lo = 0; var hi = size - 1
            while (lo < hi) {
              val t = out(base + lo); out(base + lo) = out(base + hi); out(base + hi) = t
              lo += 1; hi -= 1
            }
            base += size
          }
        }
        return out
      }
      require(minbits >= 0 && minbits < size * 8,
        s"$name: scaleoffset minbits $minbits for a $size-byte element")
      // unpack n zero-extended values of minbits bits, MSB-first (the
      // per-byte begin_i..0 walk of H5Z__scaleoffset_decompress_one_atomic
      // collapses to whole-value MSB-first order in both byte orders)
      val vals = new Array[Long](n)
      if (minbits > 0) {
        require(stored.length - dataOff >= (n.toLong * minbits + 7) / 8,
          s"$name: scaleoffset stream of ${stored.length} bytes for ${n.toLong * minbits} packed bits — truncated")
        var j = dataOff; var bufLen = 8
        var i = 0
        while (i < n) {
          var need = minbits
          var v = 0L
          while (need > 0) {
            val tk = math.min(need, bufLen)
            v = (v << tk) | (((stored(j) & 0xff) >>> (bufLen - tk)) & ((1 << tk) - 1))
            bufLen -= tk; need -= tk
            if (bufLen == 0) { j += 1; bufLen = 8 }
          }
          vals(i) = v
          i += 1
        }
      }
      val fillCode = if (minbits == 0) 0L else (1L << minbits) - 1
      // fill value bytes sit LSB-first, 4 per cd word, from index 8
      def fillBits: Long = {
        var v = 0L; var b = 0
        while (b < size && 8 + b / 4 < cd.length) {
          v |= ((cd(8 + b / 4) >>> (8 * (b % 4))) & 0xffL) << (8 * b)
          b += 1
        }
        v
      }
      def putVal(base: Int, bits: Long): Unit = {
        var b = 0
        while (b < size) {
          val shift = if (be) 8 * (size - 1 - b) else 8 * b
          out(base + b) = ((bits >>> shift) & 0xff).toByte
          b += 1
        }
      }
      (scaleType, dtClass) match {
        case (2, 0) => // H5Z_SO_INT over integers: shift back by minval
          val fill = if (fillDefined) fillBits else 0L
          var i = 0
          while (i < n) {
            val dec = if (fillDefined && vals(i) == fillCode) fill else vals(i) + minval
            putVal(i * size, dec)
            i += 1
          }
        case (0, 1) => // H5Z_SO_FLOAT_DSCALE: (packed + minval) / 10^D
          require(size == 4 || size == 8,
            s"$name: scaleoffset D-scale element size $size (float32/float64 only)")
          val p10 = math.pow(10.0, scaleFactor.toDouble)
          val fill = if (fillDefined) fillBits else 0L
          var i = 0
          while (i < n) {
            val bits =
              if (fillDefined && vals(i) == fillCode) fill
              else {
                val x = (vals(i) + minval).toDouble / p10
                if (size == 4) java.lang.Float.floatToIntBits(x.toFloat).toLong & 0xffffffffL
                else java.lang.Double.doubleToLongBits(x)
              }
            putVal(i * size, bits)
            i += 1
          }
        case (st, dc) =>
          throw new IllegalArgumentException(
            s"$name: unsupported scaleoffset scale type $st / datatype class $dc " +
              "(supported: integer minimum-bits, float D-scale)")
      }
      out
    }

    /** Run the chunk through the filter pipeline in REVERSE write
      * order: fletcher32 verifies and strips its 4-byte trailer,
      * deflate inflates, shuffle de-interleaves byte planes, nbit
      * unpacks precision-truncated values, scaleoffset shifts packed
      * offsets back. `mask` (from the chunk's B-tree key) bit i set =
      * pipeline filter i was skipped for this chunk. `rawLen` =
      * unfiltered chunk bytes. */
    private def defilterChunk(stored: Array[Byte], rawLen: Int,
        filters: Seq[Filter], mask: Int, elemSize: Int, name: String): Array[Byte] = {
      if (filters.isEmpty) return stored
      // forward output length of filters 0..fi-1 over the raw chunk —
      // the byte count entering reverse step fi; None once a
      // data-dependent resizer (scaleoffset's per-chunk minbits, nested
      // deflate) intervenes, in which case inflate runs in grow mode
      // and the final rawLen require stays the loud gate
      def lengthBelow(fi: Int): Option[Int] = {
        var len: Option[Long] = Some(rawLen.toLong)
        var k = 0
        while (k < fi) {
          if ((mask & (1 << k)) == 0) len = filters(k).id match {
            case 3 => len.map(_ + 4) // fletcher32 trailer
            case 2 => len            // shuffle preserves length
            case 5 =>                // nbit: floor(bits/8)+1 (H5Z__nbit_compress)
              val cdv = filters(k).clientValues
              if (cdv.length > 2 && cdv(2) != 0) len // pass-through flag
              else if (cdv.length >= 8 && cdv(3) == 1 && cdv(4) > 0)
                len.map(l => l / cdv(4) * cdv(6) / 8 + 1)
              else None
            case _ => None
          }
          k += 1
        }
        len.map(_.toInt)
      }
      var buf = stored
      var fi = filters.length - 1
      while (fi >= 0) {
        if ((mask & (1 << fi)) == 0) filters(fi).id match {
          case 3 => // fletcher32: checksum over all but the 4-byte trailer
            require(buf.length >= 4, s"$name: fletcher32 chunk under 4 bytes")
            val dataLen = buf.length - 4
            val want = fletcher32(buf, dataLen)
            val le = ((buf(dataLen) & 0xff)) | ((buf(dataLen + 1) & 0xff) << 8) |
              ((buf(dataLen + 2) & 0xff) << 16) | ((buf(dataLen + 3) & 0xff) << 24)
            // pre-1.6.3 HDF5 wrote the two 16-bit halves swapped; accept
            // both, exactly like H5Zfletcher32.c does
            val swapped = ((le >>> 16) & 0xffff) | (le << 16)
            require(le == want || swapped == want,
              f"$name: fletcher32 mismatch (stored 0x$le%08x, computed 0x$want%08x) — corrupt chunk")
            buf = java.util.Arrays.copyOfRange(buf, 0, dataLen)
          case 1 =>
            buf = lengthBelow(fi) match {
              case Some(e) => inflateBytes(buf, e, name)
              case None    => inflateGrow(buf, rawLen, name)
            }
          case 2 => // shuffle: client value 0 is the element size
            buf = unshuffle(buf, filters(fi).clientValues.headOption.getOrElse(elemSize))
          case 5 =>
            val outLen = lengthBelow(fi).getOrElse(throw new IllegalArgumentException(
              s"$name: nbit stacked above a data-dependent filter"))
            buf = nbitDecode(buf, outLen, filters(fi).clientValues, name)
          case 6 =>
            val outLen = lengthBelow(fi).getOrElse(throw new IllegalArgumentException(
              s"$name: scaleoffset stacked above a data-dependent filter"))
            buf = scaleoffsetDecode(buf, outLen, filters(fi).clientValues, name)
          case 4 =>
            // PERMANENT stance (README "Permanent loud-fail stances"):
            // szip's Rice coder was patent-encumbered — HDF5/h5py ship
            // it as an optional, possibly-absent plugin and raise when
            // missing; we match that behavior by name, never decode
            // garbage
            throw new IllegalArgumentException(
              s"$name: unsupported HDF5 filter id 4 (szip) — permanently " +
                "out of scope (patent-encumbered optional plugin; see " +
                "README); re-write the file with a gzip/shuffle pipeline " +
                "(supported: deflate, shuffle, fletcher32, nbit, scaleoffset)")
          case other =>
            throw new IllegalArgumentException(
              s"$name: unsupported HDF5 filter id $other " +
                "(supported: deflate, shuffle, fletcher32, nbit, scaleoffset)")
        }
        fi -= 1
      }
      require(buf.length == rawLen,
        s"$name: defiltered chunk is ${buf.length} bytes, expected $rawLen")
      buf
    }

    /** Row-bounded 2-D read: only the rows [rowLo, rowHi] materialize.
      * Contiguous layout becomes ONE ranged read of the row span;
      * chunked layout skips every chunk whose dim-0 range misses the
      * bound — the HDF5 analog of [[Tiff.decodeRows]]'s strip pruning,
      * and the hook the `graft-slc` DataSource V2 pushes azimuth
      * predicates into. Returns (hi − lo + 1) · rg doubles, row-major
      * from rowLo. */
    def readDoublesRows(ds: Dataset, rowLo0: Int, rowHi0: Int): Array[Double] = {
      require(ds.dims.size == 2, s"${ds.name}: readDoublesRows needs a 2-D dataset")
      val az = ds.dims.head.toInt
      val rg = ds.dims(1).toInt
      val lo = math.max(rowLo0, 0)
      val hi = math.min(rowHi0, az - 1)
      if (lo > hi) return Array.emptyDoubleArray
      val elemSize = ds.dtype match {
        case FixedPoint(s, _, _) => s
        case FloatPoint(s, _)    => s
        case t => throw new IllegalArgumentException(s"${ds.name}: not numeric ($t)")
      }
      ds.layout match {
        case Contiguous(off, _) =>
          Hdf5.blocksRead.incrementAndGet()
          val n = (hi - lo + 1) * rg
          decodeNumeric(read(off + lo.toLong * rg * elemSize, n * elemSize),
            n, ds.dtype, ds.name)
        case Compact(d) =>
          Hdf5.blocksRead.incrementAndGet()
          val all = decodeNumeric(d, ds.elementCount.toInt, ds.dtype, ds.name)
          java.util.Arrays.copyOfRange(all, lo * rg, (hi + 1) * rg)
        case c: Chunked =>
          val out = new Array[Double]((hi - lo + 1) * rg)
          val chunkElems = c.chunkDims.product.toInt
          val c0 = c.chunkDims.head
          chunkEntries(c.btreeAddr, 2).foreach { case (addr, storedSize, mask, origin) =>
            val o0 = origin.head
            if (o0 <= hi && o0 + c0 - 1 >= lo) {
              Hdf5.blocksRead.incrementAndGet()
              val stored = read(addr, storedSize)
              val raw = defilterChunk(stored, chunkElems * elemSize,
                c.filters, mask, elemSize, ds.name)
              val vals = decodeNumeric(raw, chunkElems, ds.dtype, ds.name)
              var i = 0
              while (i < chunkElems) {
                val r = o0 + i / c.chunkDims(1)
                val col = origin(1) + i % c.chunkDims(1)
                if (r >= lo && r <= hi && col < rg)
                  out(((r - lo) * rg + col).toInt) = vals(i)
                i += 1
              }
            }
          }
          out
      }
    }

    /** Numeric dataset → doubles (row-major), assembling chunks when the
      * layout is chunked (inflating gzip'd chunks per the filter
      * pipeline). */
    def readDoubles(ds: Dataset): Array[Double] = ds.layout match {
      case c: Chunked =>
        val rank = ds.dims.size
        val out = new Array[Double](ds.elementCount.toInt)
        val elemSize = ds.dtype match {
          case FixedPoint(s, _, _) => s
          case FloatPoint(s, _)    => s
          case t => throw new IllegalArgumentException(s"${ds.name}: not numeric ($t)")
        }
        val chunkElems = c.chunkDims.product.toInt
        chunkEntries(c.btreeAddr, rank).foreach { case (addr, storedSize, mask, origin) =>
          val stored = read(addr, storedSize)
          val raw = defilterChunk(stored, chunkElems * elemSize,
            c.filters, mask, elemSize, ds.name)
          val vals = decodeNumeric(raw, chunkElems, ds.dtype, ds.name)
          // place chunk elements (row-major within chunkDims); clip edge
          // chunks that overhang the dataset dims
          val strides = Array.tabulate(rank)(d => (d + 1 until rank).map(c.chunkDims(_)).product)
          var i = 0
          while (i < chunkElems) {
            var rem = i.toLong
            var linear = 0L
            var inside = true
            var d = 0
            while (d < rank) {
              val local = rem / strides(d)
              rem = rem % strides(d)
              val coord = origin(d) + local
              if (coord >= ds.dims(d)) inside = false
              linear = linear * ds.dims(d) + coord
              d += 1
            }
            if (inside) out(linear.toInt) = vals(i)
            i += 1
          }
        }
        out
      case _ => decodeNumeric(rawData(ds), ds.elementCount.toInt, ds.dtype, ds.name)
    }

    /** One index-0 slice (e.g. a single band plane of a (Band, Az, Rg)
      * variable) decoded WITHOUT materializing the full dataset —
      * contiguous/compact: a single ranged read at the plane offset;
      * chunked: only the chunks whose index-0 range intersects the
      * slice. This is what lets callers stream a large dataset
      * plane-by-plane (one task per band). */
    def readSlice0(ds: Dataset, i0: Long): Array[Double] = {
      val rank = ds.dims.size
      require(rank >= 1 && i0 >= 0 && i0 < ds.dims.head,
        s"${ds.name}: slice $i0 out of range ${ds.dims}")
      val planeElemsL = ds.dims.drop(1).product.max(1L)
      require(planeElemsL <= Int.MaxValue,
        s"${ds.name}: plane of $planeElemsL elements exceeds JVM array bounds — " +
          "slice along a finer-grained leading dimension")
      val planeElems = planeElemsL.toInt
      val elemSize = ds.dtype match {
        case FixedPoint(s, _, _) => s
        case FloatPoint(s, _)    => s
        case t => throw new IllegalArgumentException(s"${ds.name}: not numeric ($t)")
      }
      ds.layout match {
        case Contiguous(off, _) =>
          // sectioned reads: plane BYTE counts routinely exceed Int range
          // for large rasters (the whole point of plane streaming), and a
          // single read length is Int-bounded — 64 MiB sections, Long math
          val base = off + i0 * planeElemsL * elemSize
          val out = new Array[Double](planeElems)
          val sectionElems = math.max(1, (1 << 26) / elemSize)
          var done = 0
          while (done < planeElems) {
            val n = math.min(sectionElems, planeElems - done)
            val vals = decodeNumeric(read(base + done.toLong * elemSize, n * elemSize),
              n, ds.dtype, ds.name)
            System.arraycopy(vals, 0, out, done, n)
            done += n
          }
          out
        case Compact(d) =>
          decodeNumeric(java.util.Arrays.copyOfRange(d,
            (i0 * planeElems * elemSize).toInt, ((i0 + 1) * planeElems * elemSize).toInt),
            planeElems, ds.dtype, ds.name)
        case c: Chunked =>
          val out = new Array[Double](planeElems)
          val chunkElems = c.chunkDims.product.toInt
          val strides = Array.tabulate(rank)(d => (d + 1 until rank).map(c.chunkDims(_)).product)
          val planeStrides = Array.tabulate(rank)(d =>
            if (d == 0) 0L else (d + 1 until rank).map(ds.dims(_)).product)
          chunkEntries(c.btreeAddr, rank)
            .filter { case (_, _, _, origin) =>
              origin.head <= i0 && i0 < origin.head + c.chunkDims.head }
            .foreach { case (addr, storedSize, mask, origin) =>
              val vals = decodeNumeric(
                defilterChunk(read(addr, storedSize), chunkElems * elemSize,
                  c.filters, mask, elemSize, ds.name),
                chunkElems, ds.dtype, ds.name)
              var i = 0
              while (i < chunkElems) {
                var rem = i.toLong
                var linear = 0L
                var inside = true
                var d = 0
                while (d < rank) {
                  val local = rem / strides(d)
                  rem = rem % strides(d)
                  val coord = origin(d) + local
                  if (d == 0) { if (coord != i0) inside = false }
                  else if (coord >= ds.dims(d)) inside = false
                  if (d > 0) linear += coord * planeStrides(d)
                  d += 1
                }
                if (inside) out(linear.toInt) = vals(i)
                i += 1
              }
            }
          out
      }
    }

    private def decodeNumeric(d: Array[Byte], n: Int, dtype: Dtype, name: String): Array[Double] = {
      dtype match {
        case FixedPoint(size, signed, le) =>
          Array.tabulate(n) { i =>
            var v = 0L
            var j = 0
            while (j < size) {
              val b = d(i * size + j) & 0xffL
              v |= (if (le) b << (8 * j) else b << (8 * (size - 1 - j)))
              j += 1
            }
            if (signed && size < 8) { // sign-extend
              val shift = 64 - size * 8
              v = (v << shift) >> shift
            }
            v.toDouble
          }
        case FloatPoint(4, le) =>
          Array.tabulate(n) { i =>
            val bits = u(d, i * 4, 4).toInt
            val v = if (le) bits else Integer.reverseBytes(bits)
            java.lang.Float.intBitsToFloat(v).toDouble
          }
        case FloatPoint(8, le) =>
          Array.tabulate(n) { i =>
            val bits = u(d, i * 8, 8)
            val v = if (le) bits else java.lang.Long.reverseBytes(bits)
            java.lang.Double.longBitsToDouble(v)
          }
        case t => throw new IllegalArgumentException(s"$name: not a numeric dataset ($t)")
      }
    }

    /** Scalar string dataset → value (fixed or vlen via global heap). */
    def readString(ds: Dataset): String = {
      val d = rawData(ds)
      ds.dtype match {
        case FixedString(_) =>
          val end = d.indexWhere(_ == 0) match { case -1 => d.length; case i => i }
          new String(d, 0, end, java.nio.charset.StandardCharsets.UTF_8)
        case VlenString =>
          // vlen descriptor: length(4), global-heap collection addr(8), index(4)
          val len = u(d, 0, 4).toInt
          val gcol = u(d, 4, 8)
          val idx = u(d, 12, 4).toInt
          readGlobalHeapObject(gcol, idx, len)
        case t => throw new IllegalArgumentException(s"${ds.name}: not a string dataset ($t)")
      }
    }

    private def readGlobalHeapObject(gcolAddr: Long, index: Int, len: Int): String = {
      val head = read(gcolAddr, 16)
      require(new String(head, 0, 4) == "GCOL", s"expected GCOL at $gcolAddr")
      var p = gcolAddr + 16
      while (true) {
        val oh = read(p, 16)
        val idx = u(oh, 0, 2).toInt
        val size = u(oh, 8, 8)
        if (idx == index) {
          val data = read(p + 16, len)
          return new String(data, java.nio.charset.StandardCharsets.UTF_8)
        }
        require(idx != 0, s"global heap object $index not found in collection at $gcolAddr")
        p += 16 + (size + 7) / 8 * 8
      }
      throw new IllegalStateException("unreachable")
    }
  }

  def fromBytes(data: Array[Byte]): File =
    new File((off, len) => java.util.Arrays.copyOfRange(
      data, off.toInt, math.min(data.length, off.toInt + len)))
}
