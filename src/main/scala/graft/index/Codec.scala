package graft.index

import scala.collection.mutable

/** One skip entry per 128-posting block: enough metadata to (a) skip the
  * block during conjunctive advance (firstDoc/lastDoc) and (b) compute a
  * safe BM25 upper bound for block-max WAND (maxTf monotone-up, minDl
  * monotone-down in the score). Mirrors what Lucene keeps in its skip data
  * plus the BMW max-score metadata (Ding & Suel, WSDM 2011 — public). */
final case class Skip(firstDoc: Long, lastDoc: Long, maxTf: Int, minDl: Int)

/** An encoded posting list (or sub-list, when document-sharded):
  * delta+varint compressed 128-entry blocks with per-block skip entries. */
final case class EncodedPostings(blocks: Array[Array[Byte]], skips: Array[Skip], count: Long)

/**
 * Postings codec: per block of up to 128 postings, three delta/value
 * arrays (docId deltas — first docId lives in the skip entry —, tfs,
 * docLens; dl stored inline => posting lists are self-contained, no
 * norms join at query time; Lucene's equivalent is the per-doc norm).
 *
 * Two block formats, tagged by a leading format byte:
 *   0 = VARINT: each array LEB128-varint encoded.
 *   1 = PFOR:   patched frame-of-reference (Zukowski et al., ICDE 2006;
 *       the NewPFD "exceptions as (idx, value) patch list" variant):
 *       per array choose the bit width w minimizing
 *       packed-bits + exception bytes, bit-pack the low w bits of every
 *       value, and patch the outliers from a varint exception list.
 *
 * PFOR is the default build format (smaller and decode is branch-light);
 * VARINT kept for cross-checking and as the simple reference decoder.
 * Property-tested in CodecSpec: decode(encode(xs)) == xs for arbitrary
 * sorted distinct docId lists incl. block-boundary sizes, both formats.
 */
object Codec {
  val BlockSize = 128

  sealed trait Format { def tag: Byte }
  case object Varint extends Format { val tag: Byte = 0 }
  case object Pfor extends Format { val tag: Byte = 1 }
  val DefaultFormat: Format = Pfor

  @inline private def bitsOf(v: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(v | 1L)

  /** PFOR-pack one array: varint(n), byte(w), varint(nExc),
    * ceil(n*w/8) packed bytes, then nExc * (varint idx, varint value).
    * Byte-IDENTICAL to the original reference packer (CodecSpec pins
    * roundtrips; the index `bytes` metric is oracle-checked), but O(n+64)
    * width selection via a bit-width histogram and word-wise LSB-first
    * packing instead of the O(65n) cost scan + per-bit writes — this is
    * the build encode hot loop (one call per array per 128-posting
    * block). */
  private[index] def packArray(buf: mutable.ArrayBuilder[Byte], vs: Array[Long]): Unit = {
    val n = vs.length
    writeVarLong(buf, n.toLong)
    if (n == 0) return
    val bits = new Array[Int](n)
    // histogram of bit widths -> per-class exception byte cost
    val cnt = new Array[Int](65)
    var i = 0
    while (i < n) {
      val b = bitsOf(vs(i)); bits(i) = b; cnt(b) += 1; i += 1
    }
    // excBytes(w) = sum over classes b > w of cnt(b) * (2 + (b+6)/7):
    // suffix sums give every w in one backward pass
    val excSuffix = new Array[Long](66)
    var b = 64
    while (b >= 0) {
      excSuffix(b) = excSuffix(b + 1) + cnt(b).toLong * (2 + (b + 6) / 7)
      b -= 1
    }
    // same scan order and strict '<' as the reference: first minimum wins
    var bestW = 64
    var bestCost = Long.MaxValue
    var w = 0
    while (w <= 64) {
      val cost = (n.toLong * w + 7) / 8 + excSuffix(w + 1)
      if (cost < bestCost) { bestCost = cost; bestW = w }
      w += 1
    }
    val width = bestW
    buf += width.toByte
    val mask = if (width == 64) -1L else (1L << width) - 1
    var nExc = 0
    i = 0
    while (i < n) { if (bits(i) > width) nExc += 1; i += 1 }
    writeVarLong(buf, nExc.toLong)
    // bit-pack low `width` bits, LSB-first within a little-endian stream
    // (64-bit accumulator, flushed in 8-byte runs — same byte layout as
    // the per-bit reference writer)
    val packedLen = ((n.toLong * width + 7) / 8).toInt
    val packed = new Array[Byte](packedLen)
    if (width > 0) {
      var acc = 0L
      var nacc = 0
      var pos = 0
      i = 0
      while (i < n) {
        val v = vs(i) & mask
        acc |= v << nacc // low (64 - nacc) bits of v land here
        val total = nacc + width
        if (total >= 64) {
          var k = 0
          while (k < 8) { packed(pos) = (acc >>> (k * 8)).toByte; pos += 1; k += 1 }
          val shift = 64 - nacc
          acc = if (shift == 64) 0L else v >>> shift
          nacc = total - 64
        } else nacc = total
        i += 1
      }
      var k = 0
      while (nacc > 0) {
        packed(pos) = (acc >>> (k * 8)).toByte; pos += 1; k += 1; nacc -= 8
      }
    }
    buf ++= packed
    i = 0
    while (i < n) {
      if (bits(i) > width) { writeVarLong(buf, i.toLong); writeVarLong(buf, vs(i)) }
      i += 1
    }
  }

  private[index] def unpackArray(r: Reader, bytes: Array[Byte]): Array[Long] = {
    val n = r.readVarLong().toInt
    val out = new Array[Long](n)
    if (n == 0) return out
    val width = bytes(r.pos) & 0xff; r.pos += 1
    val nExc = r.readVarLong().toInt
    val packedLen = ((n.toLong * width + 7) / 8).toInt
    val base = r.pos
    if (width > 0 && width <= 57) {
      // word-wise LSB-first unpack (the query-path hot loop): refill the
      // accumulator a byte at a time — nacc stays < width + 8 <= 65, and
      // width <= 57 keeps every refill shift in range
      val mask = (1L << width) - 1
      var acc = 0L
      var nacc = 0
      var bytePos = base
      var i = 0
      while (i < n) {
        while (nacc < width) {
          acc |= (bytes(bytePos) & 0xffL) << nacc; bytePos += 1; nacc += 8
        }
        out(i) = acc & mask
        acc >>>= width
        nacc -= width
        i += 1
      }
    } else if (width > 0) {
      // rare wide rows (w > 57): reference per-bit decode
      var i = 0
      var bitPos = 0L
      while (i < n) {
        var v = 0L
        var b = 0
        while (b < width) {
          val p = bitPos + b
          if ((bytes(base + (p >>> 3).toInt) & (1 << (p & 7))) != 0) v |= (1L << b)
          b += 1
        }
        out(i) = v
        bitPos += width
        i += 1
      }
    }
    r.pos = base + packedLen
    var e = 0
    while (e < nExc) {
      val idx = r.readVarLong().toInt
      out(idx) = r.readVarLong()
      e += 1
    }
    out
  }

  def writeVarLong(buf: mutable.ArrayBuilder[Byte], v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) {
      buf += ((v & 0x7f) | 0x80).toByte
      v >>>= 7
    }
    buf += v.toByte
  }

  /** Reads a varint starting at pos(0); returns value, advances pos. */
  final class Reader(bytes: Array[Byte]) {
    var pos = 0
    def readVarLong(): Long = {
      var b = bytes(pos); pos += 1
      var v = (b & 0x7fL)
      var shift = 7
      while ((b & 0x80) != 0) {
        b = bytes(pos); pos += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      }
      v
    }
    def hasMore: Boolean = pos < bytes.length
  }

  /** docIds must be sorted strictly ascending; tfs/dls parallel arrays. */
  def encode(docIds: Array[Long], tfs: Array[Int], dls: Array[Int],
             blockSize: Int = BlockSize,
             format: Format = DefaultFormat): EncodedPostings = {
    require(docIds.length == tfs.length && tfs.length == dls.length)
    // delta encoding is only meaningful over strictly ascending docIds;
    // a violation (e.g. interleaved segment ranges fed to a merge) must
    // fail loudly here, not corrupt postings with negative deltas
    var v = 1
    while (v < docIds.length) {
      require(docIds(v) > docIds(v - 1),
        s"docIds not strictly ascending at $v: ${docIds(v - 1)} -> ${docIds(v)}")
      v += 1
    }
    val nBlocks = (docIds.length + blockSize - 1) / blockSize
    val blocks = new Array[Array[Byte]](nBlocks)
    val skips = new Array[Skip](nBlocks)
    var b = 0
    while (b < nBlocks) {
      val start = b * blockSize
      val end = math.min(start + blockSize, docIds.length)
      val n = end - start
      val buf = mutable.ArrayBuilder.make[Byte]
      buf += format.tag
      format match {
        case Varint =>
          writeVarLong(buf, n.toLong)
          var i = start + 1
          while (i < end) { writeVarLong(buf, docIds(i) - docIds(i - 1)); i += 1 }
          i = start
          while (i < end) { writeVarLong(buf, tfs(i).toLong); i += 1 }
          i = start
          while (i < end) { writeVarLong(buf, dls(i).toLong); i += 1 }
        case Pfor =>
          val deltas = new Array[Long](n - 1)
          var i = start + 1
          while (i < end) { deltas(i - start - 1) = docIds(i) - docIds(i - 1); i += 1 }
          packArray(buf, deltas)
          packArray(buf, Array.tabulate(n)(j => tfs(start + j).toLong))
          packArray(buf, Array.tabulate(n)(j => dls(start + j).toLong))
      }
      var maxTf = 0
      var minDl = Int.MaxValue
      var i = start
      while (i < end) {
        if (tfs(i) > maxTf) maxTf = tfs(i)
        if (dls(i) < minDl) minDl = dls(i)
        i += 1
      }
      blocks(b) = buf.result()
      skips(b) = Skip(docIds(start), docIds(end - 1), maxTf, if (n == 0) 0 else minDl)
      b += 1
    }
    EncodedPostings(blocks, skips, docIds.length.toLong)
  }

  /** Decodes one block (format-dispatched on the leading tag byte).
    * firstDoc comes from the matching skip entry. */
  def decodeBlock(bytes: Array[Byte], firstDoc: Long): (Array[Long], Array[Int], Array[Int]) = {
    val r = new Reader(bytes)
    val tag = bytes(r.pos); r.pos += 1
    tag match {
      case 0 => // VARINT
        val n = r.readVarLong().toInt
        val docs = new Array[Long](n)
        val tfs = new Array[Int](n)
        val dls = new Array[Int](n)
        if (n > 0) {
          docs(0) = firstDoc
          var i = 1
          while (i < n) { docs(i) = docs(i - 1) + r.readVarLong(); i += 1 }
          i = 0
          while (i < n) { tfs(i) = r.readVarLong().toInt; i += 1 }
          i = 0
          while (i < n) { dls(i) = r.readVarLong().toInt; i += 1 }
        }
        (docs, tfs, dls)
      case 1 => // PFOR
        val deltas = unpackArray(r, bytes)
        val tfsL = unpackArray(r, bytes)
        val dlsL = unpackArray(r, bytes)
        val n = tfsL.length
        val docs = new Array[Long](n)
        if (n > 0) {
          docs(0) = firstDoc
          var i = 1
          while (i < n) { docs(i) = docs(i - 1) + deltas(i - 1); i += 1 }
        }
        // narrowed in a loop: ArrayOps.map boxes every element
        val tfs = new Array[Int](n)
        val dls = new Array[Int](n)
        var i = 0
        while (i < n) { tfs(i) = tfsL(i).toInt; dls(i) = dlsL(i).toInt; i += 1 }
        (docs, tfs, dls)
      case other =>
        throw new IllegalStateException(s"unknown postings block format $other")
    }
  }

  /** Encode one block's per-posting position lists (the Lucene .pos
    * analogue, stored as a SEPARATE parquet column so scoring-only
    * queries never read it): positions delta-encoded within each
    * posting (first absolute), varint stream; per-posting counts are
    * NOT stored — tf IS the position count, so the decoder reads them
    * from the already-decoded tf array. */
  def encodePositions(positions: Array[Array[Int]]): Array[Byte] = {
    val buf = mutable.ArrayBuilder.make[Byte]
    // deltas are almost always 1-2 varint bytes: presizing skips the
    // builder's growth copies on the build hot path (r8)
    var hint = 0
    var h = 0
    while (h < positions.length) { hint += positions(h).length + 2; h += 1 }
    buf.sizeHint(hint)
    var i = 0
    while (i < positions.length) {
      val ps = positions(i)
      var j = 0
      var prev = 0
      while (j < ps.length) {
        require(j == 0 || ps(j) > prev,
          s"positions not strictly ascending: $prev -> ${ps(j)}")
        writeVarLong(buf, (ps(j) - (if (j == 0) 0 else prev)).toLong)
        prev = ps(j)
        j += 1
      }
      i += 1
    }
    buf.result()
  }

  /** Decode one block's positions; `tfs` = the block's decoded tf array
    * (position count per posting). */
  def decodePositions(bytes: Array[Byte], tfs: Array[Int]): Array[Array[Int]] = {
    val r = new Reader(bytes)
    val out = new Array[Array[Int]](tfs.length)
    var i = 0
    while (i < tfs.length) {
      val ps = new Array[Int](tfs(i))
      var j = 0
      var prev = 0
      while (j < ps.length) {
        prev = prev + r.readVarLong().toInt
        ps(j) = prev
        j += 1
      }
      out(i) = ps
      i += 1
    }
    require(!r.hasMore, "position stream longer than the block's tf total")
    out
  }

  /** decodeAll plus the per-posting position lists (merge/rebase path —
    * the query path decodes positions lazily per block instead). */
  def decodeAllWithPositions(p: EncodedPostings, posBlocks: Seq[Array[Byte]])
      : (Array[Long], Array[Int], Array[Int], Array[Array[Int]]) = {
    require(posBlocks.length == p.blocks.length,
      s"position stream count ${posBlocks.length} != block count ${p.blocks.length}")
    val docs = mutable.ArrayBuilder.make[Long]
    val tfs = mutable.ArrayBuilder.make[Int]
    val dls = mutable.ArrayBuilder.make[Int]
    val poss = mutable.ArrayBuffer.empty[Array[Int]]
    var b = 0
    while (b < p.blocks.length) {
      val (d, t, l) = decodeBlock(p.blocks(b), p.skips(b).firstDoc)
      docs ++= d; tfs ++= t; dls ++= l
      poss ++= decodePositions(posBlocks(b), t)
      b += 1
    }
    (docs.result(), tfs.result(), dls.result(), poss.toArray)
  }

  def decodeAll(p: EncodedPostings): (Array[Long], Array[Int], Array[Int]) = {
    val docs = mutable.ArrayBuilder.make[Long]
    val tfs = mutable.ArrayBuilder.make[Int]
    val dls = mutable.ArrayBuilder.make[Int]
    var b = 0
    while (b < p.blocks.length) {
      val (d, t, l) = decodeBlock(p.blocks(b), p.skips(b).firstDoc)
      docs ++= d; tfs ++= t; dls ++= l
      b += 1
    }
    (docs.result(), tfs.result(), dls.result())
  }
}
