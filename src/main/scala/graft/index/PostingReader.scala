package graft.index

import com.google.common.cache.{Cache, CacheBuilder, RemovalCause, RemovalNotification}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.bytes.{BytesInput, HeapByteBufferAllocator}
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.compression.CompressionCodecFactory
import org.apache.parquet.compression.CompressionCodecFactory.{BytesInputCompressor,
  BytesInputDecompressor}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.{CodecFactory, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{ColumnPath, CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.column.columnindex.{BoundaryOrder, ColumnIndex,
  OffsetIndex}
import org.apache.parquet.internal.filter2.columnindex.{ColumnIndexStore, RowRanges}
import org.apache.parquet.io.{ColumnIOFactory, SeekableInputStream}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter,
  PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{GroupType, MessageType}
import org.xerial.snappy.{Snappy, SnappyError}
import java.io.IOException
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The query path's one postings read (ES: the query phase over the
  * segments a node holds open, their hot postings in the OS page cache).
  * A reader is one snapshot's list of postings files, each named by its
  * [[PostingReader.FileRef]] (path, length, modification time); what reads
  * learn is held in one store per JVM ([[PostingReader.Store]]), under one
  * byte budget:
  *  - each file's footer and row groups' page indexes (the `term` column's
  *    per-page min/max, the Lucene `.tip` analogue, plus every column's
  *    offset index), read by the file's first read;
  *  - the rows of each (file, term), kept as first read.
  *
  * A read answers resident terms from memory. For the rest it
  * binary-searches each term to the `term` pages that may hold it, opens
  * only the files with such a page (and, for a shard read, only those that
  * may hold the shard), and reads only those pages of every projected
  * column, in one pass per file; records of other terms on them are
  * dropped as they are assembled, before any byte is copied. It returns
  * exactly the rows the Spark scan of the same files yields. Postings files
  * are written with pages of [[IndexBuilder.PostingsPageRows]] rows; a file
  * written with one page per column chunk reads whole, as before.
  *
  * The driver holds one reader per engine; a distributed task is shipped
  * its shard's file refs and reads through the same store, so in local mode
  * the driver and the tasks share one copy, and on a cluster each executor
  * holds the files its tasks touch. Thread-safe: held entries are immutable
  * and every page read opens its own streams. */
final class PostingReader private[graft] (conf: Configuration,
                                          private[graft] val files: Seq[PostingReader.FileRef]) {
  import PostingReader._

  /** Every postings data file under `dirs`. */
  def this(dirs: Seq[String], conf: Configuration) =
    this(conf, dirs.flatMap(PostingReader.dataFiles(_, conf)).map(st =>
      PostingReader.FileRef(st.getPath.toString, st.getLen, st.getModificationTime)))

  /** The held files that may hold rows of `shard`: what a shard task is
    * shipped. */
  def filesOf(shard: Int): Seq[FileRef] = files.filter(store.holds(_, shard, conf))

  /** The posting rows of `terms` in every file, or only those of `shard`;
    * `positions = false` projects `posBlocks` out of the read (the rows
    * then carry none, as the scoring projection's rows do). */
  def rows(terms: Seq[String], positions: Boolean,
           shard: Option[Int] = None): Seq[PostingRowPos] = read(terms, positions, shard).rows

  /** [[rows]] with what the read cost. */
  def read(terms: Seq[String], positions: Boolean, shard: Option[Int] = None): Read =
    store.read(files, terms, positions, shard, conf)
}

object PostingReader {
  private val TermPath = ColumnPath.get("term")

  /** Read options for one file reader: they carry its decompressors
    * ([[PageCodecs]]), which are neither thread-safe nor usable after the
    * reader closes. Built from the read's conf (the no-argument builder
    * loads a fresh Configuration, ~10 ms per file), with Hadoop vectored
    * reads off: on the local file system they hand each page range to an
    * asynchronous channel and park the reader until it lands (median read
    * of the 35 reference term sets 9.4 -> 5.6 ms, 4.5k-doc index). */
  private def options(conf: Configuration): ParquetReadOptions =
    HadoopReadOptions.builder(conf).withUseHadoopVectoredIo(false)
      .withCodecFactory(new PageCodecs(conf)).build()

  /** The reader's page decompression. SNAPPY pages (every postings file
    * the engine writes: [[IndexBuilder.writePostings]] pins the codec)
    * take one `Snappy.uncompress` from the page's heap bytes into an array
    * of the header's uncompressed size; UNCOMPRESSED pages pass through;
    * any other codec goes to parquet's CodecFactory. Parquet's own SNAPPY
    * path opens a Hadoop codec stream per page, with a zeroed buffer of the
    * `io.file.buffer.size` (64 KB in a Spark session) of whichever conf
    * first reached the JVM-wide codec cache (`CodecFactory.CODEC_BY_NAME`,
    * keyed by codec name alone, so the conf handed to the factory is
    * ignored once any Spark parquet scan has run), plus direct-buffer
    * copies: in a JFR profile of the search benchmark (seed 11) those
    * streams were 42% of all bytes allocated, builds included. */
  private[graft] final class PageCodecs(conf: Configuration) extends CompressionCodecFactory {
    private var parquet: Option[CodecFactory] = None
    private def fallback: CodecFactory = parquet.getOrElse {
      val f = new CodecFactory(conf, 0)
      parquet = Some(f)
      f
    }
    def getDecompressor(codec: CompressionCodecName): BytesInputDecompressor = codec match {
      case CompressionCodecName.SNAPPY => SnappyPages
      case CompressionCodecName.UNCOMPRESSED => PlainPages
      case other => fallback.getDecompressor(other)
    }
    def getCompressor(codec: CompressionCodecName): BytesInputCompressor =
      fallback.getCompressor(codec)
    def release(): Unit = parquet.foreach(_.release())
  }

  /** A page's bytes as (array, offset, length): the page's own heap
    * array when it has one, else a copy. */
  private def heapBytes(bytes: BytesInput): (Array[Byte], Int, Int) = {
    val bb = bytes.toByteBuffer(HeapByteBufferAllocator.getInstance, _ => ())
    if (bb.hasArray) (bb.array, bb.arrayOffset + bb.position(), bb.remaining)
    else {
      val a = new Array[Byte](bb.remaining)
      bb.duplicate().get(a)
      (a, 0, a.length)
    }
  }

  private def pageError(codec: String, compressed: Int, expected: Int, got: String,
                        cause: Throwable = null) =
    new IOException(s"$codec page of $compressed compressed bytes: its header says " +
      s"$expected uncompressed bytes, $got", cause)

  /** Stateless, so one instance serves every reader. */
  private object SnappyPages extends BytesInputDecompressor {
    def decompress(bytes: BytesInput, uncompressedSize: Int): BytesInput = {
      val (in, off, len) = heapBytes(bytes)
      BytesInput.from(uncompress(in, off, len, uncompressedSize))
    }
    def decompress(input: ByteBuffer, compressedSize: Int, output: ByteBuffer,
                   uncompressedSize: Int): Unit = {
      val in = input.duplicate()
      in.limit(in.position() + compressedSize)
      output.put(decompress(BytesInput.from(in), uncompressedSize)
        .toByteBuffer(HeapByteBufferAllocator.getInstance, _ => ()))
    }
    def release(): Unit = ()

    /** `len` snappy bytes at `off` as exactly `size` bytes; an
      * IOException naming both sizes when the page says another length or
      * snappy rejects it. */
    def uncompress(in: Array[Byte], off: Int, len: Int, size: Int): Array[Byte] = {
      def rejected(e: Throwable) = pageError("SNAPPY", len, size, s"snappy rejects it: $e", e)
      val said = try Snappy.uncompressedLength(in, off, len)
        catch { case e @ (_: IOException | _: SnappyError) => throw rejected(e) }
      if (said != size) throw pageError("SNAPPY", len, size, s"the page holds $said")
      val out = new Array[Byte](size)
      val n = try Snappy.uncompress(in, off, len, out, 0)
        catch { case e @ (_: IOException | _: SnappyError) => throw rejected(e) }
      if (n != size) throw pageError("SNAPPY", len, size, s"snappy wrote $n")
      out
    }
  }

  private object PlainPages extends BytesInputDecompressor {
    def decompress(bytes: BytesInput, uncompressedSize: Int): BytesInput = {
      if (bytes.size != uncompressedSize) throw pageError("UNCOMPRESSED",
        bytes.size.toInt, uncompressedSize, s"the page holds ${bytes.size}")
      bytes
    }
    def decompress(input: ByteBuffer, compressedSize: Int, output: ByteBuffer,
                   uncompressedSize: Int): Unit = {
      if (compressedSize != uncompressedSize) throw pageError("UNCOMPRESSED",
        compressedSize, uncompressedSize, s"the page holds $compressedSize")
      val in = input.duplicate()
      in.limit(in.position() + compressedSize)
      output.put(in)
    }
    def release(): Unit = ()
  }

  /** A postings file's identity. A file rewritten at the same path has
    * another length or modification time, so it is another file to the
    * store: no entry held for its old contents is served for it. */
  final case class FileRef(path: String, length: Long, modified: Long)

  /** One read's rows and what it cost. `termsRead` counts the distinct
    * terms some file read pages for; `termsResident` the other distinct
    * terms the store answered from memory (a term that no file may hold
    * counts in neither), so a repeated read counts every term resident.
    * The page and record counters count page reads only, over each file
    * the read looked up in its page index (a term not resident there):
    * data pages of the projected columns read versus skipped, and records
    * assembled versus skipped. A file with no selected page is skipped
    * whole, unopened; pages of a row group without a page index are not
    * counted (its records are). */
  final case class Read(rows: Seq[PostingRowPos], termsResident: Int, termsRead: Int,
                        pagesRead: Long, pagesSkipped: Long,
                        recordsRead: Long, recordsSkipped: Long)

  /** One row group's sparse terms index: the `term` pages' min/max as
    * UTF-8 bytes (parquet's unsigned byte order) and every column's
    * offset index, which the filtered page read takes from here instead
    * of re-reading it from the file. */
  private final class PageIndex(mins: Array[Array[Byte]], maxs: Array[Array[Byte]],
                                nullPages: Array[Boolean], ascending: Boolean,
                                offsets: Map[ColumnPath, OffsetIndex]) extends ColumnIndexStore {
    /** What the index holds, as a held file's weight counts it: the
      * min/max bytes and ~32 bytes per offset-index page. */
    val bytes: Long = (mins.iterator ++ maxs.iterator).map(16L + _.length).sum +
      32L * offsets.valuesIterator.map(_.getPageCount.toLong).sum

    def getColumnIndex(p: ColumnPath): ColumnIndex = null
    def getOffsetIndex(p: ColumnPath): OffsetIndex =
      offsets.getOrElse(p, throw new ColumnIndexStore.MissingOffsetIndexException(p))

    private def cmp(a: Array[Byte], b: Array[Byte]) = java.util.Arrays.compareUnsigned(a, b)

    /** The ascending ordinals of the pages whose [min, max] holds any
      * key: on ascending pages a binary search to the first page whose
      * max reaches the key, then forward while the min does not pass it;
      * otherwise every page is tested. */
    def pagesOf(keys: Seq[Array[Byte]]): Array[Int] = {
      val n = mins.length
      val hit = new java.util.BitSet(n)
      keys.foreach { k =>
        if (ascending) {
          var lo = 0
          var hi = n
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (cmp(maxs(mid), k) < 0) lo = mid + 1 else hi = mid
          }
          while (lo < n && cmp(mins(lo), k) <= 0) { hit.set(lo); lo += 1 }
        } else {
          var i = 0
          while (i < n) {
            if (!nullPages(i) && cmp(mins(i), k) <= 0 && cmp(k, maxs(i)) <= 0) hit.set(i)
            i += 1
          }
        }
      }
      hit.stream().toArray
    }
  }

  /** The store every reader of the JVM reads through: its budget is a
    * sixteenth of the max heap. */
  private[graft] lazy val store = new Store(Runtime.getRuntime.maxMemory / 16)

  /** What a kept row weighs beyond its `blocks`, `posBlocks` and `skips`
    * bytes (its object, term and list headers); what a kept (file, term)
    * entry weighs beyond its rows (its key); and the parts of a held file's
    * weight beyond its page indexes, per file and per column chunk (its
    * footer). Estimates, so that the budget bounds what the heap holds. */
  private val RowOverhead = 256
  private val EntryOverhead = 64
  private val FileOverhead = 4096
  private val ChunkOverhead = 1024

  private def weightOf(bytes: Long): Int = bytes.min(Int.MaxValue).toInt

  /** A store entry and the bytes it is held at. */
  private sealed trait Entry { def weight: Int }

  /** One (file, term)'s rows, as the file's first read of the term
    * assembled them (none when the file does not hold the term). */
  private final class Rows(val rows: Seq[PostingRowPos]) extends Entry {
    val weight: Int = weightOf(EntryOverhead + rows.iterator.map { r =>
      RowOverhead + r.blocks.iterator.map(_.length.toLong).sum + 24L * r.skips.size +
        Option(r.posBlocks).fold(0L)(_.iterator.map(_.length.toLong).sum)
    }.sum)
  }

  private final case class RowKey(file: FileRef, term: String, positions: Boolean)

  /** The held files and the rows of each (file, term), in one LRU order
    * within `budget` bytes, each entry at its weight. A file's entry is its
    * footer and page indexes. A (file, term) entry is kept per projection:
    * a positional entry also serves the scoring projection (its rows copied
    * without `posBlocks`), a scoring one never serves a positional read. An
    * entry heavier than the whole budget is used but not kept. Evictions
    * log one DEBUG line. Thread-safe: two concurrent misses of one entry may
    * both read it, and keep the same value. */
  private[graft] final class Store(budget: Long) {
    private val log = org.slf4j.LoggerFactory.getLogger(classOf[PostingReader])
    private val holding = new AtomicLong
    private val evicted = new AtomicLong
    // one segment: one LRU order over every entry
    private val cache: Cache[AnyRef, Entry] = CacheBuilder.newBuilder()
      .concurrencyLevel(1).maximumWeight(budget)
      .weigher[AnyRef, Entry]((_: AnyRef, e: Entry) => e.weight)
      .removalListener[AnyRef, Entry] { (n: RemovalNotification[AnyRef, Entry]) =>
        holding.addAndGet(-n.getValue.weight)
        if (n.getCause == RemovalCause.SIZE) evicted.addAndGet(n.getValue.weight)
      }.build[AnyRef, Entry]()

    /** The bytes the store holds, at its entries' weights. */
    private[graft] def bytesHeld: Long = holding.get

    /** Forgets every entry, or every (file, term) entry unless `files`:
      * the next reads are cold. */
    private[graft] def clear(files: Boolean = true): Unit =
      if (files) cache.invalidateAll()
      else cache.asMap.keySet.removeIf(_.isInstanceOf[RowKey])

    /** Keeps `e` under `key` unless it outweighs the budget. */
    private def keep(key: AnyRef, e: Entry): Boolean = e.weight <= budget && {
      holding.addAndGet(e.weight)
      cache.put(key, e)
      val freed = evicted.getAndSet(0)
      if (freed > 0) log.debug(s"postings store evicted $freed bytes, holds " +
        s"${holding.get} of its $budget-byte budget")
      true
    }

    /** May `f` hold rows of `shard`? */
    def holds(f: FileRef, shard: Int, conf: Configuration): Boolean = held(f, conf).holds(shard)

    /** `f`'s footer and page indexes, held or read now. */
    private def held(f: FileRef, conf: Configuration): Held = cache.getIfPresent(f) match {
      case h: Held => h
      case _ =>
        val h = open(f, conf)
        keep(f, h)
        h
    }

    private def resident(f: FileRef, term: String,
                         positions: Boolean): Option[Seq[PostingRowPos]] =
      cache.getIfPresent(RowKey(f, term, positions)) match {
        case r: Rows => Some(r.rows)
        case _ if !positions => cache.getIfPresent(RowKey(f, term, true)) match {
          case r: Rows => Some(r.rows.map(_.copy(posBlocks = Nil)))
          case _ => None
        }
        case _ => None
      }

    /** The rows of `terms` in `files` (of `shard` only, when given): each
      * file's resident terms from memory, the rest from its pages, read in
      * one pass and kept. */
    def read(files: Seq[FileRef], terms: Seq[String], positions: Boolean,
             shard: Option[Int], conf: Configuration): Read = {
      val want = terms.distinct
      val out = ArrayBuffer.empty[PostingRowPos]
      val served, fromPages = mutable.HashSet.empty[String]
      val cost = new Cost
      def add(rs: Seq[PostingRowPos]): Unit =
        rs.foreach(r => if (shard.forall(_ == r.shard)) out += r)
      if (want.nonEmpty) files.foreach { ref =>
        val f = held(ref, conf)
        if (shard.forall(f.holds)) {
          val missing = want.filter { t =>
            val rs = resident(ref, t, positions)
            rs.foreach { r => add(r); served += t }
            rs.isEmpty
          }
          if (missing.nonEmpty) readTerms(ref, f, missing, positions, conf, cost).foreach {
            byTerm => missing.foreach { t =>
              val rs = byTerm.getOrElse(t, Nil)
              add(rs)
              fromPages += t
              // the positional entry now serves the scoring projection too
              if (keep(RowKey(ref, t, positions), new Rows(rs)) && positions)
                cache.invalidate(RowKey(ref, t, false))
            }
          }
        }
      }
      Read(out.toSeq, (served --= fromPages).size, fromPages.size,
        cost.pagesRead, cost.pagesSkipped, cost.recordsRead, cost.recordsSkipped)
    }
  }

  private final class Cost {
    var pagesRead, pagesSkipped, recordsRead, recordsSkipped = 0L
  }

  /** The rows of `terms` on their pages of `f`, by term (every shard's), or
    * None when no page of the file may hold any of them. */
  private def readTerms(ref: FileRef, f: Held, terms: Seq[String], positions: Boolean,
                        conf: Configuration, cost: Cost): Option[Map[String, Seq[PostingRowPos]]] = {
    val schema = projection(f.footer.getFileMetaData.getSchema, positions)
    val cols = schema.getColumns.asScala.map(c => ColumnPath.get(c.getPath: _*))
    val picked = f.pick(terms.map(_.getBytes(UTF_8))).toMap
    val ranges = f.footer.getBlocks.asScala.indices.flatMap { g =>
      val rowCount = f.footer.getBlocks.get(g).getRowCount
      val rr = picked.get(g).map(rowRanges(rowCount, _, f.index(g).orNull))
      val n = rr.fold(0L)(_.rowCount)
      cost.recordsRead += n
      cost.recordsSkipped += rowCount - n
      f.index(g).foreach { ix =>
        cols.foreach { c =>
          val oi = ix.getOffsetIndex(c)
          var i = 0
          while (i < oi.getPageCount) {
            if (rr.exists(_.isOverlapping(oi.getFirstRowIndex(i),
                oi.getLastRowIndex(i, rowCount)))) cost.pagesRead += 1
            else cost.pagesSkipped += 1
            i += 1
          }
        }
      }
      rr.map(g -> _)
    }
    if (ranges.isEmpty) None
    else {
      val in = inputFile(ref, conf)
      val stream = in.newStream()
      val r = try new HeldReader(in, f, options(conf), stream)
        catch { case e: Throwable => stream.close(); throw e }
      val rows = ArrayBuffer.empty[PostingRowPos]
      try readGroups(r, ranges, schema, terms.toSet, rows)
      finally r.close()
      Some(rows.toSeq.groupBy(_.term))
    }
  }

  /** One held file: its footer, each row group's page index (None when
    * the group has no column or offset index: it is read whole), and each
    * row group's `shard` min/max (every shard when the group has no
    * stats). Builder-, merge- and rebase-written files hold one shard
    * each; files merged by older engines span several, and a shard read
    * of them reads their other shards' pages too. */
  private final class Held(val footer: ParquetMetadata, val index: IndexedSeq[Option[PageIndex]],
                           shardSpans: Seq[(Int, Int)]) extends Entry {
    val weight: Int = weightOf(FileOverhead +
      ChunkOverhead.toLong * footer.getBlocks.asScala.map(_.getColumns.size).sum +
      index.flatten.map(_.bytes).sum)

    def holds(shard: Int): Boolean =
      shardSpans.exists { case (lo, hi) => lo <= shard && shard <= hi }

    /** The row groups and `term` pages that may hold `keys` (UTF-8 terms):
      * a group without a page index is read whole (None). */
    def pick(keys: Seq[Array[Byte]]): Seq[(Int, Option[Array[Int]])] =
      index.indices.flatMap { g =>
        index(g) match {
          case None => Some(g -> None)
          case Some(ix) => Some(ix.pagesOf(keys)).filter(_.nonEmpty).map(ps => g -> Some(ps))
        }
      }
  }

  /** `f` to read, after checking it is still the file `f` names. */
  private def inputFile(f: FileRef, conf: Configuration): HadoopInputFile = {
    val p = new Path(f.path)
    val st = p.getFileSystem(conf).getFileStatus(p)
    if (st.getLen != f.length || st.getModificationTime != f.modified)
      throw new IOException(s"postings file ${f.path} changed since it was listed: length " +
        s"${f.length} -> ${st.getLen}, modified ${f.modified} -> ${st.getModificationTime}")
    HadoopInputFile.fromStatus(st, conf)
  }

  private def open(ref: FileRef, conf: Configuration): Held = {
    val in = inputFile(ref, conf)
    val options = PostingReader.options(conf)
    val stream = in.newStream()
    try {
      val footer = ParquetFileReader.readFooter(in, options, stream)
      val r = new ParquetFileReader(in, footer, options, stream)
      val blocks = footer.getBlocks.asScala.toIndexedSeq
      val index = blocks.map { b =>
        val chunks = b.getColumns.asScala
        val term = chunks.find(_.getPath == TermPath).map(r.readColumnIndex).orNull
        val offsets = chunks.map(c => c.getPath -> r.readOffsetIndex(c))
        if (term == null || offsets.exists(_._2 == null)) None
        else {
          val nulls = term.getNullPages.asScala.map(_.booleanValue).toArray
          def bytes(bs: java.util.List[java.nio.ByteBuffer]) = bs.asScala.map { bb =>
            val a = new Array[Byte](bb.remaining); bb.duplicate().get(a); a
          }.toArray
          Some(new PageIndex(bytes(term.getMinValues), bytes(term.getMaxValues), nulls,
            term.getBoundaryOrder == BoundaryOrder.ASCENDING && !nulls.contains(true),
            offsets.toMap))
        }
      }
      val spans = blocks.map(_.getColumns.asScala
        .find(_.getPath.toDotString == "shard").map(_.getStatistics)
        .filter(st => st != null && st.hasNonNullValue)
        .fold((0, Int.MaxValue))(st => (st.genericGetMin.asInstanceOf[Integer].intValue,
          st.genericGetMax.asInstanceOf[Integer].intValue)))
      new Held(footer, index, spans)
    } finally stream.close()
  }

  /** A file reader whose filtered page reads take the held offset
    * indexes. */
  private final class HeldReader(in: HadoopInputFile, f: Held, options: ParquetReadOptions,
                                 stream: SeekableInputStream)
      extends ParquetFileReader(in, f.footer, options, stream) {
    override def getColumnIndexStore(g: Int): ColumnIndexStore =
      f.index(g).getOrElse(super.getColumnIndexStore(g))
  }

  /** A group's rows to read: the selected `term` pages' rows (their
    * offsets from `store`), or all. */
  private def rowRanges(rowCount: Long, pages: Option[Array[Int]],
                        store: => ColumnIndexStore): RowRanges = pages match {
    case None => RowRanges.createSingle(rowCount)
    case Some(ps) => RowRanges.create(rowCount, java.util.Arrays.stream(ps).iterator(),
      store.getOffsetIndex(TermPath))
  }

  /** The file schema, without `posBlocks` unless `positions`. */
  private def projection(fileSchema: MessageType, positions: Boolean): MessageType =
    if (positions) fileSchema
    else new MessageType(fileSchema.getName,
      fileSchema.getFields.asScala.filter(_.getName != "posBlocks").asJava)

  /** Assembles the rows of `terms` on the selected rows of `groups` into
    * `out`. */
  private def readGroups(r: ParquetFileReader, groups: Seq[(Int, RowRanges)],
                         schema: MessageType, wanted: Set[String],
                         out: ArrayBuffer[PostingRowPos]): Unit = {
    r.setRequestedSchema(schema)
    val io = new ColumnIOFactory().getColumnIO(schema, r.getFooter.getFileMetaData.getSchema)
    groups.foreach { case (g, ranges) =>
      val pages: PageReadStore = r.readFilteredRowGroup(g, ranges)
      val rr = io.getRecordReader(pages, new RowMaterializer(schema, wanted), FilterCompat.NOOP)
      var i = 0L
      while (i < pages.getRowCount) {
        val row = rr.read() // null: a term outside the read
        if (row != null) out += row
        i += 1
      }
    }
  }

  /** The data files of one parquet directory as Spark's scan lists them:
    * names starting with `_` or `.` (`_SUCCESS`, checksum files) are not
    * data. */
  def dataFiles(dir: String, conf: Configuration): Seq[FileStatus] = {
    val p = new Path(dir)
    p.getFileSystem(conf).listStatus(p).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** One data file's footer (schema, row groups, column statistics). */
  def footer(in: HadoopInputFile, conf: Configuration): ParquetMetadata = {
    val s = in.newStream()
    try ParquetFileReader.readFooter(in, options(conf), s)
    finally s.close()
  }

  /** Does every data file under `dir` carry a top-level column `col`?
    * False when the directory is missing or holds no data file. */
  def everyFileHas(dir: String, col: String, conf: Configuration): Boolean = {
    val fs = try dataFiles(dir, conf)
      catch { case _: java.io.FileNotFoundException => Nil }
    fs.nonEmpty && fs.forall(st => footer(HadoopInputFile.fromStatus(st, conf), conf)
      .getFileMetaData.getSchema.containsField(col))
  }

  private def ints(f: Int => Unit) = new PrimitiveConverter {
    override def addInt(v: Int): Unit = f(v)
  }
  private def longs(f: Long => Unit) = new PrimitiveConverter {
    override def addLong(v: Long): Unit = f(v)
  }
  private def binaries(f: Binary => Unit) = new PrimitiveConverter {
    override def addBinary(v: Binary): Unit = f(v)
  }

  /** A three-level parquet LIST: the optional list group (`begin` runs
    * when the list is present), its repeated group, then the element. */
  private def list(begin: => Unit, element: Converter): GroupConverter =
    new GroupConverter {
      private val repeated = new GroupConverter {
        def getConverter(i: Int): Converter = element
        def start(): Unit = ()
        def end(): Unit = ()
      }
      def getConverter(i: Int): Converter = repeated
      def start(): Unit = begin
      def end(): Unit = ()
    }

  /** Assembles one stored posting row from its parquet record, by column
    * name; a null list stays null and an empty one empty, as the Spark
    * encoder decodes them. A row whose term is not `wanted` is null, and
    * its byte columns are never copied (`term` precedes them in the
    * record). */
  private final class RowMaterializer(schema: MessageType, wanted: Set[String])
      extends RecordMaterializer[PostingRowPos] {
    private var shard = 0
    private var term: String = _
    private var keep = false
    private var df, bytes = 0L
    private var blocks, posBlocks: ArrayBuffer[Array[Byte]] = _
    private var skips: ArrayBuffer[Skip] = _
    private val hasPos = schema.containsField("posBlocks")

    private def skipElement(t: GroupType): GroupConverter = new GroupConverter {
      private var firstDoc, lastDoc = 0L
      private var maxTf, minDl = 0
      private val cs: Array[Converter] = t.getFields.asScala.map(_.getName match {
        case "firstDoc" => longs(firstDoc = _)
        case "lastDoc" => longs(lastDoc = _)
        case "maxTf" => ints(maxTf = _)
        case "minDl" => ints(minDl = _)
      }).toArray
      def getConverter(i: Int): Converter = cs(i)
      def start(): Unit = ()
      def end(): Unit = if (keep) skips += Skip(firstDoc, lastDoc, maxTf, minDl)
    }

    private val root = new GroupConverter {
      private val cs: Array[Converter] = schema.getFields.asScala.map(f => f.getName match {
        case "shard" => ints(shard = _)
        case "term" => binaries { v =>
          term = v.toStringUsingUTF8
          keep = wanted(term)
        }
        case "df" => longs(df = _)
        case "bytes" => longs(bytes = _)
        case "blocks" => list({ blocks = ArrayBuffer.empty },
          binaries(v => if (keep) blocks += v.getBytes))
        case "skips" => list({ skips = ArrayBuffer.empty }, skipElement(
          f.asGroupType.getType(0).asGroupType.getType(0).asGroupType))
        case "posBlocks" =>
          list({ posBlocks = ArrayBuffer.empty },
            binaries(v => if (keep) posBlocks += v.getBytes))
        case other => throw new IllegalStateException(
          s"unexpected postings column '$other'")
      }).toArray
      def getConverter(i: Int): Converter = cs(i)
      def start(): Unit = { keep = false; blocks = null; skips = null; posBlocks = null }
      def end(): Unit = ()
    }

    def getRootConverter: GroupConverter = root

    def getCurrentRecord: PostingRowPos =
      if (!keep) null
      else PostingRowPos(shard, term, df, bytes,
        Option(blocks).map(_.toSeq).orNull, Option(skips).map(_.toSeq).orNull,
        if (hasPos) Option(posBlocks).map(_.toSeq).orNull else Nil)
  }
}
