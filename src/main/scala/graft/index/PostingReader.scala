package graft.index

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
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The held-open postings files of one snapshot: the one way the query
  * path reads a query's posting rows (ES: the query phase over segments
  * a node holds open). Footers and each row group's page index (the
  * `term` column's per-page min/max, the Lucene `.tip` analogue, plus
  * every column's offset index) are read once, at construction. A read
  * binary-searches each query term to the `term` pages that may hold it,
  * opens only the files with such a page (and, for a shard read, only
  * those that may hold the shard), and reads only those pages of every
  * projected column; records of other terms or shards on them are
  * dropped as they are assembled, before any byte is copied. It returns
  * exactly the rows the Spark scan of the same files yields. Postings
  * files are written with pages of [[IndexBuilder.PostingsPageRows]]
  * rows; a file written with one page per column chunk reads whole, as
  * before. The driver holds one per engine; a distributed task reads the
  * pages the driver selected for its shard ([[PostingReader.readPages]]).
  * Thread-safe: the held metadata is immutable and every read opens its
  * own streams. */
final class PostingReader private (conf: Configuration, inputs: Seq[HadoopInputFile]) {
  import PostingReader._

  /** Every postings data file under `dirs`. */
  def this(dirs: Seq[String], conf: Configuration) = this(conf,
    dirs.flatMap(PostingReader.dataFiles(_, conf)).map(HadoopInputFile.fromStatus(_, conf)))

  private val files: IndexedSeq[Held] = inputs.toIndexedSeq.map(open(_, options(conf)))

  private def holds(f: Held, shard: Int): Boolean =
    f.shardSpans.exists { case (lo, hi) => lo <= shard && shard <= hi }

  private def considered(shard: Option[Int]): IndexedSeq[Held] =
    files.filter(f => shard.forall(holds(f, _)))

  /** The paths of the held files that may hold rows of `shard`. */
  def filesOf(shard: Int): Seq[String] = considered(Some(shard)).map(_.in.getPath.toString)

  /** A file's row groups and `term` pages that may hold `keys` (UTF-8
    * terms): a group without a page index is read whole (None). */
  private def pick(f: Held, keys: Seq[Array[Byte]]): Seq[(Int, Option[Array[Int]])] =
    if (keys.isEmpty) Nil
    else f.index.indices.flatMap { g =>
      f.index(g) match {
        case None => Some(g -> None)
        case Some(ix) => Some(ix.pagesOf(keys)).filter(_.nonEmpty).map(ps => g -> Some(ps))
      }
    }

  private def utf8(terms: Seq[String]) = terms.distinct.map(_.getBytes(UTF_8))

  /** Per file of the read that has any, the row groups and `term` pages
    * that may hold `terms` (files that cannot hold `shard` are left out):
    * the page selection the driver ships to a shard task. */
  def select(terms: Seq[String], shard: Option[Int] = None): Seq[FilePages] = {
    val keys = utf8(terms)
    considered(shard).flatMap { f =>
      Some(pick(f, keys)).filter(_.nonEmpty).map(FilePages(f.in.getPath.toString, _))
    }
  }

  /** The posting rows of `terms` in every held file, or only those of
    * `shard`; `positions = false` projects `posBlocks` out of the read
    * (the rows then carry none, as the scoring projection's rows do). */
  def rows(terms: Seq[String], positions: Boolean,
           shard: Option[Int] = None): Seq[PostingRowPos] = read(terms, positions, shard).rows

  /** [[rows]] with what the read cost. */
  def read(terms: Seq[String], positions: Boolean, shard: Option[Int] = None): Read = {
    val wanted = terms.toSet
    val keys = utf8(terms)
    val out = ArrayBuffer.empty[PostingRowPos]
    var pagesRead, pagesSkipped, recordsRead, recordsSkipped = 0L
    considered(shard).foreach { f =>
      val schema = projection(f.footer.getFileMetaData.getSchema, positions)
      val cols = schema.getColumns.asScala.map(c => ColumnPath.get(c.getPath: _*))
      val picked = pick(f, keys).toMap
      val ranges = f.footer.getBlocks.asScala.indices.flatMap { g =>
        val rowCount = f.footer.getBlocks.get(g).getRowCount
        val rr = picked.get(g).map(rowRanges(rowCount, _, f.index(g).orNull))
        val n = rr.fold(0L)(_.rowCount)
        recordsRead += n
        recordsSkipped += rowCount - n
        f.index(g).foreach { ix =>
          cols.foreach { c =>
            val oi = ix.getOffsetIndex(c)
            var i = 0
            while (i < oi.getPageCount) {
              if (rr.exists(_.isOverlapping(oi.getFirstRowIndex(i),
                  oi.getLastRowIndex(i, rowCount)))) pagesRead += 1
              else pagesSkipped += 1
              i += 1
            }
          }
        }
        rr.map(g -> _)
      }
      if (ranges.nonEmpty) {
        val stream = f.in.newStream()
        val r = try new HeldReader(f, options(conf), stream)
          catch { case e: Throwable => stream.close(); throw e }
        try readGroups(r, ranges, schema, wanted, shard, out)
        finally r.close()
      }
    }
    Read(out.toSeq, pagesRead, pagesSkipped, recordsRead, recordsSkipped)
  }
}

object PostingReader {
  private val TermPath = ColumnPath.get("term")

  /** Read options for one file reader: they carry its decompressors
    * ([[PageCodecs]]), which are neither thread-safe nor usable after the
    * reader closes. Built from the held conf (the no-argument builder
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

  /** One file's part of a read: per selected row group, the ascending
    * ordinals of the `term` pages that may hold the read's terms, or None
    * to read the group whole (it was written without a page index). What
    * the driver ships to a distributed shard task. */
  final case class FilePages(path: String, groups: Seq[(Int, Option[Array[Int]])])

  /** One read's rows and what it cost, over the files the read considered
    * (every held file, or those that may hold the asked shard): data
    * pages of the projected columns read versus skipped, and records
    * assembled versus skipped. A file with no selected page is skipped
    * whole, unopened; pages of a row group without a page index are not
    * counted (its records are). */
  final case class Read(rows: Seq[PostingRowPos], pagesRead: Long, pagesSkipped: Long,
                        recordsRead: Long, recordsSkipped: Long)

  /** One row group's sparse terms index: the `term` pages' min/max as
    * UTF-8 bytes (parquet's unsigned byte order) and every column's
    * offset index, which the filtered page read takes from here instead
    * of re-reading it from the file. */
  private final class PageIndex(mins: Array[Array[Byte]], maxs: Array[Array[Byte]],
                                nullPages: Array[Boolean], ascending: Boolean,
                                offsets: Map[ColumnPath, OffsetIndex]) extends ColumnIndexStore {
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

  /** One held file: its footer, each row group's page index (None when
    * the group has no column or offset index: it is read whole), and each
    * row group's `shard` min/max (every shard when the group has no
    * stats). Builder-, merge- and rebase-written files hold one shard
    * each; files merged by older engines span several, and a shard read
    * of them reads their other shards' pages too. */
  private final class Held(val in: HadoopInputFile, val footer: ParquetMetadata,
                           val index: IndexedSeq[Option[PageIndex]],
                           val shardSpans: Seq[(Int, Int)])

  private def open(in: HadoopInputFile, options: ParquetReadOptions): Held = {
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
      new Held(in, footer, index, spans)
    } finally stream.close()
  }

  /** A file reader whose filtered page reads take the held offset
    * indexes. */
  private final class HeldReader(f: Held, options: ParquetReadOptions,
                                 stream: SeekableInputStream)
      extends ParquetFileReader(f.in, f.footer, options, stream) {
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

  /** Assembles the rows of `terms` (of `shard` only, when given) on the
    * selected rows of `groups` into `out`. */
  private def readGroups(r: ParquetFileReader, groups: Seq[(Int, RowRanges)],
                         schema: MessageType, wanted: Set[String], shard: Option[Int],
                         out: ArrayBuffer[PostingRowPos]): Unit = {
    r.setRequestedSchema(schema)
    val io = new ColumnIOFactory().getColumnIO(schema, r.getFooter.getFileMetaData.getSchema)
    groups.foreach { case (g, ranges) =>
      val pages: PageReadStore = r.readFilteredRowGroup(g, ranges)
      val rr = io.getRecordReader(pages, new RowMaterializer(schema, wanted, shard),
        FilterCompat.NOOP)
      var i = 0L
      while (i < pages.getRowCount) {
        val row = rr.read() // null: a term or shard outside the read
        if (row != null) out += row
        i += 1
      }
    }
  }

  /** A distributed task's read: the pages `selected` (as the driver's
    * [[PostingReader.select]] gave them) of its own files, rows of
    * `terms` in `shard` only. The task opens each file's footer; the
    * filtered page reads load the offset indexes they need. */
  def readPages(selected: Seq[FilePages], terms: Seq[String], positions: Boolean,
                shard: Option[Int], conf: Configuration): Seq[PostingRowPos] = {
    val wanted = terms.toSet
    val out = ArrayBuffer.empty[PostingRowPos]
    selected.foreach { sel =>
      val in = HadoopInputFile.fromPath(new Path(sel.path), conf)
      val stream = in.newStream()
      val r = try new ParquetFileReader(in, options(conf), stream)
        catch { case e: Throwable => stream.close(); throw e }
      try {
        val ranges = sel.groups.map { case (g, ps) =>
          g -> rowRanges(r.getRowGroups.get(g).getRowCount, ps, r.getColumnIndexStore(g))
        }
        readGroups(r, ranges, projection(r.getFooter.getFileMetaData.getSchema, positions),
          wanted, shard, out)
      } finally r.close()
    }
    out.toSeq
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
    * encoder decodes them. A row whose term is not `wanted`, or whose
    * shard is not `only`, is null, and its byte columns are never copied
    * (`shard` and `term` precede them in the record). */
  private final class RowMaterializer(schema: MessageType, wanted: Set[String],
                                      only: Option[Int])
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
          keep = wanted(term) && only.forall(_ == shard)
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
