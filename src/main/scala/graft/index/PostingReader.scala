package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter,
  PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{GroupType, MessageType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The held-open postings files of one snapshot: the one way the query
  * path reads a query's posting rows (ES: the query phase over segments
  * a node holds open). Footers are read once, at construction; each read
  * opens the files' streams, reads only the row groups, pages and records
  * whose `term` is in the query's set (and whose `shard` is the asked
  * one; parquet-mr's stats, dictionary and column-index filters take the
  * one predicate; records are filtered as they are assembled) and
  * returns exactly the rows the Spark scan of the same files yields. The
  * driver holds one per engine; a distributed task opens one over the
  * files the driver listed for its shard. Thread-safe: the footers are
  * immutable and every read has its own streams. */
final class PostingReader private (conf: Configuration, inputs: Seq[HadoopInputFile]) {
  /** Every postings data file under `dirs`. */
  def this(dirs: Seq[String], conf: Configuration) = this(conf,
    dirs.flatMap(PostingReader.dataFiles(_, conf)).map(HadoopInputFile.fromStatus(_, conf)))

  private val files: IndexedSeq[(HadoopInputFile, ParquetMetadata)] =
    inputs.toIndexedSeq.map(in => in -> PostingReader.footer(in, conf))

  /** Per file, each row group's `shard` min/max (every shard when the
    * group has no stats). Builder-, merge- and rebase-written files hold
    * one shard each; files merged by older engines span several, and a
    * shard read of them reads their other shards' pages too. */
  private val shardSpans: IndexedSeq[Seq[(Int, Int)]] = files.map { case (_, f) =>
    f.getBlocks.asScala.toSeq.map(_.getColumns.asScala
      .find(_.getPath.toDotString == "shard").map(_.getStatistics)
      .filter(st => st != null && st.hasNonNullValue)
      .fold((0, Int.MaxValue))(st => (st.genericGetMin.asInstanceOf[Integer].intValue,
        st.genericGetMax.asInstanceOf[Integer].intValue)))
  }

  private def holds(f: Int, shard: Int): Boolean =
    shardSpans(f).exists { case (lo, hi) => lo <= shard && shard <= hi }

  /** The paths of the held files that may hold rows of `shard`. */
  def filesOf(shard: Int): Seq[String] =
    files.indices.filter(holds(_, shard)).map(files(_)._1.getPath.toString)

  /** The posting rows of `terms` in every held file, or only those of
    * `shard`; `positions = false` projects `posBlocks` out of the read
    * (the rows then carry none, as the scoring projection's rows do). */
  def rows(terms: Seq[String], positions: Boolean,
           shard: Option[Int] = None): Seq[PostingRowPos] =
    if (terms.isEmpty) Nil
    else {
      val wanted = terms.toSet
      val termIn = FilterApi.in(FilterApi.binaryColumn("term"),
        wanted.map(Binary.fromString).asJava)
      val filter = FilterCompat.get(shard.fold(termIn: FilterPredicate)(s =>
        FilterApi.and(termIn, FilterApi.eq(FilterApi.intColumn("shard"), Integer.valueOf(s)))))
      // options built from the held conf: the no-argument builder loads
      // a fresh Configuration, ~10 ms per file
      val options = HadoopReadOptions.builder(conf).withRecordFilter(filter).build()
      files.indices.filter(f => shard.forall(holds(f, _))).flatMap { f =>
        val (in, footer) = files(f)
        val stream = in.newStream()
        val r = try new ParquetFileReader(in, footer, options, stream)
          catch { case e: Throwable => stream.close(); throw e }
        try {
          val fileSchema = footer.getFileMetaData.getSchema
          val schema =
            if (positions) fileSchema
            else new MessageType(fileSchema.getName,
              fileSchema.getFields.asScala.filter(_.getName != "posBlocks").asJava)
          r.setRequestedSchema(schema)
          val io = new ColumnIOFactory().getColumnIO(schema, fileSchema)
          val out = ArrayBuffer.empty[PostingRowPos]
          var pages = r.readNextFilteredRowGroup()
          while (pages != null) {
            val rr = io.getRecordReader(pages,
              new PostingReader.RowMaterializer(schema, wanted, shard), FilterCompat.NOOP)
            var i = 0L
            while (i < pages.getRowCount) {
              val row = rr.read() // null: a term or shard outside the read
              if (row != null) out += row
              i += 1
            }
            pages = r.readNextFilteredRowGroup()
          }
          out
        } finally r.close()
      }
    }
}

object PostingReader {
  /** A reader over the listed data files (paths as [[filesOf]] gives
    * them): a distributed task's view of its shard's files. */
  def ofFiles(paths: Seq[String], conf: Configuration): PostingReader =
    new PostingReader(conf, paths.map(p => HadoopInputFile.fromPath(new Path(p), conf)))

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
    try ParquetFileReader.readFooter(in, HadoopReadOptions.builder(conf).build(), s)
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
