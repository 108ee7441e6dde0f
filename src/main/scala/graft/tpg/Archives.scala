package graft.tpg

import java.io.{File, FileOutputStream}
import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.{CodingErrorAction, StandardCharsets}
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Driver-side archive + charset utilities and the one raw-CSV reader shared
  * by the ingest modules (reference `src/01_ingest_gtfs.py`,
  * `src/02_ingest_istdaten.py:113-207` and `src/03_ingest_weather.py`).
  *
  * Archives are enumerated/extracted on the driver with commons-compress
  * (Deflate64-capable, where `java.util.zip` is not — the opentransportdata
  * ZIPs use it); members then become plain distributed CSV scans. Feeds are
  * MBs, so driver-side extraction is not a scale concern — the data volume
  * lives in the extracted scans, which are fully distributed.
  */
object Archives {

  /** Extraction dirs of this JVM. The extracted files back lazy
    * DataFrames, so they live until the JVM exits; one shutdown hook then
    * deletes them all. */
  private val extractDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[File]()
  Runtime.getRuntime.addShutdownHook(
    new Thread(() => extractDirs.forEach(d => FileUtils.deleteQuietly(d))))

  /** Extract the file members that `select` picks from the archive's
    * member names (archive order, directories left out) to a temp dir
    * (deleted at JVM exit), reading the entry list once; returns member
    * name → local path in archive order.
    */
  def extractMembers(zipPath: String,
      select: Seq[String] => Seq[String]): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.commons.compress.archivers.zip.ZipFile
    val tmp = Files.createTempDirectory("graft_zip_").toFile
    extractDirs.add(tmp)
    val zf = ZipFile.builder().setFile(new File(zipPath)).get()
    try {
      val files = zf.getEntries.asScala.filterNot(_.isDirectory).toSeq
      val wanted = select(files.map(_.getName)).toSet
      files.filter(e => wanted(e.getName)).map { e =>
        // Preserve the member's directory structure under the temp dir:
        // flattening to basenames would let `a/istdaten.csv` and
        // `b/istdaten.csv` silently overwrite each other. Canonical-path
        // check rejects `../` traversal (zip-slip).
        val dst = new File(tmp, e.getName)
        if (!dst.getCanonicalPath.startsWith(tmp.getCanonicalPath + File.separator))
          sys.error(s"archive member escapes extraction dir: ${e.getName}")
        dst.getParentFile.mkdirs()
        val os = new FileOutputStream(dst)
        try zf.getInputStream(e).transferTo(os) finally os.close()
        e.getName -> dst.getAbsolutePath
      }
    } finally zf.close()
  }

  /** What the driver reads of one CSV file before Spark does: its charset
    * and the header Spark would take from it, from its first `probeBytes`
    * bytes, in one open.
    *
    * Charset: UTF-8 when those bytes decode as strict UTF-8, else ISO-8859-1
    * — the reference's per-file retry (`02:184-207`), decided up front
    * because Spark's reader substitutes U+FFFD instead of throwing. A
    * multi-byte sequence cut at the probe boundary does not count as
    * invalid. The bounded probe keeps the driver-side cost per file
    * constant; Latin-1 transit data (station names with umlauts/accents)
    * shows up within the first MBs in practice.
    *
    * Header: the first line that `CSVUtils.filterCommentAndEmpty` keeps,
    * after any UTF-8 byte-order mark, with lines ending at `\n`, `\r` or
    * `\r\n` as Hadoop's line reader splits them; parsed with the reader's own
    * `CSVOptions(options).asParserSettings` and named by
    * `CSVUtils.makeSafeHeader` (an empty or `nullValue` name becomes
    * `_c<i>`, a duplicate `<name><i>`), so it equals what
    * `spark.read.options(options).option("header", "true").csv(path)` infers.
    * One exception: Spark's inference trims only spaces when it skips blank
    * lines, so it would name the columns after a leading line of tabs; the
    * probe skips that line, as the per-file read that drops the header does.
    * None when the file has no non-blank line; a header that does not end
    * within the probe fails.
    */
  def probe(path: String, options: Map[String, String], caseSensitive: Boolean,
      probeBytes: Int = 4 << 20, conf: Configuration = new Configuration())
      : (String, Option[Seq[String]]) = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    val (bytes, eof) = try { val b = in.readNBytes(probeBytes); (b, in.read() < 0) }
      finally in.close()
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    val bb = ByteBuffer.wrap(bytes)
    val cb = CharBuffer.allocate(64 * 1024)
    var res = dec.decode(bb, cb, false)
    while (res.isOverflow) { cb.clear(); res = dec.decode(bb, cb, false) }
    val charset = if (res.isError) StandardCharsets.ISO_8859_1 else StandardCharsets.UTF_8

    val bom = bytes.length >= 3 && bytes(0) == 0xEF.toByte && bytes(1) == 0xBB.toByte &&
      bytes(2) == 0xBF.toByte
    val lines = Iterator.unfold(if (bom) 3 else 0) { i =>
      var j = i
      while (j < bytes.length && bytes(j) != '\n' && bytes(j) != '\r') j += 1
      if (i >= bytes.length || (j == bytes.length && !eof)) None
      else Some(new String(bytes, i, j - i, charset) ->
        (if (j + 1 < bytes.length && bytes(j) == '\r' && bytes(j + 1) == '\n') j + 2 else j + 1))
    }
    val csv = new CSVOptions(options + ("header" -> "true"), false, "UTC")
    val header = CSVUtils.filterCommentAndEmpty(lines, csv).nextOption().map { line =>
      CSVUtils.makeSafeHeader(new CsvParser(csv.asParserSettings).parseLine(line),
        caseSensitive, csv).toSeq
    }
    require(header.nonEmpty || eof, s"no header line within the first $probeBytes bytes of $path")
    (charset.name, header)
  }

  /** S3/S4/S5, P1/P2: the raw-input contract of every ingest. Each file is
    * read in the charset its [[probe]] decides — the reference's per-file
    * retry (`02:184-207`) — and by the header the probe reads from it:
    * files are grouped by (charset, header), and each group is one CSV scan
    * with that header as its schema (all strings), so every file's columns
    * map by name, as the reference's per-file pandas read does, even when
    * day files order them differently or leave an optional one out. A file
    * with no non-blank line adds no rows. Groups are unioned by name, UTF-8
    * ones first. No Spark job runs here: the probe reads each file once on
    * the driver, and the scans run at the caller's action.
    *
    * An absent `required` raw column raises an `IllegalArgumentException`
    * naming it and the group's files (a wrong delimiter reads as one column,
    * so it fails here too; when every file is empty, all of them are named);
    * any other absent column is back-filled with NULL, as the reference
    * does. Columns come out renamed raw → silver by `columns`, in its order.
    */
  def readCsv(spark: SparkSession, paths: Seq[String], options: Map[String, String],
      columns: Seq[(String, String)], required: Seq[String]): DataFrame = {
    // Globs and directories expand to their files as in Spark's own reader,
    // so each file gets its own charset and header.
    val files = if (paths.isEmpty) Nil
      else spark.read.format("text").load(paths: _*).inputFiles.toSeq
    require(files.nonEmpty, s"no CSV input files in: ${paths.mkString(", ")}")
    val conf = spark.sparkContext.hadoopConfiguration
    val caseSensitive = spark.conf.get(SQLConf.CASE_SENSITIVE.key).toBoolean
    val probed = files.flatMap { f =>
      val (charset, header) = probe(f, options, caseSensitive, conf = conf)
      header.map(h => (charset, h) -> f)
    }
    def renamed(raw: DataFrame, present: Seq[String], ps: Seq[String]): DataFrame = {
      val missing = required.filterNot(present.contains)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"missing required columns ${missing.mkString(", ")} in ${ps.mkString(", ")}")
      raw.select(columns.map { case (from, to) =>
        (if (present.contains(from)) col(from) else lit(null).cast(StringType)).as(to)
      }: _*)
    }
    if (probed.isEmpty) renamed(spark.emptyDataFrame, Nil, files)
    else probed.map(_._1).distinct.sortBy(_._1 != "UTF-8").map { case group @ (charset, header) =>
      val ps = probed.collect { case (`group`, f) => f }
      renamed(spark.read.options(options).option("header", "true").option("encoding", charset)
        .schema(StructType(header.map(StructField(_, StringType)))).csv(ps: _*), header, ps)
    }.reduce(_ unionByName _)
  }
}
