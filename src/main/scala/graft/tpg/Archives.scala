package graft.tpg

import java.io.{File, FileOutputStream}
import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.{CodingErrorAction, StandardCharsets}
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

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

  /** Strict UTF-8 validity probe. The reference retries Latin-1 *per file*
    * on `UnicodeDecodeError` (`02:184-207`); Spark's CSV reader never
    * throws — it silently substitutes U+FFFD — so validity must be decided
    * before the read. Streams up to `probeBytes` through a REPORT-mode
    * decoder; a multi-byte sequence truncated at the probe boundary is NOT
    * counted as invalid (endOfInput=false). The bounded probe keeps the
    * driver-side cost per file constant; Latin-1 transit data (station
    * names with umlauts/accents) shows up within the first MBs in practice.
    */
  def isValidUtf8(path: String, probeBytes: Int = 4 << 20,
      conf: Configuration = new Configuration()): Boolean = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    val bytes = try in.readNBytes(probeBytes) finally in.close()
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    val bb = ByteBuffer.wrap(bytes)
    val cb = CharBuffer.allocate(64 * 1024)
    var res = dec.decode(bb, cb, false)
    while (res.isOverflow) { cb.clear(); res = dec.decode(bb, cb, false) }
    !res.isError
  }

  /** S3/S4/S5, P1/P2: the raw-input contract of every ingest. Each file is
    * read as UTF-8 when it decodes as UTF-8, else as ISO-8859-1 — the
    * reference's per-file retry (`02:184-207`), decided up front because
    * Spark's reader substitutes U+FFFD instead of throwing. An absent
    * `required` raw column raises an `IllegalArgumentException` naming it
    * (a wrong delimiter reads as one column, so it fails here too); any other
    * absent column is back-filled with NULL, as the reference does. Columns
    * come out renamed raw → silver by `columns`, in its order, all strings.
    */
  def readCsv(spark: SparkSession, paths: Seq[String], options: Map[String, String],
      columns: Seq[(String, String)], required: Seq[String]): DataFrame = {
    // Globs and directories expand to their files as in Spark's own reader,
    // so each file gets its own charset.
    val files = if (paths.isEmpty) Nil
      else spark.read.format("text").load(paths: _*).inputFiles.toSeq
    require(files.nonEmpty, s"no CSV input files in: ${paths.mkString(", ")}")
    val conf = spark.sparkContext.hadoopConfiguration
    val (utf8, latin1) = files.partition(isValidUtf8(_, conf = conf))
    Seq("UTF-8" -> utf8, "ISO-8859-1" -> latin1).collect { case (charset, ps) if ps.nonEmpty =>
      val raw = spark.read.options(options).option("header", "true")
        .option("encoding", charset).csv(ps: _*)
      val present = raw.columns.toSet
      val missing = required.filterNot(present)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"missing required columns ${missing.mkString(", ")} in ${ps.mkString(", ")}")
      raw.select(columns.map { case (from, to) =>
        (if (present(from)) col(from) else lit(null).cast("string")).as(to)
      }: _*)
    }.reduce(_ unionByName _)
  }
}
