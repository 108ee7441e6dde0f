package graft

import java.io.File
import java.nio.file.Files

import graft.tpg._

/** `Archives.probe`, the driver-side read of each raw CSV file's charset and
  * header: the header is the one Spark infers, and `readCsv` reads each file
  * by its own header. */
class ArchivesSpec extends SparkSpec {

  private def write(name: String, bytes: Array[Byte]): String = {
    val f = File.createTempFile(name, ".csv")
    f.deleteOnExit()
    Files.write(f.toPath, bytes)
    f.getAbsolutePath
  }

  private def utf8File(name: String, content: String): String =
    write(name, content.getBytes("UTF-8"))

  private val semi = Map("sep" -> ";")
  private val weather = Map("sep" -> ";", "nullValue" -> "-")

  test("probe: the header equals the one Spark infers, in every shape a raw file's first line takes") {
    val bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte)
    val cases = Seq(
      ("UTF-8 byte-order mark", semi, write("bom", bom ++ "A;B\n1;2\n".getBytes("UTF-8"))),
      ("blank leading lines", semi, utf8File("blank", "\n  \r\n\nA;B\n1;2\n")),
      ("CRLF line ends", semi, utf8File("crlf", "A;B\r\n1;2\r\n")),
      ("a quoted name holding the delimiter", semi, utf8File("quoted", "\"x;y\";z\n1;2\n")),
      ("empty and duplicate names", semi, utf8File("dup", "a;;a;A;\"\"\n1;2;3;4;5\n")),
      ("a name equal to nullValue", weather, utf8File("nullname", "station;-;x\nGVE;1;2\n")),
      ("a Latin-1 name", semi, write("latin1", "Genève;Zürich\n1;2\n".getBytes("ISO-8859-1"))),
      ("no line end", semi, utf8File("noeol", "A;B")))
    for ((what, options, path) <- cases) {
      val (charset, header) = Archives.probe(path, options, caseSensitive = false)
      val spark4 = spark.read.options(options).option("header", "true")
        .option("encoding", charset).csv(path).columns.toSeq
      assert(header.contains(spark4), s"$what: probe $header, Spark $spark4")
    }
    assert(Archives.probe(cases(6)._3, semi, caseSensitive = false)._2 ==
      Some(Seq("Genève", "Zürich")))
    // case-sensitive analysis keeps `a` and `A` apart, as Spark does
    assert(Archives.probe(cases(4)._3, semi, caseSensitive = true)._2 ==
      Some(Seq("a0", "_c1", "a2", "A", "_c4")))
    // A line of tabs is blank to the per-file reader, which skips it and then
    // the header line; Spark's inference trims only spaces and would name the
    // columns after the tab line. The probe takes the line the reader skips.
    val tabs = utf8File("tabs", "\t\nA;B\n1;2\n")
    assert(Archives.probe(tabs, semi, caseSensitive = false)._2 == Some(Seq("A", "B")))
    assert(Archives.readCsv(spark, Seq(tabs), semi, Seq("A" -> "a", "B" -> "b"), Seq("A", "B"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("1", "2")))
  }

  test("probe: no header for a file without a non-blank line; one cut by the probe fails") {
    for (content <- Seq("", "\n", " \r\n\t\n"))
      assert(Archives.probe(utf8File("empty", content), semi, caseSensitive = false)._2.isEmpty)
    val long = utf8File("long", "abcdefghijkl\n1\n")
    val e = intercept[IllegalArgumentException](
      Archives.probe(long, semi, caseSensitive = false, probeBytes = 8))
    assert(e.getMessage.contains("no header line within the first 8 bytes"), e.getMessage)
  }

  test("readCsv: a file without a non-blank line adds no rows; all such files fail the required columns") {
    val columns = Seq("A" -> "a", "B" -> "b")
    val rows = utf8File("rows", "A;B\n1;2\n3;4\n")
    val blank = utf8File("blank", "\n \n")
    val empty = utf8File("empty", "")
    val got = Archives.readCsv(spark, Seq(rows, blank, empty), semi, columns, Seq("A"))
    assert(got.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("1", "2"), ("3", "4")))
    val e = intercept[IllegalArgumentException](
      Archives.readCsv(spark, Seq(blank, empty), semi, columns, Seq("A")))
    assert(e.getMessage.startsWith("missing required columns A in "), e.getMessage)
    for (p <- Seq(blank, empty)) assert(e.getMessage.contains(p), e.getMessage)
  }
}
