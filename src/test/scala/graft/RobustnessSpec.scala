package graft

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.functions._

import graft.functions.DoubleCounts
import graft.llm.Embeddings
import graft.tpg.Archives

/** Edge-case hardening from the round-2 advisory: hash-map key semantics,
  * archive extraction collisions, stub-decoder degenerate inputs, and
  * quantizer cache invalidation on changed data.
  */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  test("DoubleCounts: -0.0 and 0.0 stay distinct; all NaNs merge to one key") {
    val m = new DoubleCounts()
    m.add(0.0, 1); m.add(-0.0, 1)
    assert(m.size == 2, "-0.0 and 0.0 must be distinct keys (boxed-Double equals)")
    m.add(Double.NaN, 1)
    m.add(java.lang.Double.longBitsToDouble(0x7ff8000000000001L), 1) // a different NaN payload
    assert(m.size == 3, "all NaN bit patterns must canonicalize to one key")
    val (ks, cs) = m.pairs
    val nanCount = ks.zip(cs).collectFirst { case (k, c) if k.isNaN => c }.get
    assert(nanCount == 2L)
  }

  test("DoubleCounts: insertion/probe order does not change the key set") {
    val a = new DoubleCounts(); val b = new DoubleCounts()
    val vals = Seq(0.0, -0.0, 1.5, Double.NaN, -0.0, 0.0, Double.NaN)
    vals.foreach(a.add(_, 1))
    vals.reverse.foreach(b.add(_, 1))
    def canon(m: DoubleCounts) = {
      val (ks, cs) = m.pairs
      ks.map(java.lang.Double.doubleToLongBits).zip(cs).sortBy(_._1).toSeq
    }
    assert(canon(a) == canon(b))
  }

  test("Archives: same-basename members in different directories both survive") {
    val zip = Files.createTempFile("graft_dup_", ".zip").toFile
    val zo = new ZipOutputStream(new FileOutputStream(zip))
    def put(name: String, content: String): Unit = {
      zo.putNextEntry(new ZipEntry(name))
      zo.write(content.getBytes("UTF-8")); zo.closeEntry()
    }
    put("a/istdaten.csv", "from-a")
    put("b/istdaten.csv", "from-b")
    zo.close()
    val out = Archives.extractMembers(zip.getAbsolutePath, _.filter(_.endsWith("istdaten.csv")))
    assert(out.size == 2)
    val byMember = out.toMap
    assert(new String(Files.readAllBytes(new File(byMember("a/istdaten.csv")).toPath)) == "from-a")
    assert(new String(Files.readAllBytes(new File(byMember("b/istdaten.csv")).toPath)) == "from-b")
  }

  test("Archives: traversal member names are rejected (zip-slip)") {
    val zip = Files.createTempFile("graft_slip_", ".zip").toFile
    val zo = new ZipOutputStream(new FileOutputStream(zip))
    zo.putNextEntry(new ZipEntry("../escape.csv"))
    zo.write("x".getBytes("UTF-8")); zo.closeEntry(); zo.close()
    intercept[RuntimeException] {
      Archives.extractMembers(zip.getAbsolutePath, identity)
    }
  }

  test("quantizerFor retrains when the data under a path changes") {
    val dir = Files.createTempDirectory("graft_quant_").toFile.getAbsolutePath
    def write(labels: Seq[String]): Unit =
      labels.zipWithIndex
        .map { case (l, i) => (i.toLong, l, Array.fill(4)(i + 1.0)) }
        .toDF("vec_id", "label", "embedding")
        .write.mode("overwrite").parquet(dir)

    write(Seq("x", "x"))
    val emb1 = spark.read.parquet(dir)
    val q1 = Embeddings.quantizerFor(dir, Embeddings.centroids(emb1))
    assert(q1.map(_._1).toSet == Set("x"))

    // regenerate the corpus at the SAME path with different labels: the
    // content fingerprint changes, so the memo must retrain, not serve x
    write(Seq("y", "z"))
    val emb2 = spark.read.parquet(dir)
    val q2 = Embeddings.quantizerFor(dir, Embeddings.centroids(emb2))
    assert(q2.map(_._1).toSet == Set("y", "z"))
  }
}
