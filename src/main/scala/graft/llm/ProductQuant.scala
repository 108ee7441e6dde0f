package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) with asymmetric-distance (ADC) search —
  * the memory-side member of the ANN family (q26 brute force, q27 LSH
  * planes, q40/q41 IVF cells, q88 int8): split each vector into `m`
  * subspaces, k-means each subspace independently, and store each vector
  * as `m` SMALL CODES. At m=8, k=256 a 64-dim float32 vector compresses
  * 256 B → 8 B (32×); search never touches the original vectors — a
  * query builds an m×k distance TABLE against the codebooks and scores
  * every stored vector by `m` table lookups (Jégou, Douze, Schmid, "
  * Product Quantization for Nearest Neighbor Search", TPAMI 2011).
  *
  * Distances are SQUARED EUCLIDEAN — the metric that decomposes
  * additively across subspaces (`‖q−x‖² = Σ_s ‖q_s−x_s‖²` when the
  * subspaces partition the dims), which is the whole PQ trick; cosine
  * does not decompose and belongs to the IVF/int8 paths.
  *
  * Determinism (the q84 conventions, per subspace): codebooks seed from
  * the k corpus vectors with the smallest `md5(salt|vec_id)` (cells in
  * key order, zero RNG); assignment ties break toward the lowest code;
  * empty codes drop from the next round identically in both engines.
  * All distance sums are SEQUENTIAL left-to-right folds (`aggregate`
  * HOF in-plan, `foldLeft` for driver-side tables ↔ `list_sum` over an
  * ordered `list_transform` in SQL twins) so both engines execute the
  * identical IEEE operation sequence; residual exposure is the q84 one
  * (an assignment flips only if two codes tie within an ulp).
  *
  * Scale: codebooks are model artifacts (m·k·subDim doubles —
  * driver-sized by definition); training is the q84 loop per subspace
  * (assign scan + (code, dim) agg + k-row collect); encoding is
  * scan-time argmin against literal codebooks (no join, no shuffle);
  * ADC broadcasts the query table (m·k doubles per query) and scans
  * ONLY the code columns — at 100 TB the search reads bytes-per-vector,
  * not the vector column, which is the operator's reason to exist.
  */
object ProductQuant {

  /** Codebooks: `books(s)` = (code, centroid) pairs of subspace s.
    * Original code ids are PRESERVED across rounds (an empty code drops
    * out but never re-indexes the survivors — the q84 cell-id
    * convention, and what keeps stored codes stable).
    */
  case class Books(m: Int, subDim: Int, k0: Int,
      books: IndexedSeq[IndexedSeq[(Int, Seq[Double])]])

  private def subCol(vec: Column, s: Int, subDim: Int): Column =
    slice(vec, s * subDim + 1, subDim)

  /** Seed codebooks: the k corpus vectors with the smallest
    * `md5(salt|vec_id)`, sliced per subspace (codes in key order).
    */
  def seed(corpus: DataFrame, m: Int, k: Int, salt: String = "pq"): Books = {
    require(k > 0 && m > 0, "need m > 0 and k > 0")
    val rows = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      .orderBy(md5(concat_ws("|", lit(salt), col("vec_id").cast("string"))),
        col("vec_id"))
      .limit(k)
      .collect()
      .map(_.getSeq[Double](1))
    require(rows.nonEmpty,
      "PQ seed: corpus is empty — cannot seed codebooks from zero vectors")
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim must divide by m=$m")
    val subDim = dim / m
    Books(m, subDim, k,
      (0 until m).map(s => rows.toIndexedSeq.zipWithIndex
        .map { case (v, code) => (code, v.slice(s * subDim, (s + 1) * subDim)) }))
  }

  /** Per-subspace nearest-code assignment: adds `code_0 … code_{m-1}`
    * (scan-time argmin against literal codebooks — no join, no shuffle).
    *
    * The argmin is ONE compiled loop per (row, subspace) over the
    * driver-held codebook ([[graft.functions.PqKernels.nearestCode]]) —
    * bit-identical to the `array_min(array(struct(fold, code)…))`
    * composite it replaces (same ascending-index IEEE folds, same
    * lowest-code tie/degenerate conventions, pinned by PqKernelSpec).
    * The composite's m·k inlined folds evaluated interpreted per element,
    * and unrolling them as m·k compiled kernel calls left the
    * JIT-compilable envelope and ran 4–12× slower (r16 §18); the single
    * loop-based call is compact enough to JIT and allocation-free (no
    * per-subspace slice() array, no per-candidate struct rows).
    */
  def assign(corpus: DataFrame, bk: Books): DataFrame = {
    val v = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
    (0 until bk.m).foldLeft(v) { case (df, s) =>
      df.withColumn(s"code_$s",
        graft.functions.PqKernels.nearestCode(col("vec"), bk.books(s),
          s * bk.subDim))
    }
  }

  /** One Lloyd round per subspace: per-(code, dim) mean → k-row collect
    * each (model artifacts; empty codes drop).
    */
  def trainRound(corpus: DataFrame, bk: Books): Books = {
    val assigned = assign(corpus, bk)
    val books = (0 until bk.m).map { s =>
      val cents = Embeddings.centroids(
        assigned.select(col(s"code_$s").as("label"),
          subCol(col("vec"), s, bk.subDim).as("embedding")))
      Embeddings.trainQuantizer(cents)
        .map { case (label, c) => (label.asInstanceOf[Int], c) }
        .sortBy(_._1).toIndexedSeq
    }
    Books(bk.m, bk.subDim, bk.k0, books)
  }

  /** Seed + `iters` Lloyd rounds per subspace. */
  def fit(corpus: DataFrame, m: Int, k: Int, iters: Int,
      salt: String = "pq"): Books = {
    var bk = seed(corpus, m, k, salt)
    for (_ <- 1 to iters) bk = trainRound(corpus, bk)
    bk
  }

  /** Memoized codebooks per (dataset, hyperparameters): the same
    * model-registry pattern as [[Embeddings.quantizerFor]] — a resident
    * engine trains the PQ model once per corpus and serves every
    * encode/search from the artifact, rather than re-running the seed
    * scan + Lloyd rounds on each query. Keyed by dataset path + params +
    * a content fingerprint (recursive file listing) so regenerating the
    * data under the same path retrains instead of serving stale
    * codebooks; the superseded entry is evicted, not leaked.
    */
  private val booksMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Books]()
  private val latestFp =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** @param variant extra cache-key component for DERIVED corpora read
    *                 from the same dataset path (e.g. an in-plan vector
    *                 transform): distinct variants must never share books
    *                 even though they fingerprint the same files
    */
  def booksFor(datasetPath: String, corpus: => DataFrame,
      m: Int, k: Int, iters: Int, salt: String = "pq",
      variant: String = ""): Books = {
    val key = s"$datasetPath|m=$m|k=$k|iters=$iters|salt=$salt|variant=$variant"
    val fp = Embeddings.datasetFingerprint(datasetPath)
    val prev = latestFp.put(key, fp)
    if (prev != null && prev != fp) booksMemo.remove(s"$key#$prev")
    booksMemo.computeIfAbsent(s"$key#$fp", _ => fit(corpus, m, k, iters, salt))
  }

  /** Drop all memoized codebooks (explicit invalidation hook). */
  def invalidateBooks(): Unit = { booksMemo.clear(); latestFp.clear() }

  /** Test hook: entry count of the codebook memo (eviction regression). */
  private[graft] def booksCacheSize: Int = booksMemo.size

  /** Compressed representation: (vec_id, codes array<int>) — the frame a
    * 100 TB deployment PERSISTS (m·log₂k bits per vector).
    */
  def encode(corpus: DataFrame, bk: Books): DataFrame = {
    val a = assign(corpus, bk)
    a.select(col("vec_id"),
      array((0 until bk.m).map(s => col(s"code_$s")): _*).as("codes"))
  }

  /** EXACT squared-L2 top-k (brute force) — the ground-truth leg for PQ
    * recall audits (the q26 brute-force role, L2 metric): broadcast the
    * answer-sized query set, sequential-fold distances, rank per query.
    */
  def exactL2TopK(
      corpus: DataFrame, queries: DataFrame, topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val v = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("__qvec")))
    val dist =
      graft.functions.ArrayMath.l2sq(col("__qvec"), col("vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("vec_id").asc)
    v.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dist", dist)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("vec_id"), col("dist"))
  }

  /** ADC top-k: score every encoded vector against each query via the
    * per-query m×k distance table (computed driver-side from the query
    * vectors — queries are an answer-sized set by contract — with the
    * same sequential fold as the in-plan distances, then broadcast).
    * Queries score all OTHER vectors; ranks break ties by vec_id.
    *
    * @param queries (vec_id, embedding) rows — must be answer-sized
    * @return (query_id, rnk, vec_id, adist) — topK rows per query
    */
  def adcTopK(
      encoded: DataFrame, bk: Books, queries: DataFrame, topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val spark = encoded.sparkSession
    val qRows = queries
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      .collect()
      .map { r =>
        // generic integral read: a non-integral vec_id is a contract
        // violation and should fail with the contract, not a cast trace
        val id = r.get(0) match {
          case l: java.lang.Long    => l.longValue()
          case i: java.lang.Integer => i.longValue()
          case other => throw new IllegalArgumentException(
            "adcTopK: query vec_id must be an integral id column, got " +
              (if (other == null) "null" else other.getClass.getSimpleName))
        }
        val vec = r.getSeq[Double](1)
        val dts: Seq[Seq[Double]] = (0 until bk.m).map { s =>
          val qs = vec.slice(s * bk.subDim, (s + 1) * bk.subDim)
          val byCode = bk.books(s).map { case (code, c) =>
            code -> qs.indices.foldLeft(0.0) { (acc, i) =>
              val d = qs(i) - c(i); acc + d * d
            }
          }.toMap
          // indexed by ORIGINAL code id; dropped codes never appear in
          // any stored `codes` array, so the placeholder is unreachable
          (0 until bk.k0).map(code => byCode.getOrElse(code, Double.MaxValue))
        }
        (id, dts)
      }
    import spark.implicits._
    val qDf = broadcast(qRows.toSeq.toDF("query_id", "dts"))
    val scored = encoded.crossJoin(qDf)
      .filter(col("vec_id") =!= col("query_id"))
      // static-m unroll of the former aggregate(sequence(1,m), ...) HOF:
      // identical ascending-index IEEE sum (0.0 + t1 + t2 ...), but plain
      // element_at arithmetic stays inside whole-stage codegen where the
      // HOF evaluated interpreted per (vector, query) pair (guide §4)
      .withColumn("adist",
        (1 to bk.m).map(s => element_at(element_at(col("dts"), s),
            element_at(col("codes"), s) + 1))
          .foldLeft(lit(0.0))(_ + _))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("vec_id"), col("adist"))
  }
}
