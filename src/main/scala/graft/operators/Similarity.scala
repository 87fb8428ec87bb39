package graft.operators

import scala.collection.mutable

import graft.functions.VectorKernels
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and hyperplane-LSH,
  * IVF, PQ and IVF-PQ variants as the scale paths (SURVEY §7.5).
  *
  * Every top-k kernel has one shape: each partition keeps a bounded
  * heap of candidates per query ([[TopK]]), and one window ranks the
  * union of the partitions' heaps ([[rankTopK]]). Both order by the one
  * tie-break, score desc then neighbor id asc ([[WorstFirst]] is its
  * eviction order). Every exact score is the cosine fold in
  * [[VectorKernels]], the one the [[cosine]] expression evaluates, so
  * exact results are bit-identical to the DuckDB oracle's.
  */
object Similarity {

  /** Row cap for [[cosinePairsAbove]]'s driver-collected corpus: 100k
    * rows of 100-dim float vectors ≈ 40 MB broadcast, comfortably
    * inside default driver/executor memory; anything larger belongs on
    * the distributed paths (semanticDedup / annTopK).
    */
  val CosinePairsMaxRows: Long = 100000L

  /** Vector UDFs are compact JVM loops rather than `aggregate`/`zip_with`
    * trees: ArrayAggregate is CodegenFallback (interpreted — measured
    * ~34µs per 64-dim cosine at sf0.1), while the primitive-array loop
    * runs ~100× faster with the SAME left-to-right fold order.
    */
  private def floats(a: scala.collection.Seq[Float]): Array[Float] = a match {
    case w: scala.collection.mutable.ArraySeq.ofFloat => w.array
    case other => other.toArray
  }

  /** Cosine as a NATIVE codegen'd Catalyst expression
    * ([[graft.functions.FloatVecCosine]]) — stays inside whole-stage
    * codegen where a UDF would fence it.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.FloatVecCosine(a, b)

  // ---- the shared top-k kernel -------------------------------------------

  /** A collected vector with its L2 norm: (id, vector, norm). */
  private type Normed = (Long, Array[Float], Double)

  /** `(id cast to long, vector)` rows: the typed form every kernel reads.
    * Ids must be numeric (string-keyed corpora carry a surrogate long,
    * standard practice for vector indexes).
    */
  private def vectors(df: DataFrame, idCol: String,
      vecCol: String): Dataset[(Long, Array[Float])] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
  }

  /** The small side of a kernel (queries, centroids), collected to the
    * driver with each vector's norm.
    */
  private def collectNormed(df: DataFrame, idCol: String,
      vecCol: String): Array[Normed] =
    vectors(df, idCol, vecCol).collect().map { case (id, v) =>
      require(v != null, s"row $id has a null vector")
      (id, v, VectorKernels.norm(v))
    }

  /** The tie-break of every top-k here, as the order a bounded heap
    * evicts in: the lower score first and, on equal scores, the LARGER
    * id first, so eviction keeps the smaller id. [[rankTopK]]'s window
    * ranks by its reverse.
    */
  private val WorstFirst: Ordering[(Double, Long)] =
    Ordering.fromLessThan { (a, b) =>
      a._1 < b._1 || (a._1 == b._1 && a._2 > b._2)
    }

  /** One partition's candidates: per query index a bounded heap of the
    * `k` best (score, neighbor id) by [[WorstFirst]], created on the
    * query's first offer.
    */
  private final class TopK(qids: Array[Long], k: Int) {
    private val heaps =
      new Array[mutable.PriorityQueue[(Double, Long)]](qids.length)

    def offer(qi: Int, score: Double, id: Long): Unit = {
      var h = heaps(qi)
      if (h == null) {
        h = mutable.PriorityQueue.empty[(Double, Long)](WorstFirst.reverse)
        heaps(qi) = h
      }
      if (h.size < k) h.enqueue((score, id))
      else if (WorstFirst.gt((score, id), h.head)) {
        h.dequeue(); h.enqueue((score, id))
      }
    }

    /** (query id, neighbor id, score) of every kept candidate. */
    def rows: Iterator[(Long, Long, Double)] =
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        if (h == null) Iterator.empty
        else h.iterator.map { case (score, id) => (qids(qi), id, score) }
      }
  }

  /** The final ranking of every top-k: per query, `rank` 1..k by cosine
    * desc, then neighbor id asc. The window partitions by query id only,
    * so the shuffle key count equals |queries|.
    *
    * Output: (query id, rank, neighbor id, cosine).
    */
  private def rankTopK(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    candidates
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** The exact top-k pass behind [[bruteForceTopK]],
    * [[ivfTopKWithCentroids]] and [[annTopK]]: ONE streaming pass over
    * the corpus, zero shuffled candidates. Each row is scored against
    * the query indices `probe` names for it (every query, or the ones
    * probing its list or bucket), never against itself, into
    * per-(partition, query) bounded heaps. The shuffle into the final
    * ranking therefore carries partitions×|queries|×k rows instead of
    * |corpus|×|queries| — the difference between 320k and 4M rows at
    * sf0.1, and between feasible and not at 100 TB.
    */
  private def exactTopK(
      corpus: Dataset[(Long, Array[Float])],
      queries: Array[Normed],
      k: Int
  )(probe: Array[Float] => Array[Int]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(queries)
    val candidates = corpus
      .mapPartitions { rows =>
        val qs = bc.value
        val top = new TopK(qs.map(_._1), k)
        rows.foreach { case (cid, cv) =>
          val cNorm = VectorKernels.norm(cv)
          val qis = probe(cv)
          var i = 0
          while (i < qis.length) {
            val (qid, qv, qNorm) = qs(qis(i))
            if (qid != cid)
              top.offer(qis(i), VectorKernels.cosine(
                VectorKernels.dot(cv, qv), cNorm, qNorm), cid)
            i += 1
          }
        }
        top.rows
      }
      .toDF("query_id", "neighbor_id", "cosine")
    rankTopK(candidates, k)
  }

  /** key → the indices of the queries probing it, from each query's
    * probe keys (lists or buckets).
    */
  private def byProbe[K](probes: Array[Array[K]]): Map[K, Array[Int]] =
    probes.zipWithIndex
      .flatMap { case (keys, qi) => keys.map(_ -> qi) }
      .groupBy(_._1)
      .map { case (key, xs) => key -> xs.map(_._2) }

  /** Exact top-k neighbors of every query vector against the corpus.
    *
    * Queries are broadcast (the small side by contract); the corpus
    * streams through [[exactTopK]]'s one partitioned pass — cost
    * |corpus| × |queries| FLOPs but never a shuffled cross product of
    * the corpus with itself. A query is never its own neighbor.
    *
    * Output: (query id, rank 1..k, neighbor id, cosine) with a
    * deterministic (cosine desc, neighbor asc) tie-break.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int
  ): DataFrame = {
    val qs = collectNormed(queries, queryId, queryVec)
    val all = qs.indices.toArray
    exactTopK(vectors(corpus, corpusId, corpusVec), qs, k)(_ => all)
  }

  /** All (a < b) pairs with cosine ≥ tau — the exact embedding-near-dup
    * operator. The full vector set is broadcast as primitive arrays and
    * each partition streams its rows against it (n²/2 dot products
    * spread across tasks, no materialized cross join). For corpora too
    * big to broadcast, use [[annTopK]]'s bucketed path instead.
    */
  def cosinePairsAbove(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      maxRows: Long = CosinePairsMaxRows
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // ENFORCE the small-frame contract instead of documenting it: the
    // corpus is collected and broadcast below, so a caller pointing this
    // at a real corpus would get a driver OOM, not an error. The count
    // is cheap (column-pruned scan) relative to the n² work that follows.
    val n = df.count()
    require(n <= maxRows,
      s"cosinePairsAbove collects the corpus to the driver and got " +
        s"$n rows (cap $maxRows): use semanticDedup (cluster-scoped " +
        s"pairs) or annTopK (bucketed) for corpora beyond broadcast size")
    val bc = spark.sparkContext.broadcast(collectNormed(df, idCol, vecCol))
    vectors(df, idCol, vecCol)
      .mapPartitions { rows =>
        val others = bc.value
        rows.flatMap { case (ida, va) =>
          val aNorm = VectorKernels.norm(va)
          others.iterator.collect {
            case (idb, vb, bNorm) if idb > ida && VectorKernels.cosine(
                VectorKernels.dot(va, vb), aNorm, bNorm) >= tau =>
              (ida, idb)
          }
        }
      }
      .toDF("id_a", "id_b")
  }

  /** SemDeDup-style cluster-scoped near-duplicate verdicts: a row is a
    * duplicate iff some LOWER-id row in the SAME cluster has cosine ≥
    * tau with it (keep-lowest survivor policy). The quadratic pair work
    * is bounded per cluster — the whole point of clustering before
    * deduplicating — so the plan is one shuffle of each side on the
    * cluster key into an equi-join (AQE splits skewed clusters), with
    * the native codegen'd [[cosine]] expression as the pair filter.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      clusterCol: String,
      tau: Double
  ): DataFrame = {
    val a = df.select(col(idCol).cast("long").as("id_a"),
      col(clusterCol).as("__c"), col(vecCol).as("__va"))
    val b = df.select(col(idCol).cast("long").as("id_b"),
      col(clusterCol).as("__c"), col(vecCol).as("__vb"))
    val dupIds = a
      .join(b, Seq("__c"))
      .filter(col("id_b") > col("id_a") &&
        cosine(col("__va"), col("__vb")) >= tau)
      .select(col("id_b").as("__dup_id"))
      .distinct()
    df.select(col(idCol).cast("long").as(idCol), col(clusterCol))
      .join(dupIds.withColumn("__d", lit(true)),
        col(idCol) === col("__dup_id"), "left")
      .select(col(idCol), col(clusterCol),
        coalesce(col("__d"), lit(false)).as("is_dup"))
  }

  /** One k-means assignment (E) step over cosine similarity: every row
    * is labeled with the id of its nearest centroid. Centroids are the
    * small side by contract (k vectors) — collected, sorted by id, and
    * broadcast as primitive arrays; the data streams through one
    * embarrassingly-parallel pass (no shuffle at all), which is the
    * shape that holds at any corpus size. Ties (equal cosine) keep the
    * lowest centroid id, so the assignment is deterministic and matches
    * a `ROW_NUMBER() OVER (ORDER BY cos DESC, centroid_id ASC)` oracle.
    */
  def kmeansAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      centroidId: String,
      centroidVec: String
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cData = collectNormed(centroids, centroidId, centroidVec)
      .sortBy(_._1)
    require(cData.nonEmpty, "kmeansAssign needs at least one centroid")
    val dim = cData(0)._2.length
    require(cData.forall(_._2.length == dim),
      s"centroid vectors disagree on dimension (expected $dim)")
    val bc = spark.sparkContext.broadcast(cData)
    vectors(df, idCol, vecCol)
      .mapPartitions { rows =>
        val cs = bc.value
        rows.map { case (id, v) =>
          val vNorm = VectorKernels.norm(v)
          var best = cs(0)._1
          var bestCos = Double.NegativeInfinity
          var ci = 0
          while (ci < cs.length) {
            val (cid, cv, cNorm) = cs(ci)
            val cos =
              VectorKernels.cosine(VectorKernels.dot(v, cv), vNorm, cNorm)
            // strict > keeps the first (lowest-id) centroid on ties
            if (cos > bestCos) { bestCos = cos; best = cid }
            ci += 1
          }
          (id, best, bestCos)
        }
      }
      .toDF(idCol, "cluster", "cosine")
  }

  /** IVF (inverted-file) top-k — the centroid-partitioned ANN variant
    * beside the hyperplane-LSH one ([[annTopK]]): train `nlist` coarse
    * centroids with a few Lloyd iterations, assign every corpus row to
    * its nearest centroid (the inverted lists), and answer each query
    * from the `nprobe` lists whose centroids are nearest to it.
    *
    * Scale shape: training is ONE bounded-sample collect + driver-side
    * Lloyd ([[trainCoarse]]) — O(1) in corpus size; search is
    * [[exactTopK]]'s one streaming corpus pass — zero shuffled
    * candidates. Centroid seeds are chosen by a deterministic md5
    * order; an approximate operator: rows-only gate + recall assertion
    * in SimilaritySpec, like q31.
    */
  def ivfTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      dim: Int,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      iters: Int = 3
  ): DataFrame =
    ivfTopKWithCentroids(corpus, corpusId, corpusVec, queries, queryId,
      queryVec, k,
      trainCoarse(corpus, corpusId, corpusVec, dim, nlist, iters), nprobe)

  /** [[ivfTopK]]'s search pass with a CALLER-SUPPLIED coarse quantizer
    * (one double vector per list, list id = array index). Two uses: a
    * pre-trained/persisted quantizer (the production shape — indexes
    * are trained once, searched for months), and the q196 operating-
    * point gate, where a deterministic quantizer (the nlist lowest-id
    * corpus vectors) makes the whole approximate result — assignment,
    * probe choice, per-list ranking — recomputable by the DuckDB
    * oracle, so the shipped search pass itself is hash-checked. Corpus
    * rows with a null vector belong to no list and are skipped.
    */
  def ivfTopKWithCentroids(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      centroids: Array[Array[Double]],
      nprobe: Int
  ): DataFrame = {
    val qs = collectNormed(queries, queryId, queryVec)
    val byList =
      byProbe(qs.map { case (_, v, _) => nearestLists(v, centroids, nprobe) })
    exactTopK(vectors(corpus.filter(col(corpusVec).isNotNull), corpusId,
      corpusVec), qs, k) { cv =>
      byList.getOrElse(nearestWhole(cv, centroids), Array.emptyIntArray)
    }
  }

  // ---- shared centroid kernels (IVF, PQ, IVF-PQ) -------------------------

  /** Squared L2 distance from `c` to the `c.length` elements of `v` that
    * start at `off` (the whole vector, or one PQ subspace).
    */
  private def dist2(v: Array[Float], off: Int, c: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(v.length - off, c.length)
    while (i < n) { val d = v(off + i).toDouble - c(i); s += d * d; i += 1 }
    s
  }

  /** Index of the centroid nearest to `v` from `off` ([[dist2]]); strict
    * `<` keeps the lowest index on ties, so training and encoding can
    * never assign differently.
    */
  private def nearest(v: Array[Float], off: Int,
      cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var ci = 0
    while (ci < cs.length) {
      val d = dist2(v, off, cs(ci))
      if (d < bestD) { bestD = d; best = ci }
      ci += 1
    }
    best
  }

  /** The `nprobe` lists whose centroids are nearest to a query. */
  private def nearestLists(v: Array[Float], cs: Array[Array[Double]],
      nprobe: Int): Array[Int] = {
    cs.foreach(requireWhole(v, _))
    cs.indices.sortBy(ci => (dist2(v, 0, cs(ci)), ci)).take(nprobe).toArray
  }

  /** `Σ v(off + j)·c(j)`: a float vector (or one subspace of it) against
    * a double centroid or hyperplane.
    */
  private def dotAt(v: Array[Float], off: Int, c: Array[Double]): Double = {
    var d = 0.0
    var j = 0
    val n = math.min(v.length - off, c.length)
    while (j < n) { d += v(off + j).toDouble * c(j); j += 1 }
    d
  }

  /** The cosine fold's ragged-vector rule for a WHOLE vector against a
    * centroid or hyperplane. [[dist2]] and [[dotAt]] read only the
    * overlap (they also serve PQ's subspaces), so every whole-vector
    * assignment and hash checks here: a short row fails even when no
    * query would go on to score it.
    */
  private def requireWhole(v: Array[Float], c: Array[Double]): Unit =
    require(v.length == c.length,
      s"dimension mismatch ${v.length} vs ${c.length}")

  /** [[nearest]] over the whole of `v`. */
  private def nearestWhole(v: Array[Float], cs: Array[Array[Double]]): Int = {
    cs.foreach(requireWhole(v, _))
    nearest(v, 0, cs)
  }

  /** [[dotAt]] over the whole of `v`. */
  private def dotWhole(v: Array[Float], c: Array[Double]): Double = {
    requireWhole(v, c)
    dotAt(v, 0, c)
  }

  private def sumSq(c: Array[Double]): Double = {
    var n = 0.0
    var j = 0
    while (j < c.length) { n += c(j) * c(j); j += 1 }
    n
  }

  /** `v − c`, rounded back to float: the vector an IVF-PQ code encodes. */
  private def residual(v: Array[Float], c: Array[Double]): Array[Float] = {
    val r = new Array[Float](v.length)
    var i = 0
    while (i < v.length) { r(i) = (v(i).toDouble - c(i)).toFloat; i += 1 }
    r
  }

  private def requireDim(what: String, id: Long, v: Array[Float],
      dim: Int): Unit =
    require(v != null && v.length == dim,
      s"$what $id vector has dimension " +
        s"${if (v == null) "null" else v.length}, expected $dim")

  /** Rows a k-means trainer reads, tops out here regardless of corpus
    * size — the faiss discipline: codebooks are trained on a bounded
    * sample and applied to everything. At 100 TB the alternative
    * (`iters` full corpus passes per trained structure) would dominate
    * the whole index build; a 16k sample is statistically identical
    * for ≤256 centroids and makes training cost O(1) in corpus size.
    */
  private val MaxTrainSample = 16384

  /** Deterministic bounded training sample: rows in md5(id) order (the
    * same order the seed picks always used, so seeds are a prefix of
    * the sample), nulls skipped, wrong dimensions fail fast. ONE Spark
    * job; Lloyd iterations then run driver-side on the sample.
    */
  private def trainSample(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int
  ): Array[Array[Float]] = {
    import corpus.sparkSession.implicits._
    val sample = vectors(corpus, idCol, vecCol).toDF("id", "v")
      .filter(col("v").isNotNull)
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(MaxTrainSample)
      .as[(Long, Array[Float])]
      .collect()
    sample.foreach { case (id, v) => requireDim("row", id, v, dim) }
    sample.map(_._2)
  }

  /** Driver-side Lloyd over the `dim` sample columns that start at `off`
    * (the whole vector, or one PQ subspace): seeds are the first `k`
    * sample rows (md5-order prefix, matching the historical seed pick),
    * then `iters` assignment/average passes in memory.
    */
  private def lloydInMemory(
      sample: Array[Array[Float]],
      off: Int,
      dim: Int,
      k: Int,
      iters: Int
  ): Array[Array[Double]] = {
    require(sample.nonEmpty, "k-means training needs at least one row")
    val centroids: Array[Array[Double]] =
      sample.take(k).map(v => Array.tabulate(dim)(i => v(off + i).toDouble))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      var r = 0
      while (r < sample.length) {
        val v = sample(r)
        val ci = nearest(v, off, centroids)
        val s = sums(ci)
        var i = 0
        while (i < dim) { s(i) += v(off + i).toDouble; i += 1 }
        counts(ci) += 1
        r += 1
      }
      var ci = 0
      while (ci < centroids.length) {
        if (counts(ci) > 0) {
          val s = sums(ci)
          val c = new Array[Double](dim)
          var i = 0
          while (i < dim) { c(i) = s(i) / counts(ci); i += 1 }
          centroids(ci) = c
        }
        ci += 1
      }
      it += 1
    }
    centroids
  }

  /** Coarse k-means training shared by [[ivfTopK]] and [[ivfPqTopK]]:
    * one bounded-sample collect ([[trainSample]]), then driver-side
    * Lloyd ([[lloydInMemory]]). Returns fewer than `nlist` centroids
    * when the corpus is smaller — callers size downstream structures
    * by the returned length, not by nlist.
    */
  private def trainCoarse(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nlist: Int,
      iters: Int
  ): Array[Array[Double]] =
    lloydInMemory(trainSample(corpus, idCol, vecCol, dim), 0, dim, nlist,
      iters)

  /** Per-query ADC lookup table `lut(s)(c) = q_sub(s) · cb(s)(c)` —
    * shared by [[pqTopK]] and [[ivfPqTopK]].
    */
  private def queryLut(
      v: Array[Float],
      cb: Array[Array[Array[Double]]]): Array[Array[Double]] =
    Array.tabulate(cb.length, cb(0).length) { (s, c) =>
      dotAt(v, s * cb(s)(c).length, cb(s)(c))
    }

  /** ADC dot product of a query with a PQ-coded row: `from` plus one
    * lookup-table entry per subspace.
    */
  private def adcDot(from: Double, lut: Array[Array[Double]],
      codes: Array[Int]): Double = {
    var d = from
    var s = 0
    while (s < codes.length) { d += lut(s)(codes(s)); s += 1 }
    d
  }

  /** Product-quantization codebooks: `m` subspaces × `ksub` centroids ×
    * (dim/m) dims, trained per subspace by driver-side Lloyd over a
    * bounded md5-ordered sample ([[trainSample]]) — one Spark job
    * total, O(1) in corpus size. Seeds are the first `ksub` sample
    * rows, like [[ivfTopK]].
    */
  def pqTrain(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      ksub: Int,
      iters: Int
  ): Array[Array[Array[Double]]] =
    pqTrainOnSample(trainSample(corpus, idCol, vecCol, dim), dim, m,
      ksub, iters)

  /** Driver-side PQ training over an already-collected sample: one
    * [[lloydInMemory]] per subspace. Shared by [[pqTrain]] and
    * [[ivfPqTopK]] (which trains on driver-computed residuals of the
    * same coarse-training sample — zero extra Spark jobs).
    */
  private def pqTrainOnSample(
      sample: Array[Array[Float]],
      dim: Int,
      m: Int,
      ksub: Int,
      iters: Int
  ): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    require(sample.length >= ksub, s"need at least $ksub training rows")
    val subDim = dim / m
    // codebooks(s)(c) = centroid c of subspace s
    Array.tabulate(m)(s =>
      lloydInMemory(sample, s * subDim, subDim, ksub, iters))
  }

  /** The `m` codes of a vector: its nearest centroid per subspace. */
  private def encode(v: Array[Float], cb: Array[Array[Array[Double]]]
      ): Array[Int] =
    Array.tabulate(cb.length)(s => nearest(v, s * cb(s)(0).length, cb(s)))

  /** PQ-encode a corpus: every vector becomes `m` small centroid codes
    * (m bytes at ksub ≤ 256) — a 32× memory cut for 64-dim floats at
    * m=8. The scan side of [[pqTopK]], exposed for storage use.
    */
  def pqEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]]
  ): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = codebooks.length * codebooks(0)(0).length
    val bc = spark.sparkContext.broadcast(codebooks)
    vectors(corpus, idCol, vecCol)
      .mapPartitions { rows =>
        val cb = bc.value
        rows.collect {
          // null vectors are un-encodable and skipped (documented);
          // wrong dimensions fail fast — silent truncation would
          // produce wrong-but-plausible codes
          case (id, v) if v != null =>
            requireDim("row", id, v, dim)
            (id, encode(v, cb))
        }
      }
      .toDF(idCol, "codes")
  }

  /** PQ approximate top-k (asymmetric distance computation with exact
    * re-ranking): corpus vectors are scanned as `m` centroid codes;
    * every query pre-computes an m×ksub lookup table of partial dot
    * products (plus centroid norms), so scoring a corpus row is m table
    * adds — no float-vector reads at all in the shortlist pass. The ADC
    * shortlist (`rerank`×k per query) then joins back to the original
    * vectors for exact cosine re-ranking — the standard two-stage PQ
    * pipeline: the cheap code scan touches everything, the expensive
    * float reads touch only the shortlist. Third ANN variant beside
    * hyperplane-LSH ([[annTopK]]) and IVF ([[ivfTopK]]); approximate by
    * construction, so rows-only gate + recall assertion in
    * SimilaritySpec.
    */
  def pqTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      dim: Int,
      k: Int,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 3,
      rerank: Int = 8
  ): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val codebooks = pqTrain(corpus, corpusId, corpusVec, dim, m, ksub, iters)
    val codes = pqEncode(corpus, corpusId, corpusVec, codebooks)
      .as[(Long, Array[Int])]

    // per-query ADC tables: dot(s)(c) = q_sub·centroid, plus centroid
    // norm² per (s, c) for the denominator estimate
    val norm2 = codebooks.map(_.map(sumSq))
    val qRaw = collectNormed(queries, queryId, queryVec)
    qRaw.foreach { case (id, v, _) => requireDim("query", id, v, dim) }
    val qData: Array[(Long, Array[Array[Double]], Double)] =
      qRaw.map { case (id, v, norm) => (id, queryLut(v, codebooks), norm) }
    val bcQ = spark.sparkContext.broadcast(qData)
    val bcN = spark.sparkContext.broadcast(norm2)

    val shortlist = codes
      .mapPartitions { rows =>
        val qs = bcQ.value
        val n2 = bcN.value
        val top = new TopK(qs.map(_._1), k * rerank)
        rows.foreach { case (cid, cs) =>
          // reconstructed norm is query-independent: compute once
          var vn = 0.0
          var s = 0
          while (s < m) { vn += n2(s)(cs(s)); s += 1 }
          val vNorm = math.sqrt(vn)
          var qi = 0
          while (qi < qs.length) {
            val (qid, lut, qNorm) = qs(qi)
            if (qid != cid)
              top.offer(qi,
                VectorKernels.cosine(adcDot(0.0, lut, cs), vNorm, qNorm), cid)
            qi += 1
          }
        }
        top.rows.map { case (qid, cid, _) => (qid, cid) }
      }
      .toDF("query_id", "neighbor_id")
    rerankExact(shortlist, corpus, corpusId, corpusVec, qRaw, k)
  }

  /** Exact cosine re-ranking of an ANN shortlist (query_id,
    * neighbor_id): join back to the corpus vectors (only shortlisted
    * ids read floats again), score them against the query vectors with
    * the [[cosine]] expression, keep top-k per query. Shared by
    * [[pqTopK]] and [[ivfPqTopK]].
    */
  private def rerankExact(
      shortlist: DataFrame,
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      qRaw: Array[Normed],
      k: Int
  ): DataFrame = {
    import corpus.sparkSession.implicits._
    val qVecs = qRaw.toSeq.map { case (id, v, _) => (id, v) }
      .toDF("query_id", "__qv")
    rankTopK(shortlist
      .dropDuplicates("query_id", "neighbor_id")
      .join(corpus.select(col(corpusId).cast("long").as("neighbor_id"),
        col(corpusVec).as("__v")), Seq("neighbor_id"))
      .join(broadcast(qVecs), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__v"), col("__qv")).as("cosine")), k)
  }

  /** IVF-PQ top-k — the standard billion-scale composition of the two
    * index halves: coarse centroids partition the corpus into inverted
    * lists ([[ivfTopK]]'s role), and each row stores only the PQ codes
    * of its RESIDUAL (vector − its list centroid), which quantize far
    * tighter than raw vectors because residuals concentrate near zero.
    * Queries probe `nprobe` lists; within a probed list the ADC score
    * reconstructs `dot(q, c_list + recon(codes))` and
    * `|c_list + recon(codes)|²` from three lookup tables (query·codebook,
    * centroid·codebook, codebook norms — all tiny and driver-built), so
    * the scan still reads m bytes per row. The ADC shortlist re-ranks
    * exactly, like [[pqTopK]]. Rows-only gate + recall assertion in
    * SimilaritySpec (trained structures are engine-internal).
    */
  def ivfPqTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      dim: Int,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 3,
      rerank: Int = 8
  ): DataFrame = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val spark = corpus.sparkSession
    import spark.implicits._
    val subDim = dim / m

    // ONE bounded-sample collect trains BOTH halves of the index:
    // coarse centroids from the sample, then residual PQ codebooks
    // from the sample's own residuals (computed driver-side) — the
    // faiss training discipline, zero full-corpus training passes.
    val sample = trainSample(corpus, corpusId, corpusVec, dim)
    val coarse = lloydInMemory(sample, 0, dim, nlist, iters)
    val pq = pqTrainOnSample(
      sample.map(v => residual(v, coarse(nearestWhole(v, coarse)))),
      dim, m, ksub, iters)
    val bcCoarse = spark.sparkContext.broadcast(coarse)
    val bcPq = spark.sparkContext.broadcast(pq)

    // (id, list, codes) in ONE fused corpus pass: coarse-assign,
    // residual, and residual-encode per row, nothing materialized
    val codes = vectors(corpus, corpusId, corpusVec)
      .mapPartitions { rows =>
        val csr = bcCoarse.value
        val cb = bcPq.value
        rows.collect {
          case (id, v) if v != null =>
            requireDim("row", id, v, dim)
            val li = nearestWhole(v, csr)
            (id, li, encode(residual(v, csr(li)), cb))
        }
      }

    // driver-built lookup tables (all tiny):
    //   n2(s)(c)        = |cb(s)(c)|²
    //   cross(l)(s)(c)  = c_list(l)_sub(s) · cb(s)(c)
    //   cNorm2(l)       = |c_list(l)|²
    // sized by coarse.length, NOT nlist — trainCoarse returns fewer
    // centroids than requested on small corpora
    val n2 = pq.map(_.map(sumSq))
    val cross: Array[Array[Array[Double]]] =
      Array.tabulate(coarse.length, m, ksub) { (l, s, c) =>
        var d = 0.0
        var j = 0
        while (j < subDim) { d += coarse(l)(s * subDim + j) * pq(s)(c)(j); j += 1 }
        d
      }
    val cNorm2: Array[Double] = coarse.map(sumSq)

    // per query: norm, nprobe lists, q·c_list per list, and the
    // residual LUT q_sub·cb(s)(c) — ONE collect builds everything
    val qRaw = collectNormed(queries, queryId, queryVec)
    qRaw.foreach { case (id, v, _) => requireDim("query", id, v, dim) }
    val qData: Array[(Long, Double, Array[Double], Array[Array[Double]])] =
      qRaw.map { case (id, v, norm) =>
        (id, norm, coarse.map(dotWhole(v, _)), queryLut(v, pq))
      }
    val byList = byProbe(qRaw.map { case (_, v, _) =>
      nearestLists(v, coarse, nprobe) })
    val bcQ = spark.sparkContext.broadcast(qData)
    val bcIdx = spark.sparkContext.broadcast(byList)
    val bcN2 = spark.sparkContext.broadcast(n2)
    val bcCross = spark.sparkContext.broadcast(cross)
    val bcCN = spark.sparkContext.broadcast(cNorm2)

    val shortlist = codes
      .mapPartitions { rows =>
        val qs = bcQ.value
        val idx = bcIdx.value
        val nn2 = bcN2.value
        val cx = bcCross.value
        val cn = bcCN.value
        val top = new TopK(qs.map(_._1), k * rerank)
        rows.foreach { case (cid, li, cs) =>
          val qis = idx.getOrElse(li, null)
          if (qis != null) {
            // reconstructed norm² of this row — query-independent
            var vn = cn(li)
            var s = 0
            while (s < m) {
              vn += 2.0 * cx(li)(s)(cs(s)) + nn2(s)(cs(s))
              s += 1
            }
            val vNorm = math.sqrt(math.max(vn, 0.0))
            qis.foreach { qi =>
              val (qid, qNorm, qc, lut) = qs(qi)
              if (qid != cid)
                top.offer(qi, VectorKernels.cosine(
                  adcDot(qc(li), lut, cs), vNorm, qNorm), cid)
            }
          }
        }
        top.rows.map { case (qid, cid, _) => (qid, cid) }
      }
      .toDF("query_id", "neighbor_id")
    rerankExact(shortlist, corpus, corpusId, corpusVec, qRaw, k)
  }

  /** Symmetric int8 quantization of a float vector — the standard 4×
    * memory reduction for large ANN corpora: per-vector
    * `scale = max|v|/127`, `q_i = clip(floor(v_i/scale + 0.5), ±127)`.
    * `floor(x+0.5)` rather than `round` so Spark and DuckDB agree at
    * .5 boundaries (their `round` tie-break modes differ); every step
    * is IEEE-double-exact, so quantization is oracle-checkable.
    *
    * Returns (scale, weighted checksum Σ q_i·(i+1), min q, max q) —
    * the checksum is position-weighted so any reordering or off-by-one
    * breaks the hash compare.
    */
  val quantizeI8Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: scala.collection.Seq[Float]) =>
      val v = floats(a)
      var amax = 0.0
      var i = 0
      while (i < v.length) {
        val x = math.abs(v(i).toDouble)
        if (x > amax) amax = x
        i += 1
      }
      val scale = amax / 127.0
      var qsum = 0L
      var qmin = 0
      var qmax = 0
      i = 0
      while (i < v.length) {
        val q =
          if (scale == 0.0) 0
          else {
            val r = math.floor(v(i).toDouble / scale + 0.5).toInt
            math.max(-127, math.min(127, r))
          }
        qsum += q.toLong * (i + 1)
        if (q < qmin) qmin = q
        if (q > qmax) qmax = q
        i += 1
      }
      (scale, qsum, qmin, qmax)
    }

  /** Deterministic random hyperplanes for LSH bucketing. */
  private def hyperplanes(dim: Int, planes: Int,
      seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Bucket id from the hyperplane dots: bit p = sign(v · h_p). */
  private def bucketOf(dots: Array[Double]): Long = {
    var bucket = 0L
    var p = 0
    while (p < dots.length) {
      if (dots(p) >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Sign-random-projection bucket id (0 .. 2^planes-1) for a vector:
    * bit i = sign(v · h_i). Vectors in the same bucket are likely
    * cosine-close; with `planes` small the corpus shards into 2^planes
    * partitions that can be searched independently.
    *
    * One closure UDF computes all `planes` projections in a single pass
    * over the vector (the hyperplane matrix is captured driver-side and
    * ships with the task closure). The expression form — `planes`
    * interpreted `aggregate` folds per row — was the dominant cost of
    * the ANN query at sf0.1; the loop keeps the identical index-order
    * accumulation, so bucket assignments are unchanged.
    */
  def lshBucket(vec: Column, dim: Int, planes: Int = 8,
      seed: Long = 42L): Column = {
    val hs = hyperplanes(dim, planes, seed)
    val f = udf { (a: scala.collection.Seq[Float]) =>
      val xa = floats(a)
      bucketOf(hs.map(dotWhole(xa, _)))
    }
    f(vec)
  }

  /** ANN top-k: candidates restricted to the query's LSH bucket (plus all
    * hamming-1 neighbor buckets — multi-probe, which multiplies recall at
    * the cost of `planes` extra probe rows per QUERY, not per corpus row),
    * ranked by exact cosine within the probed buckets. Recall < 1 by
    * construction (asserted against the exact baseline in SimilaritySpec).
    */
  def annTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      dim: Int,
      k: Int,
      planes: Int = 8,
      seed: Long = 42L,
      multiProbe: Boolean = true
  ): DataFrame = {
    // queries are the broadcastable side by contract (same as the
    // brute-force path): collect, normalize, hash, and index by every
    // bucket they probe (own bucket + hamming-1 neighbors)
    val hs = hyperplanes(dim, planes, seed)
    val qs = collectNormed(queries, queryId, queryVec)
    // Query-directed multi-probe (Lv et al., VLDB 2007): beyond the own
    // bucket and every single-plane flip, also probe pair-flips of the
    // LEAST-CONFIDENT planes (smallest |dot| — the boundaries this query
    // sits closest to, where its true neighbors most likely fell on the
    // other side). All probe cost is per QUERY (more buckets in the
    // broadcast index); the corpus-side pass still hashes each row once.
    def probeMasks(dots: Array[Double]): Array[Long] =
      if (!multiProbe) Array(0L)
      else {
        val singles = Array.tabulate(planes)(i => 1L << i)
        val closest = dots.zipWithIndex
          .sortBy { case (d, i) => (math.abs(d), i) }
          .take(math.min(4, planes))
          .map(_._2)
        val pairs = for {
          a <- closest.indices.iterator
          b <- (a + 1) until closest.length
        } yield (1L << closest(a)) | (1L << closest(b))
        (0L +: singles) ++ pairs.toArray
      }
    // bucket → query indices; ~2^planes entries, each query in `probes`
    // lists — tiny next to the corpus. Distinct masks per query keep a
    // (query, neighbor) pair meeting once (one bucket per row), so no
    // dedup stage is needed.
    val byBucket = byProbe(qs.map { case (_, v, _) =>
      val dots = hs.map(dotWhole(v, _))
      val b0 = bucketOf(dots)
      probeMasks(dots).map(b0 ^ _)
    })
    exactTopK(vectors(corpus, corpusId, corpusVec), qs, k) { cv =>
      byBucket.getOrElse(bucketOf(hs.map(dotWhole(cv, _))),
        Array.emptyIntArray)
    }
  }
}
