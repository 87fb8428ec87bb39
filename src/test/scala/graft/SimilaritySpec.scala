package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpecBase {

  import spark.implicits._

  test("cosine: identical = 1, orthogonal = 0, opposite = -1") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), 1.0),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), 0.0),
      (Seq(1.0f, 0.0f), Seq(-1.0f, 0.0f), -1.0)
    ).toDF("a", "b", "expected")
    df.select(Similarity.cosine(col("a"), col("b")).as("c"), col("expected"))
      .collect()
      .foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
  }

  test("cosine fails fast on ragged vectors instead of truncating") {
    // silent min-length truncation would score wrong-but-plausible where
    // the oracle's list_cosine_similarity errors loudly
    val ragged = Seq((Seq(1.0f, 0.0f, 3.0f), Seq(1.0f, 0.0f)))
      .toDF("a", "b")
    assertDimMismatch {
      ragged.select(Similarity.cosine(col("a"), col("b"))).collect()
    }
  }

  test("bruteForceTopK fails fast on a ragged corpus vector") {
    // the same fold as the cosine expression, so the same rule: a short
    // vector must not score over a truncated prefix
    val corpus = Seq((1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = Seq((100L, Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    assertDimMismatch {
      Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 2).collect()
    }
  }

  /** Runs `body` and asserts it failed on the ragged-vector rule. */
  private def assertDimMismatch(body: => Unit): Unit = {
    val ex = intercept[Exception](body)
    assert(ex.getMessage.contains("dimension mismatch") ||
      Option(ex.getCause).exists(
        _.getMessage.contains("dimension mismatch")), ex.getMessage)
  }

  // Whole-vector list assignment and hyperplane hashing follow the same
  // rule as the cosine fold: a short row is never assigned or hashed by
  // its prefix, even when no query would go on to score it.
  private lazy val raggedCorpus = Seq(
    (1L, Seq(1.0f, 0.0f, 0.0f)),
    (2L, Seq(0.9f, 0.1f, 0.0f)),
    (3L, Seq(-1.0f, 0.0f))) // short, and far from the one query
    .toDF("vec_id", "embedding")
  private lazy val raggedQuery =
    Seq((100L, Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")

  test("IVF fails fast on a short corpus row in a list no query probes") {
    // by its prefix the short row is nearest to list 1; nprobe = 1
    // probes list 0 only
    val cents = Array(Array(1.0, 0.0, 0.0), Array(-1.0, 0.0, 0.0))
    assertDimMismatch {
      Similarity.ivfTopKWithCentroids(raggedCorpus, "vec_id", "embedding",
        raggedQuery, "vec_id", "embedding", k = 2, centroids = cents,
        nprobe = 1).collect()
    }
  }

  test("annTopK fails fast on a short corpus row in a bucket no query probes") {
    // the short row's prefix is the query negated, so every hyperplane
    // sign flips: it lands in the complement of the one probed bucket
    assertDimMismatch {
      Similarity.annTopK(raggedCorpus, "vec_id", "embedding", raggedQuery,
        "vec_id", "embedding", dim = 3, k = 2, planes = 4,
        multiProbe = false).collect()
    }
  }

  test("IVF fails fast on centroids of another dimension than the queries") {
    val corpus = raggedCorpus.filter(col("vec_id") =!= 3L)
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
    assertDimMismatch {
      Similarity.ivfTopKWithCentroids(corpus, "vec_id", "embedding",
        raggedQuery, "vec_id", "embedding", k = 2, centroids = cents,
        nprobe = 2).collect()
    }
  }

  test("cosinePairsAbove enforces its small-frame contract") {
    val df = spark.range(10)
      .select(col("id"), array(lit(1.0f), lit(0.0f)).as("vec"))
    // under the cap: works
    assert(Similarity.cosinePairsAbove(df, "id", "vec", 0.5).count() > 0)
    // over the cap: a clear error pointing at the scale paths, not an OOM
    val e = intercept[IllegalArgumentException] {
      Similarity.cosinePairsAbove(df, "id", "vec", 0.5, maxRows = 5)
    }
    assert(e.getMessage.contains("semanticDedup"))
    assert(e.getMessage.contains("annTopK"))
  }

  test("kmeansAssign labels every row with its nearest centroid") {
    val data = Seq(
      (10L, Seq(1.0f, 0.0f)),
      (11L, Seq(0.9f, 0.1f)),
      (12L, Seq(0.0f, 1.0f)),
      (13L, Seq(-0.1f, 0.9f)),
      (14L, Seq(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity
      .kmeansAssign(data, "vec_id", "embedding", cents, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(10L -> 0L, 11L -> 0L, 12L -> 1L, 13L -> 1L,
      14L -> 1L)) // (-1,0): cos -1 vs 0 → centroid 1
  }

  test("kmeansAssign breaks equal-cosine ties toward the lowest centroid id") {
    val data = Seq((20L, Seq(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val cents = Seq(
      (5L, Seq(1.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f)) // same cosine to (1,1); 3 < 5 must win
    ).toDF("vec_id", "embedding")
    val got = Similarity
      .kmeansAssign(data, "vec_id", "embedding", cents, "vec_id", "embedding")
      .collect()
    assert(got.head.getLong(1) === 3L)
  }

  test("kmeansAssign fails fast on dimension mismatches") {
    // a truncated dot product would be a wrong-but-plausible cosine;
    // the oracle (list_cosine_similarity) errors, so we must too
    val cents2 = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val data = Seq((10L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.kmeansAssign(data, "vec_id", "embedding", cents2,
        "vec_id", "embedding")
    }
    val cents = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val bad = Seq((10L, Seq(1.0f, 0.0f, 0.3f))).toDF("vec_id", "embedding")
    val ex = intercept[org.apache.spark.SparkException] {
      Similarity.kmeansAssign(bad, "vec_id", "embedding", cents,
        "vec_id", "embedding").collect()
    }
    assert(ex.getMessage.contains("dimension") ||
      Option(ex.getCause).exists(_.getMessage.contains("dimension")))
  }

  test("bruteForceTopK ranks nearest first with deterministic ties") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)),
      (4L, Seq(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = Seq((100L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity
      .bruteForceTopK(corpus, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 3)
      .orderBy("rank")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("annTopK results are a subset of valid neighbors, ranked correctly") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", emb, "vec_id",
        "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val ann = Similarity
      .annTopK(emb, "vec_id", "embedding", emb, "vec_id", "embedding",
        dim = 64, k = 5, planes = 4)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (ann & exact).size.toDouble / exact.size
    assert(recall > 0.3, s"ANN recall@5 too low: $recall")
    info(s"ANN recall@5 vs exact baseline: $recall")
  }

  test("exhaustive probing equals brute force exactly (q171/q172 contract)") {
    // nprobe == nlist (IVF) and planes=2 full multi-probe (LSH) leave
    // no bucket unscanned, so both index paths must reproduce the exact
    // ranking INCLUDING tie-breaks — list assignment, probe routing,
    // heap merge and final ranking are all on the hook, independent of
    // what the trained centroids/hyperplanes look like
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", emb, "vec_id",
        "embedding", k = 5)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ivfAll = Similarity
      .ivfTopK(emb, "vec_id", "embedding", emb, "vec_id", "embedding",
        dim = 64, k = 5, nlist = 16, nprobe = 16)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivfAll === exact)
    val lshAll = Similarity
      .annTopK(emb, "vec_id", "embedding", emb, "vec_id", "embedding",
        dim = 64, k = 5, planes = 2)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(lshAll === exact)
    // PQ / IVF-PQ (q174/q175 contract): shortlist covering the corpus
    // ⇒ the exact re-rank must reproduce brute force, independent of
    // codebook quality
    val n = emb.count()
    val pqAll = Similarity
      .pqTopK(emb, "vec_id", "embedding", emb, "vec_id", "embedding",
        dim = 64, k = 5, m = 8, ksub = 16,
        rerank = ((n + 4) / 5).toInt + 1)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pqAll === exact)
    val ivfPqAll = Similarity
      .ivfPqTopK(emb, "vec_id", "embedding", emb, "vec_id", "embedding",
        dim = 64, k = 5, nlist = 16, nprobe = 16, m = 8, ksub = 16,
        rerank = ((n + 4) / 5).toInt + 1)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivfPqAll === exact)
  }

  test("IVF top-k recall against the exact baseline") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", emb, "vec_id",
        "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // same parameters q39 ships with — the pinned recall is the
    // shipped configuration's
    val ivf = Similarity
      .ivfTopK(emb, "vec_id", "embedding", emb, "vec_id", "embedding",
        dim = 64, k = 5, nlist = 16, nprobe = 6)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall > 0.6, s"IVF recall@5 too low: $recall")
    info(s"IVF recall@5 vs exact baseline: $recall")
  }

  test("PQ top-k recall against the exact baseline; codes are m small ints") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", emb, "vec_id",
        "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // same parameters q73 ships with (64-wide codebooks)
    val pq = Similarity
      .pqTopK(emb, "vec_id", "embedding", emb, "vec_id", "embedding",
        dim = 64, k = 5, m = 8, ksub = 64)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (pq & exact).size.toDouble / exact.size
    assert(recall > 0.75, s"PQ recall@5 too low: $recall")
    info(s"PQ recall@5 vs exact baseline: $recall")
    // the encoded form really is m codes in [0, ksub)
    val books = Similarity.pqTrain(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16, iters = 2)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      .collect()
    assert(codes.length === emb.count())
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length === 8)
      assert(cs.forall(c => c >= 0 && c < 16))
    }
  }

  test("IVF-PQ top-k recall against the exact baseline") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", emb, "vec_id",
        "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // same parameters q79 ships with
    val ivfpq = Similarity
      .ivfPqTopK(emb, "vec_id", "embedding", emb, "vec_id", "embedding",
        dim = 64, k = 5, nlist = 16, nprobe = 6, m = 8, ksub = 64)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (ivfpq & exact).size.toDouble / exact.size
    assert(recall > 0.65, s"IVF-PQ recall@5 too low: $recall")
    info(s"IVF-PQ recall@5 vs exact baseline: $recall")
  }

  test("IVF-PQ handles a corpus smaller than nlist") {
    // trainCoarse returns fewer centroids than requested on tiny
    // corpora; the LUTs must size by the actual count, not nlist
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(20)
    val got = Similarity
      .ivfPqTopK(emb, "vec_id", "embedding", emb.limit(3), "vec_id",
        "embedding", dim = 64, k = 3, nlist = 64, nprobe = 8, m = 8,
        ksub = 16)
      .collect()
    assert(got.nonEmpty)
    assert(got.map(_.getLong(0)).distinct.length === 3)
  }

  test("int8 quantization: codes in range, reconstruction error ≤ scale/2") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector → scale 0
      (3L, Array(100.0f, -50.0f, 1.0f, 0.001f))
    ).toDF("vec_id", "embedding")
    val rows = vecs
      .select(col("vec_id"), Similarity.quantizeI8Udf(col("embedding")).as("q"))
      .select(col("vec_id"), col("q._1").as("scale"), col("q._3").as("qmin"),
        col("q._4").as("qmax"))
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2), r.getInt(3)))
      .toMap
    assert(rows(2) === ((0.0, 0, 0)))
    assert(rows(1)._1 === 1.0 / 127.0)
    assert(rows(1)._2 === -127 && rows(1)._3 === 64) // -1.0→-127, 0.5→64
    assert(rows(3)._2 >= -127 && rows(3)._3 <= 127)
    // reconstruction error bound on the non-saturated vector
    val v = Array(0.5, -1.0, 0.25, 0.0)
    val scale = rows(1)._1
    val codes = v.map(x => math.max(-127,
      math.min(127, math.floor(x / scale + 0.5).toInt)))
    v.zip(codes).foreach { case (x, q) =>
      assert(math.abs(x - q * scale) <= scale / 2 + 1e-12)
    }
  }

  test("lshBucket is deterministic and within range") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val buckets = emb
      .select(Similarity.lshBucket(col("embedding"), 64, planes = 6).as("b"))
      .distinct()
      .collect()
      .map(_.getLong(0))
    assert(buckets.forall(b => b >= 0 && b < 64))
    assert(buckets.length > 1, "all vectors hashed to one bucket")
  }

  test("cosine yields NULL on null array elements, like the oracle") {
    val df = Seq(
      (1L, Seq[java.lang.Float](1.0f, null), Seq[java.lang.Float](1.0f, 0.0f)),
      (2L, Seq[java.lang.Float](1.0f, 0.0f), Seq[java.lang.Float](1.0f, 0.0f))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"),
      Similarity.cosine(col("a"), col("b")).as("c")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getDouble(1)))).toMap
    assert(out(1L) === None) // null element → NULL, not a silent 0.0
    assert(out(2L) === Some(1.0))
  }

  test("semanticDedup: cluster-scoped keep-lowest verdicts") {
    val data = Seq(
      // cluster 1: 10 and 11 nearly parallel (dup), 12 orthogonal
      (10L, Seq(1.0f, 0.0f), 1),
      (11L, Seq(0.99f, 0.01f), 1),
      (12L, Seq(0.0f, 1.0f), 1),
      // cluster 2: identical direction to 10, but OTHER cluster —
      // must not be called a duplicate (the cluster scoping under test)
      (20L, Seq(1.0f, 0.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity
      .semanticDedup(data, "vec_id", "embedding", "label", tau = 0.9)
      .collect()
      .map(r => r.getLong(0) -> r.getBoolean(2))
      .toMap
    assert(out === Map(10L -> false, 11L -> true, 12L -> false,
      20L -> false))
  }
}
