package graft

import graft.functions.Vectors
import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // Tiny corpus with known cosine geometry: q=vec 0 along x-axis;
  // 1 is nearly parallel, 2 at 45 degrees, 3 orthogonal, 4 opposite.
  private val embs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.99f, 0.1f, 0.0f, 0.0f), 0),
    (2L, Array(1.0f, 1.0f, 0.0f, 0.0f), 0),
    (3L, Array(0.0f, 0.0f, 1.0f, 0.0f), 1),
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1),
  ).toDF("vec_id", "embedding", "label")

  test("vector math: dot, norm, cosine") {
    val r = embs.filter($"vec_id" === 2L)
      .select(
        Vectors.dot(Vectors.toDoubleVec($"embedding"),
          Vectors.toDoubleVec($"embedding")).as("d"),
        Vectors.cosine(Vectors.toDoubleVec($"embedding"),
          Vectors.toDoubleVec($"embedding")).as("c"))
      .as[(Double, Double)].head()
    assert(math.abs(r._1 - 2.0) < 1e-9)
    assert(math.abs(r._2 - 1.0) < 1e-9)
  }

  test("hybrid RRF fuses the bm25 and dense legs with exact arithmetic") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val terms = Seq("spark", "window", "scan")
    val fused = Similarity.hybridRrf(corpus, vecs, terms,
      col("vec_id") === 0, k = 20, n = 50)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(fused.nonEmpty && fused.size <= 20)
    // recompute both legs independently and verify every fused row
    val lex = graft.operators.CorpusOps.bm25(corpus, terms, k = 50)
      .as[(Long, Double)].collect()
      .sortBy { case (id, sc) => (-sc, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val dense = Similarity.bruteForceTopK(vecs, col("vec_id") === 0, k = 50)
      .select("vec_id", "rank").as[(Long, Long)].collect().toMap
    fused.foreach { case (id, lr, vr, rrf) =>
      assert(lr == lex.getOrElse(id, 0L), s"lex rank mismatch for $id")
      assert(vr == dense.getOrElse(id, 0L), s"dense rank mismatch for $id")
      val want = (if (lr > 0) 1.0 / (60 + lr) else 0.0) +
        (if (vr > 0) 1.0 / (60 + vr) else 0.0)
      assert(math.abs(rrf - want) < 5e-7, s"rrf mismatch for $id")
      assert(lr > 0 || vr > 0, "a fused doc must appear in >= 1 leg")
    }
    // the output IS the global top-k of the fused score over both legs
    val allIds = (lex.keySet ++ dense.keySet).toSeq
    val want = allIds.map { id =>
      val lr = lex.getOrElse(id, 0L); val vr = dense.getOrElse(id, 0L)
      val s = (if (lr > 0) 1.0 / (60 + lr) else 0.0) +
        (if (vr > 0) 1.0 / (60 + vr) else 0.0)
      (id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP))
    }.sortBy { case (id, s) => (-s, id) }.take(20).map(_._1).sorted
    assert(fused.map(_._1).sorted.toSeq == want.toSeq)
  }

  test("brute-force top-k returns exact ranking for a known geometry") {
    val got = Similarity.bruteForceTopK(embs, col("vec_id") === 0L, k = 3)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(got.map(_._2) == Seq(1L, 2L, 3L)) // by descending cosine
    assert(got.map(_._4) == Seq(1L, 2L, 3L)) // ranks are 1..k
    assert(got(0)._3 > 0.99 && math.abs(got(1)._3 - 0.7071) < 1e-3)
    assert(math.abs(got(2)._3) < 1e-9) // orthogonal
  }

  test("hardNegatives: same-label neighbors excluded even when nearest") {
    // anchor 0 (label 0): vecs 1 and 2 are the closest by cosine but
    // share its label — the miner must skip them and rank the
    // different-label 3 (orthogonal) above 4 (opposite)
    val got = Similarity.hardNegatives(embs, col("vec_id") === 0L, k = 2)
      .as[(Long, Int, Long, Int, Double, Long)].collect().toSeq
    assert(got.map(_._3) == Seq(3L, 4L))
    assert(got.map(_._6) == Seq(1L, 2L))
    assert(got.forall { case (_, ql, _, l, _, _) => ql != l })
    assert(math.abs(got(0)._5) < 1e-9 && math.abs(got(1)._5 + 1.0) < 1e-9)
  }

  test("hardNegatives on sf0.001: labels differ, anchors broadcast") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val r = Similarity.hardNegatives(e, col("vec_id") < 5, k = 10)
    assert(r.filter(col("q_label") === col("label")).isEmpty)
    assert(r.groupBy("query_id").count()
      .filter(col("count") =!= 10).isEmpty)
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"))
  }

  test("semanticDecontaminate: flags exactly the near-bench vectors") {
    // bench = vec 1 (nearly parallel to 0). cos(0,1) ~ 0.995 >= 0.9
    // flags vec 0; vec 2 (~0.775), 3 (0), 4 (-0.995) stay clean.
    val got = Similarity.semanticDecontaminate(embs,
      col("vec_id") === 1L, minCos = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((0L, 1L)))
    assert(math.abs(got(0)._3 - 0.995) < 1e-3)
  }

  test("semanticDecontaminate == Scala brute force on the planted " +
    "sf0.001 corpus; bench broadcasts") {
    // the harness regime: base embeddings are near-orthogonal, so the
    // contaminants are the planted near-dups of bench-slice vectors
    val planted = graft.operators.Dedup.plantNearDups(
      spark.read.parquet(s"$sfDir/embeddings.parquet"))
    val vecs = planted.select(col("vec_id"),
      col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.toArray }
    def cosv(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val bench = vecs.filter(_._1 % 97 == 0)
    val want = (for {
      (id, v) <- vecs if id % 97 != 0
      hits = bench.map(b => r4(cosv(v, b._2))).filter(_ >= 0.9)
      if hits.nonEmpty
    } yield (id, hits.length.toLong, hits.max)).sortBy(_._1).toSeq
    assert(want.nonEmpty) // the planted contamination is really there
    val q = Similarity.semanticDecontaminate(planted,
      pmod(col("vec_id"), lit(97)) === 0, minCos = 0.9)
    assert(q.as[(Long, Long, Double)].collect().toSeq == want)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"))
  }

  test("brute-force on sf0.001: k rows per query, self excluded") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val got = Similarity.bruteForceTopK(e, col("vec_id") < 5, k = 10)
    val perQuery = got.groupBy("query_id").count().as[(Long, Long)].collect()
    assert(perQuery.length == 5 && perQuery.forall(_._2 == 10L))
    assert(got.filter($"query_id" === $"vec_id").count() == 0)
  }

  test("LSH top-k: cosines match exact scoring; recall vs brute force is high") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(e, col("vec_id") < 5, k = 10)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val lsh = Similarity.lshTopK(e, col("vec_id") < 5, k = 10)
      .as[(Long, Long, Double, Long)].collect().toSeq
    // every LSH-scored pair carries the same (exactly computed) cosine
    lsh.foreach { case (q, v, c, _) =>
      exact.get((q, v)).foreach(ec => assert(math.abs(ec - c) < 1e-9))
    }
    val hit = lsh.count { case (q, v, _, _) => exact.contains((q, v)) }
    assert(hit >= (exact.size * 0.5).toInt,
      s"LSH recall too low: $hit of ${exact.size}")
  }

  test("IVF top-k: exact cosines, self excluded, useful recall") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(e, col("vec_id") < 5, k = 10)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val ivf = Similarity.ivfTopK(e, col("vec_id") < 5, k = 10)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(ivf.nonEmpty)
    assert(ivf.forall { case (q, v, _, _) => q != v })
    ivf.foreach { case (q, v, c, _) =>
      exact.get((q, v)).foreach(ec => assert(math.abs(ec - c) < 1e-9))
    }
    val hit = ivf.count { case (q, v, _, _) => exact.contains((q, v)) }
    assert(hit >= (exact.size * 0.4).toInt,
      s"IVF recall too low: $hit of ${exact.size}")
  }

  test("PQ top-k: exact re-ranked cosines, self excluded, useful recall") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(e, col("vec_id") < 5, k = 10)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val pq = Similarity.pqTopK(e, col("vec_id") < 5, k = 10)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(pq.nonEmpty)
    assert(pq.forall { case (q, v, _, _) => q != v })
    // re-ranking computes TRUE cosines — wherever PQ picked a true
    // top-k pair, its reported cosine must equal the brute-force one
    pq.foreach { case (q, v, c, _) =>
      exact.get((q, v)).foreach(ec => assert(math.abs(ec - c) < 1e-9))
    }
    val hit = pq.count { case (q, v, _, _) => exact.contains((q, v)) }
    assert(hit >= (exact.size * 0.5).toInt,
      s"PQ recall too low: $hit of ${exact.size}")
  }

  test("PQ codes are m bounded ints; encoding is partition-invariant") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), Vectors.toDoubleVec(col("embedding")).as("v"))
    val cbs = Similarity.pqCodebooks(e, m = 8, k = 16, dim = 64)
    assert(cbs.length == 8 && cbs.forall(_.length == 16) &&
      cbs.forall(_.forall(_.length == 8)))
    val c1 = Similarity.pqEncode(e, cbs)
      .as[(Long, Seq[Int], Double)].collect()
      .map { case (k2, v2, n2) => k2 -> ((v2, n2)) }.toMap // vec_id unique
    val c2 = Similarity.pqEncode(e.repartition(7), cbs)
      .as[(Long, Seq[Int], Double)].collect()
      .map { case (k2, v2, n2) => k2 -> ((v2, n2)) }.toMap
    assert(c1 == c2)
    assert(c1.values.forall { case (codes, _) =>
      codes.length == 8 && codes.forall(c => c >= 0 && c < 16) })
  }

  test("labelCohesion: sum identity equals brute-force pairwise mean cosine") {
    val got = Similarity.labelCohesion(embs)
      .as[(Int, Long, Double)].collect().map(r => r._1 -> r).toMap
    // brute force per label on the driver
    val byLabel = embs.as[(Long, Array[Float], Int)].collect()
      .groupBy(_._3).view.mapValues(_.map(_._2.map(_.toDouble))).toMap
    byLabel.foreach { case (label, vs) =>
      val us = vs.map { v =>
        val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
      }
      if (us.length >= 2) {
        val pairs = for {
          i <- us.indices; j <- us.indices if i < j
        } yield us(i).zip(us(j)).map { case (a, b) => a * b }.sum
        val want = pairs.sum * 2 / (us.length.toDouble * (us.length - 1))
        val g = got(label)
        assert(g._2 == us.length)
        assert(math.abs(g._3 - want) < 1e-3, s"label $label: ${g._3} vs $want")
      } else assert(!got.contains(label)) // undefined for singletons
    }
    // corpus sanity at sf0.001: runs, and every label has >= 2 vectors
    val corpus = Similarity.labelCohesion(
      spark.read.parquet(s"$sfDir/embeddings.parquet"))
      .as[(Int, Long, Double)].collect()
    assert(corpus.nonEmpty && corpus.forall(r => r._3 >= -1.0 && r._3 <= 1.0))
  }

  test("PqCodes kernel == composed slice+dot encoding, incl. ragged codebooks") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), Vectors.toDoubleVec(col("embedding")).as("v"))
    val cbs = Similarity.pqCodebooks(e, m = 8, k = 16, dim = 64)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[Int], Double)].collect().sortBy(_._1).toSeq
    assert(rows(Similarity.pqEncode(e, cbs)) ==
      rows(Similarity.pqEncodeComposed(e, cbs)))
    // ragged: subspaces with different centroid counts — the kernel
    // pads internally, the composed form stays ragged; codes must
    // still agree (padding ties resolve to the first centroid)
    val ragged = cbs.zipWithIndex.map { case (cb, i) => cb.take(4 + i) }
    assert(rows(Similarity.pqEncode(e, ragged)) ==
      rows(Similarity.pqEncodeComposed(e, ragged)))
  }

  test("PQ with a perfect codebook reproduces brute force exactly") {
    // when every corpus subvector IS a codebook centroid, ADC scores
    // are the true dots — candidate choice loses nothing, so top-k
    // equals brute force row for row (refine=1: no slack). Dense
    // deterministic values keep all pairwise cosines well separated,
    // so the ADC sum's different addition association (m subspace
    // partials vs one dim-long fold) cannot reorder anything.
    val dim = 8
    val vecs = (0 until 20).map { i =>
      val a = Array.tabulate(dim)(j =>
        (((i * 31 + j * 17) % 13) - 6) / 7.0f + 0.01f * (j + 1))
      (i.toLong, a)
    }
    val e = vecs.toDF("vec_id", "embedding")
    // codebook = exactly the subvectors present, per subspace (k = 20)
    val all = vecs.map(_._2.map(_.toDouble))
    val cbs = Array.tabulate(4) { mi =>
      all.map(_.slice(mi * 2, mi * 2 + 2)).distinct.toArray
    }
    val got = Similarity.pqTopK(e, col("vec_id") < 3, k = 5,
      m = 4, refine = 1, dim = dim, codebooks = Some(cbs))
      .as[(Long, Long, Double, Long)].collect().toSeq
    val want = Similarity.bruteForceTopK(e, col("vec_id") < 3, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(got == want)
  }

  test("IVF-PQ with a zero coarse quantizer and a perfect residual " +
      "codebook reproduces brute force exactly") {
    // one cell at the origin: residual = v and the q·c term = 0, so
    // IVFADC degenerates to plain ADC; a perfect residual codebook
    // (every subvector IS a centroid) then makes approx scores the
    // true dots — the composition's plumbing (cell join, residual
    // encode, hoisted q·c, LUT fold, rerank) must lose nothing
    val dim = 8
    val vecs = (0 until 20).map { i =>
      val a = Array.tabulate(dim)(j =>
        (((i * 31 + j * 17) % 13) - 6) / 7.0f + 0.01f * (j + 1))
      (i.toLong, a)
    }
    val e = vecs.toDF("vec_id", "embedding")
    val all = vecs.map(_._2.map(_.toDouble))
    val cbs = Array.tabulate(4) { mi =>
      all.map(_.slice(mi * 2, mi * 2 + 2)).distinct.toArray
    }
    val got = Similarity.ivfPqTopK(e, col("vec_id") < 3, k = 5,
      nCells = 1, nProbe = 1, m = 4, refine = 1, dim = dim,
      centroids = Some(Array(Array.fill(dim)(0.0))),
      codebooks = Some(cbs))
      .as[(Long, Long, Double, Long)].collect().toSeq
    val want = Similarity.bruteForceTopK(e, col("vec_id") < 3, k = 5)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(got == want)
  }

  test("IVF centroids: k-means seeding recovers clusters where first-N fails") {
    // Two tight clusters whose ids correlate with geometry (the ingest-
    // order hazard): ids 0-11 hug the x-axis, ids 12-23 the y-axis,
    // with a ±0.001 dim-3 jitter that is COSINE-IRRELEVANT inside a
    // cluster (cos ≈ 1 either way) but decides the argmax between the
    // near-identical all-cluster-A centroids that first-N seeding
    // produces — so cluster B splits across cells and a B query probing
    // its top cell misses the even-jitter half of its true neighbors.
    def jit(i: Long): Float = if (i % 2 == 0) 0.001f else -0.001f
    val a = (0L to 11L).map(i => (i, Array(1.0f, 0.0f, jit(i), 0.0f)))
    val b = (12L to 23L).map(j => (j, Array(0.0f, 1.0f, jit(j), 0.0f)))
    val clustered = (a ++ b).toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(clustered, col("vec_id") === 23L, k = 8)
      .as[(Long, Long, Double, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(exact.size == 8)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    // the OLD seeding: first nCells vectors by id — all from cluster A
    val firstN = a.take(2).map(t => unit(t._2.map(_.toDouble))).toArray
    val gotFirstN = Similarity.ivfTopK(clustered, col("vec_id") === 23L,
        k = 8, nCells = 2, nProbe = 1, centroids = Some(firstN))
      .as[(Long, Long, Double, Long)].collect().map(r => (r._1, r._2)).toSet
    val hitFirstN = gotFirstN.count(exact.contains)
    assert(hitFirstN < exact.size,
      s"first-N centroids unexpectedly reached full recall ($hitFirstN/8)")
    // the NEW default: hash-sampled seeds + 2 spherical k-means rounds
    // pull one centroid into each cluster -> full recall at nProbe=1
    val gotKmeans = Similarity.ivfTopK(clustered, col("vec_id") === 23L,
        k = 8, nCells = 2, nProbe = 1)
      .as[(Long, Long, Double, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(gotKmeans.count(exact.contains) == exact.size,
      s"k-means centroids recall ${gotKmeans.count(exact.contains)}/8")
  }

  test("IVF centroids: duplicate-direction sample stops seeding, not degenerate") {
    // Every vector shares ONE direction (scaled copies — cosine 1 to
    // each other). The old farthest-point loop never excluded chosen
    // seeds, so minBy re-picked sample(0) forever and returned nCells
    // IDENTICAL centroids — a silently degenerate index. Now seeding
    // stops when every remaining candidate duplicates a seed direction:
    // one honest cell, and queries still resolve exactly.
    val dup = (0L to 15L).map(i =>
      (i, Array((i + 1).toFloat, (i + 1).toFloat, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val e = dup.select(col("vec_id"), Vectors.toDoubleVec(col("embedding")).as("v"))
    val cents = Similarity.ivfCentroids(e, nCells = 4)
    assert(cents.length == 1,
      s"one distinct direction must yield one centroid, got ${cents.length}")
    // and a mixed-geometry sample still fills distinct cells
    val mixed = (dup.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .toSeq :+ (99L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val e2 = mixed.select(col("vec_id"), Vectors.toDoubleVec(col("embedding")).as("v"))
    assert(Similarity.ivfCentroids(e2, nCells = 4).length == 2)
    // end-to-end: the one-cell index answers queries exactly
    val got = Similarity.ivfTopK(dup, col("vec_id") === 0L, k = 3)
      .as[(Long, Long, Double, Long)].collect()
    assert(got.length == 3 && got.forall(r => math.abs(r._3 - 1.0) < 1e-9))
  }

  test("SRP bucket is deterministic and within [0, 2^nPlanes)") {
    val planes = Similarity.hyperplanes(nPlanes = 8, dim = 4)
    val b = embs.select(
      Vectors.srpBucket(Vectors.toDoubleVec($"embedding"), planes).as("b"))
      .as[Int].collect().toSeq
    assert(b.forall(x => x >= 0 && x < 256))
    val b2 = embs.select(
      Vectors.srpBucket(Vectors.toDoubleVec($"embedding"),
        Similarity.hyperplanes(8, 4)).as("b")).as[Int].collect().toSeq
    assert(b == b2)
  }

  test("srpBucketsAll kernel == per-table srpBucket columns (codegen path)") {
    // production-shaped table count so the comparison exercises the
    // regime where the composition's generated code blows past the JIT
    val tables = (0 until 12).map(t => Similarity.hyperplanes(6, 4, 7L + t))
    val v = Vectors.toDoubleVec($"embedding")
    val viaKernel = embs.select($"vec_id",
      Vectors.srpBucketsAll(v, tables).as("bs"))
    val viaComposed = embs.select($"vec_id",
      array(tables.map(p => Vectors.srpBucket(v, p)): _*).as("bs"))
    assert(viaKernel.exceptAll(viaComposed).isEmpty &&
      viaComposed.exceptAll(viaKernel).isEmpty)
  }

  test("int8 quantization: codes in range, reconstruction within half-step") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = Similarity.int8Quantize(corpus)
      .as[(Long, Double, Array[Int])].collect()
    assert(q.nonEmpty)
    val orig = corpus.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    q.foreach { case (id, scale, codes) =>
      assert(codes.forall(c => c >= -127 && c <= 127), s"vec $id range")
      val v = orig(id)
      assert(scale == v.map(x => math.abs(x.toDouble)).max, s"vec $id scale")
      // reconstruction error bound: half a quantization step + ulps
      codes.zip(v).foreach { case (c, x) =>
        assert(math.abs(c * scale / 127 - x) <= scale / 254 + 1e-9,
          s"vec $id: code $c vs $x")
      }
    }
    // zero vector: zero codes, no NaN poisoning
    val z = Similarity.int8Quantize(
      Seq((9L, Array(0.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label"))
      .as[(Long, Double, Array[Int])].head()
    assert(z._2 == 0.0 && z._3.toSeq == Seq(0, 0))
  }

  test("int8-reconstructed brute force keeps >= 90% top-10 recall") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = col("vec_id") < 20
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recon = Similarity.bruteForceTopK(
      Similarity.int8Reconstruct(corpus), queries, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (qid, want) =>
      recon(qid).intersect(want).size.toDouble / want.size }
    assert(recalls.sum / recalls.size >= 0.9,
      s"mean recall ${recalls.sum / recalls.size}")
  }

  test("binary quantization: packed popcount-of-xor == sign " +
      "disagreement; hamming candidates feed the exact rerank") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val raw = corpus.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def signDisagree(a: Array[Float], b: Array[Float]): Long =
      a.zip(b).count { case (x, y) => (x >= 0) != (y >= 0) }.toLong
    // the packed-words XOR path must equal the float-level count for
    // EVERY emitted row — this is what lets the oracle skip packing
    val got = Similarity.hammingTopK(corpus, col("vec_id") < 5,
      k = 10, m = 50)
      .select("query_id", "vec_id", "hamming", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.size == 50)
    got.foreach { case (q, v, h, _) =>
      assert(h == signDisagree(raw(q), raw(v)),
        s"hamming mismatch for ($q, $v)")
    }
    // the k survivors are exactly the cosine top-k of the hamming
    // top-m candidate set (witnessed in plain Scala)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      d / (math.sqrt(ad.map(x => x * x).sum) *
        math.sqrt(bd.map(x => x * x).sum))
    }
    for (q <- 0L until 5L) {
      val cand = raw.keys.filter(_ != q).toSeq
        .map(v => (v, signDisagree(raw(q), raw(v))))
        .sortBy { case (v, h) => (h, v) }.take(50).map(_._1)
      val want = cand.map(v => (v, cos(raw(q), raw(v))))
        .sortBy { case (v, c) => (-c, v) }.take(10).map(_._1)
      val gotQ = got.filter(_._1 == q).sortBy(_._4).map(_._2)
      assert(gotQ == want, s"rerank order diverged for query $q")
    }
    // and the packed representation itself: n_pos == positive signs
    val bq = Similarity.binaryQuantizeQuery(corpus)
      .as[(Long, String, Long)].collect()
    bq.foreach { case (v, _, nPos) =>
      assert(nPos == raw(v).count(_ >= 0), s"n_pos wrong for $v")
    }
  }

  test("mrl RBO: identical lists score exactly 1 - p^k in the E12 " +
      "quantization; every truncation scores at most that") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // regenerate the operator's own suffix-sum table (same repeated-
    // multiplication arithmetic) for the witness
    val k = 10
    val pws = new Array[Double](k + 1)
    var pw = 1.0
    for (d <- 1 to k) { pws(d) = pw; pw *= 0.9 }
    val s = new Array[Double](k + 2)
    for (d <- k to 1 by -1) s(d) = s(d + 1) + pws(d) / d
    val sE12 = s.map(x => math.floor(x * 1e12 + 0.5).toLong)
    val perfect = (1 to k).map(sE12).sum / 10 // identical lists
    // the d=64 tier ranks with the identical cosine -> identical
    // lists -> all 20 queries exactly `perfect`, n_common = 10
    val at64 = Similarity.mrlRbo(corpus, dims = Seq(64),
      col("vec_id") < 20, k = k)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(at64.size == 20 && at64.forall { case (_, _, n, r) =>
      n == 10L && r == perfect })
    // sanity: E12-perfect tracks the closed form 1 - 0.9^10
    assert(math.abs(perfect / 1e12 - (1 - math.pow(0.9, 10))) < 1e-9)
    // truncations can only lose top-weighted agreement
    val multi = Similarity.mrlRbo(corpus, dims = Seq(4, 16),
      col("vec_id") < 20, k = k)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(multi.nonEmpty &&
      multi.forall { case (_, _, _, r) => r <= perfect })
  }

  test("injected-plane LSH: closed-form sign buckets == Scala " +
      "witness; the bucket cut actually binds") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val raw = corpus.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def bucket(v: Array[Float]): Int =
      (0 until 4).map(j => if (v(j) > 0) 1 << j else 0).sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val got = Similarity.lshTopK(corpus, col("vec_id") < 5, k = 10,
      probeHamming = 1,
      planes = Some(Seq(Seq.tabulate(4)(j =>
        Seq.tabulate(64)(i => if (i == j) 1.0 else 0.0)))))
      .select("query_id", "vec_id", "rank")
      .as[(Long, Long, Long)].collect().toSeq
    for (q <- 0L until 5L) {
      val qb = bucket(raw(q))
      val probes = Set(qb, qb ^ 1, qb ^ 2, qb ^ 4, qb ^ 8)
      val cand = raw.keys
        .filter(v => v != q && probes.contains(bucket(raw(v)))).toSeq
      val want = cand.map(v => (v, cos(raw(q), raw(v))))
        .sortBy { case (v, c) => (-c, v) }.take(10).map(_._1)
      assert(got.filter(_._1 == q).sortBy(_._3).map(_._2) == want,
        s"query $q diverged from the sign-bucket witness")
      assert(cand.size < raw.size - 1,
        s"the bucket cut must exclude someone for query $q")
    }
  }

  test("injected ±e1-codebook PQ: sign codes + ADC refine == Scala " +
      "witness; the refine cut actually binds") {
    // the harness regime (q_ann_pq_injected): code bit m = sign of
    // v[8m], ADC approx dot = sum of ±q[8m], top refine·k by approx
    // (vec_id tie-break) rerank by exact cosine
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val raw = corpus.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
      .map { case (k, v) => k -> v.map(_.toDouble) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    def nrm(a: Array[Double]): Double = math.sqrt(a.map(x => x * x).sum)
    val cbs = Array.tabulate(8)(_ => Array(
      Array.tabulate(8)(j => if (j == 0) -1.0 else 0.0),
      Array.tabulate(8)(j => if (j == 0) 1.0 else 0.0)))
    val got = Similarity.pqTopK(corpus, col("vec_id") < 5, k = 10,
        m = 8, refine = 4, dim = 64, codebooks = Some(cbs))
      .select("query_id", "vec_id", "rank")
      .as[(Long, Long, Long)].collect().toSeq
    for (q <- 0L until 5L) {
      val qv = raw(q)
      val approx = raw.toSeq.collect { case (v, vv) if v != q =>
        val adc = (0 until 8).map(mi =>
          if (vv(8 * mi) > 0) qv(8 * mi) else -qv(8 * mi)).sum
        (v, adc / (nrm(qv) * nrm(vv)))
      }
      val cut = approx.sortBy { case (v, a) => (-a, v) }.take(40).map(_._1)
      val want = cut.map(v => (v, cos(qv, raw(v))))
        .sortBy { case (v, c) => (-c, v) }.take(10).map(_._1)
      assert(got.filter(_._1 == q).sortBy(_._3).map(_._2) == want,
        s"query $q diverged from the sign-code witness")
      // with 8 sign bits the refine set differs from exact top-40 by
      // construction somewhere across the 5 queries (checked below)
    }
    // the approximation binds: at least one query's final top-10
    // differs from brute force (else the oracle checks nothing
    // approximate)
    val brute = Similarity.bruteForceTopK(corpus, col("vec_id") < 5,
        k = 10).select("query_id", "vec_id", "rank")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.toSet != brute.toSet,
      "injected-PQ regime unexpectedly equals brute force — the " +
        "refine machinery is not being exercised")
  }

  test("mrl: a truncation at the full dimension is a perfect recall; " +
      "shorter prefixes degrade monotonically on average") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // dim 64 vectors: the d=64 tier ranks with the IDENTICAL cosine,
    // so recall@k must be exactly 10000 bp for every query
    val at64 = Similarity.mrlRecall(corpus, dims = Seq(64),
      col("vec_id") < 20, k = 10)
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(at64.nonEmpty && at64.forall { case (_, _, o, bp) =>
      o == 10L && bp == 10000L })
    val multi = Similarity.mrlRecall(corpus, dims = Seq(4, 16, 64),
      col("vec_id") < 20, k = 10)
      .as[(Int, Long, Long, Long)].collect().toSeq
    def mean(d: Int): Double = {
      val xs = multi.filter(_._1 == d).map(_._4)
      xs.sum.toDouble / xs.size
    }
    assert(mean(4) <= mean(16) && mean(16) <= mean(64),
      s"recall should not improve as dims shrink: " +
        s"${mean(4)} / ${mean(16)} / ${mean(64)}")
    assert(mean(4) < 10000.0, "a 4-dim prefix should lose something")
  }

  test("recallAtK/recallGate: exact-vs-itself is 10000 bp; an empty " +
      "approximate relation fails every gate") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val bf = Similarity.bruteForceTopK(e, col("vec_id") < 5, k = 10)
    val r = Similarity.recallAtK(e, bf, col("vec_id") < 5, k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(r.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(r.forall(_._2 == 10000L), s"exact self-recall: $r")
    val g = Similarity.recallGate(e, bf, col("vec_id") < 5, k = 10,
      floorBp = 10000, meanFloorBp = 10000)
      .as[(Long, Boolean, Boolean)].collect().toSeq
    assert(g.forall(x => x._2 && x._3))
    // drift-to-nothing must trip BOTH gates (the harness's hash then
    // mismatches the all-TRUE oracle)
    val g0 = Similarity.recallGate(e, bf.filter(lit(false)),
      col("vec_id") < 5, k = 10, floorBp = 1000, meanFloorBp = 1000)
      .as[(Long, Boolean, Boolean)].collect().toSeq
    assert(g0.length == 5 && g0.forall(x => !x._2 && !x._3))
  }

  test("recallGate floors hold for the trained families at this SF " +
      "(the q_ann_{ivf,lsh,pq} harness floors)") {
    // both oracle scale factors: the trained artifacts are
    // seed-deterministic, so per-query recall is a constant per
    // (SF, family), and PERF.md §"ANN recall floors" lists it
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val ev = e.select(col("vec_id"),
        Vectors.toDoubleVec(col("embedding")).as("v"))
      val pred = col("vec_id") < 5
      val cents = Similarity.ivfCentroids(ev, nCells = 16, iters = 2)
      val cbs = Similarity.pqCodebooks(ev, m = 8, k = 16, dim = 64)
      val fams = Seq(
        ("ivf", Similarity.ivfTopK(e, pred, 10, centroids = Some(cents)),
          1000, 3000),
        ("lsh", Similarity.lshTopK(e, pred, 10), 3000, 5000),
        ("pq", Similarity.pqTopK(e, pred, 10, codebooks = Some(cbs)),
          2000, 3000))
      fams.foreach { case (name, approx, floor, meanFloor) =>
        val g = Similarity.recallGate(e, approx, pred, 10, floor, meanFloor)
          .as[(Long, Boolean, Boolean)].collect().toSeq
        if (!g.forall(x => x._2 && x._3)) {
          val bp = Similarity.recallAtK(e, approx, pred, 10)
            .as[(Long, Long)].collect()
            .map { case (q, r) => s"q$q=$r" }.mkString(" ")
          fail(s"$dir $name gate tripped (floor $floor bp, mean floor " +
            s"$meanFloor bp): recall_bp $bp; gate $g")
        }
      }
    }
  }
}
