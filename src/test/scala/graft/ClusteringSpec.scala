package graft

import graft.operators.Clustering

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  test("components: chain, triangle, and singletons resolve to min ids") {
    // 1-2-3 chain (1~2, 2~3 but NOT 1~3), {10,11,12} triangle, 20 isolated
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L).toDF("id")
    val got = Clustering.connectedComponents(edges, nodes)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("long path converges within iteration budget") {
    // a 30-node path: worst-case diameter for label propagation
    val edges = (0L until 29L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = (0L to 29L).toDF("id")
    val got = Clustering.connectedComponents(edges, nodes, maxIter = 40)
      .as[(Long, Long)].collect()
    assert(got.forall(_._2 == 0L))
  }

  test("alternating star equals label propagation on chains and random graphs") {
    // a path graph is label propagation's worst case (n - 1 rounds);
    // the star scheme's round count is O(log n), so a budget of
    // ceil(log2 n) + 2 holds it and the require inside fails otherwise
    val n = 128
    val maxIter = math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt + 2
    val chainE = (0L until n - 1L).map(i => (i, i + 1)).toDF("a", "b")
    val chainN = (0L until n.toLong).toDF("id")
    val viaStar = Clustering.alternatingStar(chainE, chainN, maxIter = maxIter)
      .as[(Long, Long)].collect().toMap
    assert(viaStar.values.forall(_ == 0L) && viaStar.size == n)
    // seeded random graphs: same components from both algorithms
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = Seq.fill(45)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).toDF("a", "b")
      val nodes = (0L until n.toLong).toDF("id")
      val lp = Clustering.connectedComponents(edges, nodes)
        .as[(Long, Long)].collect().toMap
      val st = Clustering.alternatingStar(edges, nodes)
        .as[(Long, Long)].collect().toMap
      assert(st == lp, s"seed $seed")
    }
  }

  test("incrementalCC: delta edges fold into a base map == full CC from scratch") {
    // base: {1,2} merged, {3} and {4,5} separate; delta node 6 bridges
    // cluster {1,2} and cluster {4,5} (a transitive merge the base
    // never saw), 7 arrives isolated, and a delta edge also links two
    // base nodes directly (8~3, the re-crawl-links-old-content case)
    val baseEdges = Seq((1L, 2L), (4L, 5L)).toDF("a", "b")
    val baseNodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val base = Clustering.connectedComponents(baseEdges, baseNodes)
    val deltaEdges = Seq((6L, 2L), (6L, 4L), (8L, 3L)).toDF("a", "b")
    val deltaNodes = Seq(6L, 7L, 8L).toDF("id")
    val got = Clustering.incrementalCC(base, deltaEdges, deltaNodes)
      .as[(Long, Long)].collect().toMap
    val full = Clustering.connectedComponents(
      baseEdges.union(deltaEdges),
      baseNodes.union(deltaNodes).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(got == full)
    assert(got(6L) == 1L && got(5L) == 1L) // the transitive merge landed
    assert(got(7L) == 7L)                  // isolated delta = singleton
    assert(got(8L) == 3L)                  // base-base delta edge merged
  }

  test("incrementalCC equals from-scratch CC on random base/delta splits") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      val n = 60
      val all = Seq.fill(50)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // nodes 0..39 are base, 40..59 the delta batch; an edge is a
      // base edge iff both endpoints are base — the q_dedup_cc_incr
      // split rule, applied to an arbitrary graph
      val isBase = (x: Long) => x < 40L
      val baseE = all.filter(e => isBase(e._1) && isBase(e._2)).toDF("a", "b")
      val deltaE = all.filterNot(e => isBase(e._1) && isBase(e._2))
        .toDF("a", "b")
      val base = Clustering.connectedComponents(
        baseE, (0L until 40L).toDF("id"))
      val got = Clustering.incrementalCC(base, deltaE,
        (40L until 60L).toDF("id")).as[(Long, Long)].collect().toMap
      val full = Clustering.connectedComponents(
        all.toDF("a", "b"), (0L until 60L).toDF("id"))
        .as[(Long, Long)].collect().toMap
      assert(got == full, s"seed $seed")
    }
  }

  test("incrementalCC publishes the fold's blast radius as an observed metric") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        qe.observedMetrics.get(Clustering.INCR_CC_METRIC)
          .foreach(seen.add)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val base = Clustering.connectedComponents(
        Seq((1L, 2L)).toDF("a", "b"), Seq(1L, 2L, 3L).toDF("id"))
      // edges: 6-2 (base endpoint), 6-7 (both new), 1-2 (collapses —
      // same base cluster: it contracts to a self-loop and must NOT
      // count as quotient work in the metric)
      Clustering.incrementalCC(base,
        Seq((6L, 2L), (6L, 7L), (1L, 2L)).toDF("a", "b"),
        Seq(6L, 7L).toDF("id")).count()
      // listener delivery is async; poll briefly instead of reaching
      // into the private listener bus
      val deadline = System.nanoTime() + 10000000000L
      while (seen.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      val m = seen.toArray(Array.empty[org.apache.spark.sql.Row])
      assert(m.nonEmpty, "fold metric never fired")
      val r = m.head
      assert(r.getLong(r.fieldIndex("quotient_edges")) == 2L)
      assert(r.getLong(r.fieldIndex("base_endpoints_a")) == 0L)
      assert(r.getLong(r.fieldIndex("base_endpoints_b")) == 1L) // 6~2
    } finally spark.listenerManager.unregister(listener)
  }

  test("incrementalCC: a re-delivered base id stays one row with its base label") {
    val base = Clustering.connectedComponents(
      Seq((1L, 2L)).toDF("a", "b"), Seq(1L, 2L, 3L).toDF("id"))
    // delta claims node 2 again (re-delivery) plus a genuinely new 9
    val got = Clustering.incrementalCC(base,
      Seq((9L, 3L)).toDF("a", "b"), Seq(2L, 9L).toDF("id"))
      .as[(Long, Long)].collect()
    assert(got.length == 4) // 1,2,3,9 — no duplicate row for 2
    val m = got.toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 9L -> 3L))
  }

  test("dedupCorpus keeps exactly the cluster minima, full payload") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val clusters = Clustering.nearDupClusters(corpus)
      .as[(Long, Long)].collect().toMap
    val survivors = Clustering.dedupCorpus(corpus)
    assert(survivors.columns.toSeq == corpus.columns.toSeq)
    val ids = survivors.select("doc_id").as[Long].collect().toSet
    assert(ids == clusters.values.toSet) // exactly the cluster roots
    assert(ids.size < corpus.count())    // something was deduped
    // every non-survivor is clustered onto a surviving root
    clusters.foreach { case (d, c) => assert(ids.contains(c), s"doc $d") }
  }

  test("dedupCorpusBest keeps the most complete family member, not " +
      "the min id") {
    // family {1, 2, 3}: doc 3 is the longest -> the quality argmax
    // must pick 3 where the min-id rule picks 1; singleton 9 survives
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L))
      .toDF("doc_id", "cluster")
    val docs = Seq(
      (1L, "a b"), (2L, "a b c"), (3L, "a b c d"), (9L, "x"))
      .toDF("doc_id", "text")
    val best = Clustering.dedupCorpusBestFrom(clusters, docs)
      .as[(Long, Long, Long)].collect().toSeq
    assert(best == Seq((3L, 1L, 4L), (9L, 9L, 1L)))
    // ties fall to the smaller doc_id
    val tied = Clustering.dedupCorpusBestFrom(clusters,
      docs.withColumn("text",
        org.apache.spark.sql.functions.lit("same len")))
      .as[(Long, Long, Long)].collect().toSeq
    assert(tied.map(_._1) == Seq(1L, 9L))
    // on the corpus: one survivor per cluster, same cluster set as
    // the min-id rule, and at least one family where the choices
    // differ (a planted truncated copy exists)
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val cl = Clustering.nearDupClusters(corpus)
    val minIds = Clustering.dedupCorpusFrom(cl, corpus)
      .select("doc_id").as[Long].collect().toSet
    val bestIds = Clustering.dedupCorpusBestFrom(cl, corpus)
      .as[(Long, Long, Long)].collect()
    assert(bestIds.length == minIds.size)
    assert(bestIds.map(_._2).toSet ==
      cl.select("cluster").as[Long].collect().toSet)
  }

  test("leakFreeSplit: duplicate families never straddle the split") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val split = Clustering.leakFreeSplit(corpus, trainPct = 90)
      .as[(Long, Long, String)].collect()
    assert(split.length == corpus.count())
    assert(split.map(_._3).toSet.subsetOf(Set("train", "val")))
    val byDoc = split.map(r => r._1 -> r._3).toMap
    // the leakage property: every near-dup PAIR (incl. transitive
    // members through the cluster) lands on one side
    val pairs = graft.operators.Dedup.ngramJaccard(corpus, 3, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(byDoc(a) == byDoc(b), s"pair ($a, $b) straddles the split") }
    // family atomicity at the cluster level: one split per cluster
    split.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._3).distinct.length == 1, s"cluster $c") }
    // the decision replays the stratified-sampling hash arithmetic
    val expect = split.map(_._2).distinct.map { c =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(c.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.take(15), 16)
      c -> (if (h % 100 < 90) "train" else "val")
    }.toMap
    split.foreach { case (_, c, s) => assert(s == expect(c)) }
    // both sides are populated at this corpus size
    assert(split.map(_._3).distinct.length == 2)
  }

  test("nearDupClusters: clusters close over pair chains; ids are min") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val clusters = Clustering.nearDupClusters(corpus)
      .as[(Long, Long)].collect().toMap
    assert(clusters.size == corpus.count())
    // every cluster id is a member of its own cluster (root property)
    assert(clusters.filter { case (d, c) => d == c }.keySet ==
      clusters.values.toSet)
    // clusters refine the pair relation: every pair is co-clustered
    val pairs = graft.operators.Dedup
      .ngramJaccard(corpus, 3, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(clusters(a) == clusters(b)) }
    // and cluster id <= every member (min-reachable)
    clusters.foreach { case (d, c) => assert(c <= d) }
  }

  test("dedupWeights: every doc kept, family mass sums to one family") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val rows = Clustering.dedupWeights(corpus)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length == corpus.count())
    // weight = 10000 DIV size, every member of a family agrees
    rows.groupBy(_._2).foreach { case (_, fam) =>
      val size = fam.length.toLong
      assert(fam.forall(_._3 == size))
      assert(fam.forall(_._4 == 10000L / size))
    }
    // families match nearDupClusters exactly
    val clusters = Clustering.nearDupClusters(corpus)
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (d, c, _, _) => assert(clusters(d) == c) }
    // the corpus HAS non-singleton families, so weights bind below 10000
    assert(rows.exists(_._4 < 10000L))
  }

  test("clusterSizeHistogram: doc mass conserved, sizes match weights") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val clusters = Clustering.nearDupClusters(corpus).localCheckpoint()
    val hist = Clustering.clusterSizeHistogram(clusters)
      .as[(Long, Long, Long)].collect().toSeq
    // ordered by size, every doc accounted for exactly once
    assert(hist.map(_._1) == hist.map(_._1).sorted)
    assert(hist.map(_._3).sum == corpus.count())
    assert(hist.forall { case (s, f, d) => d == s * f })
    // agrees with the family sizes dedupWeights reports
    val bySize = Clustering.dedupWeightsFrom(clusters)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._3).view.mapValues(_.length.toLong).toMap
    hist.foreach { case (s, _, d) => assert(bySize(s) == d) }
    // non-singleton families exist (the planted dup families)
    assert(hist.exists(_._1 > 1))
  }
}
