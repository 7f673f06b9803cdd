package graft

import graft.sources.{AnnIndexStore, DedupIndexStore, PostingsStore}
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._

/** Every stored-index compaction writes its bucketed tables through
  * [[graft.sources.Bucketing.writeBucketed]], whose one sorted file
  * per bucket is what lets a probe trust the stored sort order. A
  * compaction that feeds the writer a Union of co-bucketed segment
  * scans breaks that: the Union claims the segments' bucketing, the
  * writer's same-key repartition is elided against the claim
  * (FenceElisionProbeSpec), and each bucket comes out as one file per
  * input segment. Answers survive it, so only the layout shows it. */
class CompactionLayoutSpec extends SparkSpec {

  /** File count per bucket id of a stored table; a file without a
    * bucket id counts under -1. */
  private def filesPerBucket(table: String): Map[Int, Int] =
    spark.table(table).inputFiles.toSeq
      .map(f => BucketingUtils.getBucketId(f.split('/').last).getOrElse(-1))
      .groupBy(identity).map { case (b, fs) => b -> fs.size }

  test("every compaction output holds exactly one file per bucket") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val base = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val gen1 = docs.filter(pmod(col("doc_id"), lit(8)) === 4)
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val eBase = embs.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val eGen1 = embs.filter(pmod(col("vec_id"), lit(4)) === 0)
    val planes = Seq.tabulate(4)(t => Seq.tabulate(4)(j =>
      Seq.tabulate(64)(i => if (i == 4 * t + j) 1.0 else 0.0)))
    val cents = Array.tabulate(3)(k =>
      Array.tabulate(64)(i => if (i == k) 1.0 else 0.0))
    val cbs = Array.tabulate(8)(_ => Array(
      Array.tabulate(8)(j => if (j == 0) -1.0 else 0.0),
      Array.tabulate(8)(j => if (j == 0) 1.0 else 0.0)))

    val exact = DedupIndexStore.compactExactSegments(spark,
      DedupIndexStore.appendExactSegment(
        DedupIndexStore.writeExactSegmented(base), gen1))
    val minhash = DedupIndexStore.compactMinhashSegments(spark,
      DedupIndexStore.appendMinhashSegment(
        DedupIndexStore.writeMinhashSegmented(base), gen1))
    val simhash = DedupIndexStore.compactSimhashSegments(spark,
      DedupIndexStore.appendSimhashSegment(
        DedupIndexStore.writeSimhashSegmented(base), gen1))
    val embedding = DedupIndexStore.compactEmbeddingSegments(spark,
      DedupIndexStore.appendEmbeddingSegment(
        DedupIndexStore.writeEmbeddingSegmented(eBase, planes), eGen1,
        planes))
    val postings = PostingsStore.compactSegments(spark,
      PostingsStore.appendSegment(PostingsStore.writeSegmented(base),
        gen1))
    val ivfPq = AnnIndexStore.compactIvfPqIndex(spark,
      AnnIndexStore.refreshIvfPqIndex(spark,
        AnnIndexStore.writeIvfPqIndex(eBase, cents, cbs), eGen1))
    assert(ivfPq.vecsTables.size == 1)

    val outputs = Seq(
      "exact" -> exact.table,
      "minhash buckets" -> minhash.bucketsTable,
      "minhash sets" -> minhash.setsTable,
      "simhash" -> simhash.table,
      "embedding buckets" -> embedding.bucketsTable,
      "embedding vecs" -> embedding.vecsTable,
      "postings" -> postings.table,
      "doclens" -> postings.doclensTable,
      "IVF-PQ vecs" -> ivfPq.vecsTables.head)
    val bad = outputs.map { case (label, t) => label -> filesPerBucket(t) }
      .filter { case (_, fpb) =>
        fpb.isEmpty || fpb.contains(-1) || fpb.values.exists(_ != 1) }
    assert(bad.isEmpty,
      "compaction outputs without one file per bucket " +
        "(bucket id -> files): " + bad.mkString("; "))
  }
}
