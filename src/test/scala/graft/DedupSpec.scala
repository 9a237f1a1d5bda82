package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  test("dd_exact groups every doc and keeps the min doc_id") {
    val rows = Dedup.ddExact(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == 500L)
    assert(rows.forall(r => r.getAs[Long]("keeper") >= 0))
  }

  test("minhash candidates are a superset of high-jaccard pairs") {
    val cand = Dedup.ddMinhashLsh(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val exact = Dedup.ddNgramJaccard(spark, sf0001).collect()
      .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        r.getAs[Double]("jaccard"))).toMap
    assert(cand.nonEmpty)
    // every very-near-dup (j >= 0.8) must be caught by LSH banding
    val nearDups = exact.filter(_._2 >= 0.8).keySet
    assert(nearDups.nonEmpty, "fixture should contain near-dups")
    assert(nearDups.subsetOf(cand),
      s"LSH missed near-dups: ${nearDups -- cand}")
  }

  test("simhash: identical text => identical hash; hamming distance sane") {
    val rows = Dedup.ddSimhash(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(rows.size == 500)
    // near-dup pairs (from jaccard) should be hamming-closer than random
    val near = Dedup.ddNgramJaccard(spark, sf0001).collect()
      .filter(_.getAs[Double]("jaccard") >= 0.9)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    if (near.nonEmpty) {
      val nearDist = near.map { case (a, b) => ham(rows(a), rows(b)) }
      val ids = rows.keys.toArray.sorted
      val randDist = ids.take(50).zip(ids.reverse.take(50))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => ham(rows(a), rows(b)) }
      assert(nearDist.sum.toDouble / nearDist.length <
        randDist.sum.toDouble / randDist.length)
    }
  }

  test("embed near-dup pairs stay within label blocks and above threshold") {
    val pairs = Dedup.ddEmbedCos(spark, sf0001).collect()
    assert(pairs.forall(_.getAs[Double]("score") >= 0.3))
    val labels = Tables.embeddings(spark, sf0001).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    assert(pairs.forall(r =>
      labels(r.getAs[Long]("vec_a")) == labels(r.getAs[Long]("vec_b"))))
  }

  test("LSH bucket cap above the observed max is result-invariant; a tight cap only removes pairs") {
    import org.apache.spark.sql.functions._
    // observed max bucket size at this scale
    val maxBucket = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), graft.functions.TextOps.shingleArray("text").as("sh"))
      .filter(size(col("sh")) > 0)
      .select(posexplode(org.apache.spark.sql.graft.TextExpressions.minhashBands(col("sh"), 8, 4)))
      .groupBy(col("pos"), col("col")).count()
      .agg(max(col("count"))).collect()(0).getLong(0).toInt
    val uncapped = Dedup.ddMinhashLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.ddMinhashLsh(spark, sf0001, bucketCap = Some(maxBucket)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped, "cap above observed max must not change output")
    val tight = Dedup.ddMinhashLsh(spark, sf0001, bucketCap = Some(2)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.subsetOf(uncapped), "a binding cap may only drop pairs, never invent them")
  }

  test("LSH snapshot keys the cap option: a Some(0) build is never served to an uncapped call") {
    def pairs(cap: Option[Int]) = Dedup.ddMinhashLsh(spark, sf0001, cap).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.operators.Analytics.releaseEdgeSnapshots(spark)
    try {
      assert(pairs(Some(0)).isEmpty, "cap 0 drops every bucket")
      val uncapped = pairs(None)
      val inline = withConf("spark.graft.graph.edgeSnapshot" -> "false")(pairs(None))
      assert(inline.nonEmpty, "fixture must produce candidate pairs")
      assert(uncapped == inline, "uncapped call read the Some(0) snapshot")
    } finally graft.operators.Analytics.releaseEdgeSnapshots(spark)
  }

  test("hot-shingle df cap above the observed max is result-invariant; a tight cap only removes pairs") {
    import org.apache.spark.sql.functions._
    val maxDf = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.TextOps.shingleArray("text"))).as("s"))
      .groupBy(col("s")).count()
      .agg(max(col("count"))).collect()(0).getLong(0).toInt
    val uncapped = Dedup.ddNgramJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val capped = Dedup.ddNgramJaccard(spark, sf0001, shingleDfCap = Some(maxDf)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(capped.toSeq == uncapped.toSeq, "cap above observed max must be bit-identical")
    val tightPairs = Dedup.ddNgramJaccard(spark, sf0001, shingleDfCap = Some(3)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val unPairs = uncapped.map(t => (t._1, t._2)).toSet
    assert(tightPairs.subsetOf(unPairs),
      "dropping stop-shingles can only lower jaccard => pair set shrinks")
  }

  test("components df-cap above the observed max is result-invariant; a tight cap only splits") {
    import org.apache.spark.sql.functions._
    val maxDf = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.TextOps.shingleArray("text"))).as("s"))
      .groupBy(col("s")).count()
      .agg(max(col("count"))).collect()(0).getLong(0).toInt
    val uncapped = Dedup.ddComponents(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val capped = Dedup.ddComponents(spark, sf0001, shingleDfCap = Some(maxDf)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq == uncapped.toSeq, "non-binding cap must be row-identical")
    // a binding cap can only remove edges: the node set shrinks or holds,
    // and two docs in one capped component were connected uncapped too
    val tight = Dedup.ddComponents(spark, sf0001, shingleDfCap = Some(3)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(tight.map(_._1).toSet.subsetOf(uncapped.map(_._1).toSet),
      "capping cannot connect docs the uncapped graph did not")
    val uncompOf = uncapped.toMap
    val byTightComp = tight.groupBy(_._2).values
    byTightComp.foreach { members =>
      val uncapLabels = members.map(m => uncompOf(m._1)).toSet
      assert(uncapLabels.size == 1,
        "docs in one capped component must share an uncapped component")
    }
  }

  test("distributed min-label propagation is row-identical to driver union-find") {
    // The gated corpora never exceed the 2M-pair driver limit, so the
    // distributed branch (the one a 100 TB pair graph takes) would
    // otherwise ship untested. Force it with limit 0 and assert exact
    // row identity against the default union-find path.
    def labels() = Dedup.ddComponents(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaUnionFind = labels()
    val viaPropagation = withConf("spark.graft.components.driverEdgeLimit" -> "0")(labels())
    assert(viaUnionFind.nonEmpty, "fixture must produce a non-trivial pair graph")
    assert(viaPropagation == viaUnionFind,
      "label propagation must emit the same (doc_id, min-reachable-id) labeling")
  }
}
