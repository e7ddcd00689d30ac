package graft

import graft.operators.DedupCluster

class DedupClusterSpec extends SparkSpec {
  import spark.implicits._

  test("components: chains collapse to one cluster, singletons stay alone") {
    val docs = (1L to 7L).toDF("doc_id")
    // chain 1-2-3, pair 5-6, singletons 4 and 7
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comp = DedupCluster.components(docs, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(5L) == 5L && comp(6L) == 5L)
    assert(comp(4L) == 4L && comp(7L) == 7L)
  }

  test("canonicalize keeps one row per cluster with member counts") {
    val docs = (1L to 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val canon = DedupCluster.canonicalize(docs, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(canon == Map(1L -> 2L, 3L -> 2L, 5L -> 1L))
  }

  test("default canonicalize is diameter-independent: a chain far past " +
      "propagation's round budget resolves; the propagation opt-in " +
      "raises on the same input") {
    // 40-hop chain: propagation needs 41 rounds (default budget 10);
    // the alternating-star default contracts it in ~log rounds
    val docs = (1L to 41L).toDF("doc_id")
    val pairs = (1L to 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val canon = DedupCluster.canonicalize(docs, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(canon == Map(1L -> 41L))
    intercept[IllegalStateException] {
      DedupCluster.canonicalizePropagation(docs, "doc_id", pairs)
    }
    // short-diameter graphs: both paths produce the identical manifest
    val cliqueDocs = (1L to 5L).toDF("doc_id")
    val cliquePairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val viaDefault = DedupCluster.canonicalize(cliqueDocs, "doc_id",
      cliquePairs).as[(Long, Long)].collect().toMap
    val viaProp = DedupCluster.canonicalizePropagation(cliqueDocs, "doc_id",
      cliquePairs).as[(Long, Long)].collect().toMap
    assert(viaDefault == viaProp)
  }

  test("round budget exhausted before fixpoint raises instead of mislabeling") {
    // a 12-hop chain needs 11 propagation rounds; cap at 3
    val docs = (1L to 12L).toDF("doc_id")
    val pairs = (1L to 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      DedupCluster.components(docs, "doc_id", pairs, maxRounds = 3)
    }
    val (partial, converged) =
      DedupCluster.componentsWithStatus(docs, "doc_id", pairs, maxRounds = 3)
    assert(!converged)
    partial.unpersist()
    // with enough rounds (a reliable cut every 3) it converges, and once
    // the caller releases the labels no round's cache entry is left
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (full, ok) =
      DedupCluster.componentsWithStatus(docs, "doc_id", pairs, maxRounds = 15)
    assert(ok)
    assert(full.as[(Long, Long)].collect().toMap.values.toSet == Set(1L))
    DedupCluster.release(full)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "loop rounds are leaking cache entries")
  }

  test("a session without a checkpoint dir fails the first lineage cut " +
      "loudly") {
    // Every cut is a reliable checkpoint(); with the directory unset the
    // loops must fail rather than fall back to executor-local storage.
    // The 11-hop chain reaches the propagation loop's third-round cut,
    // and the star path cuts at its third round or its final labels.
    val sc = spark.sparkContext
    val saved = sc.getCheckpointDir
    sc.setCheckpointDir(null)
    try {
      val docs = (1L to 12L).toDF("doc_id")
      val pairs = (1L to 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val failures = Seq(
        intercept[Exception] {
          DedupCluster.componentsWithStatus(docs, "doc_id", pairs,
            maxRounds = 15)
        },
        intercept[Exception] {
          DedupCluster.canonicalize(docs, "doc_id", pairs)
        })
      for (e <- failures)
        assert(Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).flatMap(t => Option(t.getMessage))
          .exists(_.contains("Checkpoint directory has not been set")),
          s"unexpected failure: $e")
    } finally saved.foreach(sc.setCheckpointDir)
  }

  test("release is root-only: frees a checkpoint's own blocks, never " +
      "blocks a released frame merely REFERENCES") {
    import org.apache.spark.sql.functions.col
    val sc = spark.sparkContext
    val ck = (1L to 100L).toDF("id").localCheckpoint(true)
    val ckRddId = ck.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    assert(sc.getPersistentRDDs.contains(ckRddId))
    // a plain-persisted frame built ON TOP of the checkpoint embeds the
    // checkpoint's LogicalRDD in its analyzed plan — exactly the shape
    // of a non-cut loop round over a pinned cut. Releasing it must drop
    // only its own cache entry: a tree-walk release would free the
    // pin's blocks (the ONLY copy — lineage is truncated) while later
    // rounds still recompute from it (round-12 review finding).
    val derived = ck.filter(col("id") > 10L).persist()
    derived.count()
    DedupCluster.release(derived)
    assert(sc.getPersistentRDDs.contains(ckRddId),
      "release(derived) freed the referenced checkpoint's blocks")
    assert(ck.count() == 100L)
    // releasing the checkpoint ITSELF must free its RDD blocks — the
    // arm Dataset.unpersist alone does not cover
    DedupCluster.release(ck)
    assert(!sc.getPersistentRDDs.contains(ckRddId),
      "release(checkpoint) left the checkpoint RDD registered")
  }

  test("alternating star contraction: same labels as propagation, in " +
      "O(log n) rounds on a long chain") {
    val docs = (1L to 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val alt = DedupCluster.componentsAlternating(docs, "doc_id", pairs)
    val comp = alt.as[(Long, Long)].collect().toMap
    alt.unpersist()
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))

    // The scale claim: a 60-hop chain (diameter 60) converges within
    // ~log2^2 rounds of star contraction — label propagation would need
    // 61. maxRounds = 12 would make propagation throw; contraction
    // converges comfortably under it.
    val chainDocs = (1L to 61L).toDF("doc_id")
    val chain = (1L to 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      DedupCluster.components(chainDocs, "doc_id", chain, maxRounds = 12)
    }
    val viaStars = DedupCluster.componentsAlternating(
      chainDocs, "doc_id", chain, maxRounds = 12)
    val labels = viaStars.as[(Long, Long)].collect().toMap
    viaStars.unpersist()
    assert(labels.values.toSet == Set(1L) && labels.size == 61)
  }

  test("alternating: empty pair set labels every doc as itself") {
    val docs = (1L to 4L).toDF("doc_id")
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val alt = DedupCluster.componentsAlternating(docs, "doc_id", empty)
    val comp = alt.as[(Long, Long)].collect().toMap
    alt.unpersist()
    assert(comp == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("alternating equals propagation on the fixture LSH pair graph") {
    val d = Tables.load(spark, sf, "documents")
    val pairs = graft.operators.Dedup
      .minHashLshPairs(d, "doc_id", "text", 5, 4, 3).persist()
    val viaProp = DedupCluster.components(d, "doc_id", pairs)
    val viaStars = DedupCluster.componentsAlternating(d, "doc_id", pairs)
    val propM = viaProp.as[(Long, Long)].collect().toMap
    val starM = viaStars.as[(Long, Long)].collect().toMap
    viaProp.unpersist(); viaStars.unpersist(); pairs.unpersist()
    assert(propM == starM)
  }

  test("end-to-end: LSH pairs on the fixture corpus cluster and dedup it") {
    val d = Tables.load(spark, sf, "documents")
    val pairs = graft.operators.Dedup.minHashLshPairs(d, "doc_id", "text", 5, 4, 3)
    val comp = DedupCluster.components(d, "doc_id", pairs)
    assert(comp.count() == d.count()) // every doc labeled
    val nClusters = comp.select("cluster_id").distinct().count()
    val nPairs = pairs.count()
    assert(nClusters <= d.count())
    assert(nClusters >= d.count() - nPairs) // each pair merges at most one
  }
}
