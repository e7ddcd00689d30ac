package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** In-memory reference simulation of the operator's exact contract
    * (integer 1e-14-unit quantized contributions — the same IEEE op
    * chain the Spark expressions evaluate), for EQUALITY checks.
    */
  private def simulate(edges: Seq[(Long, Long)], iters: Int,
                       damping: Double): Map[Long, Double] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    val n = nodes.size
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val inc = edges
        .map { case (s, t) =>
          t -> math.floor(
            damping * rank(s) / deg(s) * Graph.Unit14 + 0.5).toLong }
        .groupBy(_._1).map { case (t, cs) => t -> cs.map(_._2).sum }
      rank = nodes.map(v =>
        v -> ((1.0 - damping) / n +
          inc.get(v).map(_.toDouble / Graph.Unit14).getOrElse(0.0))).toMap
    }
    rank
  }

  test("pageRank equals the quantized reference simulation exactly on " +
      "a hand graph, hub outranks leaves, ranks conserve mass") {
    // hub 1 linked by 2,3,4; chain 4->5; bidirected
    val raw = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L))
    val e = Graph.undirect(raw.toDF("src", "dst"), "src", "dst")
    val got = Graph.pageRank(e, "src", "dst", iters = 7)
      .as[(Long, Double)].collect().toMap
    val want = simulate(
      raw.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct,
      iters = 7, damping = 0.85)
    assert(got.keySet == want.keySet)
    for ((id, r) <- want)
      assert(got(id) == r, s"node $id: got ${got(id)} want $r")
    assert(got(1L) > got(2L) && got(1L) > got(5L), s"hub must win: $got")
    // bidirected graph has no dangling mass; conservation up to the
    // per-edge 1e-14 quantization
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("pageRank is deterministic across runs and sensitive to the " +
      "iteration count; parallel edges are caller-controlled") {
    val e = Graph.undirect(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst"),
      "src", "dst")
    val a = Graph.pageRank(e, "src", "dst", iters = 5)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val b = Graph.pageRank(e, "src", "dst", iters = 5)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(a == b)
    val one = Graph.pageRank(e, "src", "dst", iters = 1)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(one != a)
    // undirect dedups: a doubled input edge changes nothing
    val dup = Graph.undirect(
      Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
        .toDF("src", "dst"), "src", "dst")
    val c = Graph.pageRank(dup, "src", "dst", iters = 5)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(c == a)
  }

  test("undirect drops edges with a null endpoint instead of turning " +
      "them into self-loops") {
    val raw = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (null, 3L), (4L, null), (null, null))
    val got = Graph.undirect(raw.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (2L, 1L)))
  }

  test("mutualKnnEdges + knnClusters: planted blobs separate, the " +
      "outlier stays a singleton, and non-reciprocal neighbors are cut") {
    // two tight 5-point blobs on orthogonal axes + one far outlier;
    // jitter in a third dimension keeps within-blob neighbors distinct
    def blob(ids: Range, axis: Int) = ids.map { id =>
      val v = Array.fill(4)(0.01f * (id % 3))
      v(axis) = 1f
      v(3) = 0.001f * id
      (id.toLong, v)
    }
    val vecs = (blob(1 to 5, 0) ++ blob(11 to 15, 1) ++
      Seq((99L, Array(-1f, -1f, -1f, 0f)))).toDF("vec_id", "embedding")
    val edges = Graph.mutualKnnEdges(vecs, "vec_id", "embedding", k = 3)
      .as[(Long, Long)].collect().toSet
    // no edge crosses the blobs or touches the outlier
    assert(edges.forall { case (a, b) =>
      (a <= 5 && b <= 5) || (a >= 11 && b <= 15 && a != 99 && b != 99) })
    assert(edges.nonEmpty && !edges.exists(e => e._1 == 99L || e._2 == 99L))
    val clusters = Graph.knnClusters(vecs, "vec_id", "embedding", k = 3)
      .as[(Long, Long)].collect().toMap
    assert((1 to 5).map(i => clusters(i.toLong)).toSet.size == 1)
    assert((11 to 15).map(i => clusters(i.toLong)).toSet.size == 1)
    assert(clusters(1L) != clusters(11L))
    assert(clusters(99L) == 99L, "outlier must be its own singleton")
  }

  test("silhouette: tight separated blobs score near 1, the singleton " +
      "outlier and a single-cluster corpus score exactly 0") {
    def blob(ids: Range, axis: Int) = ids.map { id =>
      val v = Array.fill(4)(0.01f * (id % 3))
      v(axis) = 1f
      v(3) = 0.001f * id
      (id.toLong, v)
    }
    val vecs = (blob(1 to 5, 0) ++ blob(11 to 15, 1) ++
      Seq((99L, Array(-1f, -1f, -1f, 0f)))).toDF("vec_id", "embedding")
    val labels = Graph.knnClusters(vecs, "vec_id", "embedding", k = 3)
    val sil = Graph.silhouette(vecs, "vec_id", "embedding", labels)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    for (id <- (1 to 5) ++ (11 to 15))
      assert(sil(id.toLong) > 0.8, s"blob member $id: ${sil(id.toLong)}")
    assert(sil(99L) == 0.0, "singleton scores 0 by convention")
    // one global cluster -> b(i) undefined -> all zeros
    val one = vecs.filter($"vec_id" <= 5)
    val oneLabels = one.select($"vec_id".as("id"), lit(1L).as("cluster_id"))
    val allZero = Graph.silhouette(one, "vec_id", "embedding", oneLabels)
      .as[(Long, Long, Double)].collect()
    assert(allZero.forall(_._3 == 0.0))
  }

  test("personalized PageRank: mass stays in the seed component, the " +
      "seed outranks its periphery, and a disconnected component " +
      "scores exactly zero") {
    // component A: star around seed 1 (spokes 2..5, symmetrized);
    // component B: disconnected pair 10-11
    val directed = ((2 to 5).map(i => (1L, i.toLong)) :+ (10L, 11L))
      .toDF("src", "dst")
    val edges = Graph.undirect(directed, "src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val pr = Graph.personalizedPageRank(edges, "src", "dst", seeds,
      iters = 8, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    assert(pr(10L) == 0.0 && pr(11L) == 0.0,
      s"teleport never reaches a disconnected component: $pr")
    assert((2 to 5).forall(i => pr(1L) > pr(i.toLong)),
      s"seed must outrank its periphery: $pr")
    assert((2 to 5).map(i => pr(i.toLong)).distinct.size == 1,
      "symmetric spokes must tie exactly")
    val total = pr.values.sum
    assert(total > 0.8 && total <= 1.0 + 1e-9,
      s"rank mass must stay near 1 inside the seed component: $total")
    // uniform-seed degenerate case equals plain pageRank bit-for-bit
    val allNodes = edges.select($"src".as("id"))
      .unionByName(edges.select($"dst".as("id"))).distinct()
    val ppr = Graph.personalizedPageRank(edges, "src", "dst", allNodes,
      iters = 4).as[(Long, Double)].collect().toMap
    val plain = Graph.pageRank(edges, "src", "dst", iters = 4)
      .as[(Long, Double)].collect().toMap
    assert(ppr == plain,
      "seeding every node must reduce to uniform PageRank exactly")
  }

  test("hits: a hub past maxDegree fails loudly (per-node int64 raw " +
      "sums are degree-bounded by degree*1e12 — the sf10 overflow " +
      "boundary made a guard), <= 0 disables for pre-capped callers") {
    val star = (1 to 20).map(i => (0L, i.toLong)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      Graph.hits(star, "src", "dst", iters = 1, maxDegree = 10L)
    }
    assert(e.getMessage.contains("maxDegree"))
    // disabled guard: the same graph runs, hub gets max hub mass
    val out = Graph.hits(star, "src", "dst", iters = 2, maxDegree = 0L)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(0L)._1 > 0.99, s"star center carries all hub mass: $out")
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-6,
      "authority mass L1-normalizes to 1")
  }

  test("silhouetteSampled: full coverage equals exact silhouette " +
      "row-for-row; a small sample stays inside the agreement band; no " +
      "input-size bound (the guard is on the SAMPLE, loud)") {
    // 3 gaussian-ish blobs of 30, spread enough that exact silhouette
    // is high but not degenerate
    def blob(ids: Range, axis: Int) = ids.map { id =>
      val v = Array.fill(4)(0.02f * (id % 7))
      v(axis) = 1f
      v(3) += 0.005f * (id % 11)
      (id.toLong, v)
    }
    val vecs = (blob(1 to 30, 0) ++ blob(101 to 130, 1) ++
      blob(201 to 230, 2)).toDF("vec_id", "embedding")
    val labels = vecs.select($"vec_id".as("id"),
      ($"vec_id" / 100).cast("long").as("cluster_id"))
    val exact = Graph.silhouette(vecs, "vec_id", "embedding", labels,
      maxEval = 0L)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // full coverage (perCluster >= every cluster size) ≡ exact
    val full = Graph.silhouetteSampled(vecs, "vec_id", "embedding", labels,
      perCluster = 30)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(full == exact, "full-coverage sample must equal the exact metric")
    // small sample: every point still scored, mean abs deviation bounded
    val approx = Graph.silhouetteSampled(vecs, "vec_id", "embedding",
      labels, perCluster = 8)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(approx.keySet == exact.keySet,
      "the sampled estimator must score EVERY point, not just the sample")
    val mad = exact.keys.map(k => math.abs(approx(k) - exact(k))).sum /
      exact.size
    assert(mad < 0.1, s"mean abs deviation $mad out of band at perCluster=8")
    // no corpus-size guard on the sampled path — only the sample bound
    val e = intercept[IllegalStateException] {
      Graph.silhouetteSampled(vecs, "vec_id", "embedding", labels,
        perCluster = 30, maxSampleRows = 10L)
    }
    assert(e.getMessage.contains("maxSampleRows"))
  }

  test("silhouetteSampled: no cache entry or RDD block outlives the " +
      "call — the sample rides a driver-local relation") {
    // the SCALE path is meant for repeated production use, so the
    // round-12-flagged success-path persist leak must stay closed
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val vecs = (1L to 40L).map(id =>
      (id, Array(1f * (id % 2), 1f - (id % 2), 0.01f * id)))
      .toDF("vec_id", "embedding")
    val labels = vecs.select($"vec_id".as("id"),
      ($"vec_id" % 2).cast("long").as("cluster_id"))
    val out = Graph.silhouetteSampled(vecs, "vec_id", "embedding", labels,
      perCluster = 5)
    assert(out.count() == 40L)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "silhouetteSampled left persistent RDDs behind")
  }

  test("silhouette: an over-maxEval slice fails loudly instead of " +
      "broadcasting the corpus into the quadratic crossJoin") {
    val big = spark.range(0, 50).select($"id".as("vec_id"),
      array(lit(1f), lit(0f)).as("embedding"))
    val labels = big.select($"vec_id".as("id"), ($"id" % 2).as("cluster_id"))
    val e = intercept[IllegalStateException] {
      Graph.silhouette(big, "vec_id", "embedding", labels, maxEval = 10L)
        .collect()
    }
    assert(e.getMessage.contains("maxEval"))
    // pre-bounded callers can disable explicitly
    assert(Graph.silhouette(big, "vec_id", "embedding", labels,
      maxEval = 0L).count() == 50L)
  }

  test("triangles: K4 nodes count 3 each with lcc 1 (0.5 for the node " +
      "diluted by a pendant), the pendant counts 0") {
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Graph.triangles(e).as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) == ((3L, 3L, 1.0)))
    assert(got(2L) == ((3L, 3L, 1.0)))
    assert(got(3L) == ((3L, 3L, 1.0)))
    assert(got(4L) == ((4L, 3L, 0.5)))
    assert(got(5L) == ((1L, 0L, 0.0)))
  }

  /** Driver-side replay of hits' exact contract: integer sums of
    * quantized scores, one IEEE divide per L1 normalization, floor
    * back to 1e-12 units.
    */
  private def simulateHits(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, (Double, Double)] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    def norm(raw: Map[Long, Long]): Map[Long, Long] = {
      val t = raw.values.sum
      nodes.map(v => v -> math.floor(
        raw.getOrElse(v, 0L).toDouble / t.toDouble * Graph.Unit12 + 0.5)
        .toLong).toMap
    }
    var hq = nodes.map(_ -> Graph.Unit12.toLong).toMap
    var aq = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      aq = norm(edges.groupBy(_._2)
        .map { case (d, es) => d -> es.map(e => hq(e._1)).sum })
      hq = norm(edges.groupBy(_._1)
        .map { case (s, es) => s -> es.map(e => aq(e._2)).sum })
    }
    nodes.map(v => v ->
      (hq(v) / Graph.Unit12, aq(v) / Graph.Unit12)).toMap
  }

  test("hits equals the quantized reference simulation exactly on a " +
      "bipartite hand graph; the popular authority and the busy hub " +
      "win; each mass family sums to ~1") {
    // buyers 2,4,6 -> sellers 1,3: seller 1 bought by all three,
    // buyer 2 buys both sellers
    val raw = Seq((2L, 1L), (2L, 3L), (4L, 1L), (6L, 1L))
    val got = Graph.hits(raw.toDF("src", "dst"), "src", "dst", iters = 4)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val want = simulateHits(raw, iters = 4)
    assert(got.keySet == want.keySet)
    for ((id, ha) <- want)
      assert(got(id) == ha, s"node $id: got ${got(id)} want $ha")
    assert(got(1L)._2 > got(3L)._2, "seller 1 must out-rank seller 3")
    assert(got(2L)._1 > got(4L)._1, "two-seller buyer must out-hub")
    assert(got(4L)._1 == got(6L)._1, "symmetric buyers tie")
    assert(got.values.forall { case (h, a) => h == 0.0 || a == 0.0 },
      "bipartite: no node carries both masses")
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9)
  }

  test("lineage cuts: a 12-iteration run crosses three reliable cuts and " +
      "matches the reference simulation") {
    val raw = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val e = Graph.undirect(raw.toDF("src", "dst"), "src", "dst")
    val got = Graph.pageRank(e, "src", "dst", iters = 12)
      .as[(Long, Double)].collect().toMap
    val want = simulate(
      raw.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct,
      iters = 12, damping = 0.85)
    for ((id, r) <- want) assert(got(id) == r, s"node $id")
  }
}
