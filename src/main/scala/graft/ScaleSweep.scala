package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1.0 scale sweep: volume-validates the 100× posture of the heavy
  * tier. Every scale claim elsewhere is design-argued (banded candidate
  * generation, checkpoint-cut iteration, broadcast stats frames) and
  * hot-key-stressed (ScaleStress); this main is the missing EMPIRICAL
  * leg — the same registry entries run at sf0.1 and at a 10×-amplified
  * sf1.0, and the artifact records per-query wall time, spill bytes and
  * shuffle volume. The pass bound is ≤ `MaxRatio`× time at 10× data
  * (linear with a generous constant for fixed overheads) and zero
  * spill at BOTH scales.
  *
  * Amplification preserves workload SHAPE, not just row count —
  * naively copying rows 10× would plant 10-cliques of duplicates and
  * quadratically inflate every dedup tier's candidate pairs (a
  * different, harder workload):
  *   - documents: ×10 with disjoint doc_ids and a copy-specific token
  *     interleaved every 4 words — each copy keeps its own planted
  *     near-dup structure, but cross-copy shingle sets differ, so
  *     candidate pairs scale linearly as they would on 10× real data;
  *   - embeddings: ×10 with disjoint vec_ids under a per-copy random
  *     DIAGONAL SIGN FLIP — an isometry, so intra-copy geometry
  *     (cluster structure, near-dup pairs) is preserved exactly while
  *     cross-copy cosines decorrelate;
  *   - orders/lineitem (the graph tier's bipartite edges): ×10 with
  *     consistently offset keys — 10 disjoint copies of the same graph,
  *     the shape 10× more users/orders would have;
  *   - events: ×10 with offset ids and month-shifted timestamps (the
  *     ScaleStress convention).
  *
  * Run: `sbt "runMain graft.ScaleSweep"` (optionally
  * SPARK_GRAFT_SF_DIR, SPARK_GRAFT_SCALE_DIR). Writes `SCALE.json` in
  * the repo root — the committed evidence artifact, same landing rule
  * as BENCH.json/STRESS.json.
  */
object ScaleSweep {

  /** The heavy tier under test: the slowest non-diagnostic registry
    * entries (BENCH.json ranking) across the dedup / graph / semantic /
    * text / corpus families. `ann_index_build` (a timed build) and
    * `emb_cluster_silhouette` (a guarded quadratic diagnostic over a
    * fixed ≤10k sample) are excluded by design; `emb_knn_clusters` is
    * slice-bounded (constant work at any sf) and would only measure
    * noise.
    */
  val Sweep: Seq[String] = Seq(
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_verified",
    "dedup_containment",
    "dedup_edit_distance",
    "dedup_source_overlap",
    "dedup_cluster_alternating",
    "sem_dedup_fixed",
    "sem_dedup_scaled",
    "graph_pagerank",
    "graph_hits",
    "text_repetition",
    // the 4-gram LM: its n-gram tables grow ∝ corpus tokens and the
    // scorer is a 7-way token-keyed join — the newest family with a
    // plausible knee, swept from round 14 on (added after round 13's
    // sweep run; its sf0.1→sf1 probe is in PLANS.md round 13)
    "text_stupid_backoff",
    "span_dedup_clean",
    "corpus_split_leakage_safe",
    // distinct-n diversity: three exploded n-gram streams into
    // countDistinct aggregates — distinct-gram state grows ∝ corpus
    // (trigram types barely repeat), the same growth class as the LM
    // tables; added session 5, swept from round 14 on
    "corpus_distinct_ngrams")

  /** The SECOND decade (sf1 → sf10, ×100 total amplification): the five
    * heaviest sweep entries re-measured at another 10× — the empirical
    * knee-hunt the 100 TB posture rests on. Bounded to the heavy tier
    * because the sf10 fixtures are ~1.7 GB parquet / ~6 GB shuffle on
    * the graph entries; the light tier adds wall-clock, not evidence.
    *
    * RUN DECADE 2 WITH HEAP SCALED TO DATA (64 GB+; since round 13 the
    * whole sweep runs at `SPARK_DRIVER_MEM=100g` for the knee step):
    * on a cluster, 10× data comes with ~10× aggregate executor memory;
    * holding one box's 8 GB heap constant while data grows 100× from
    * sf0.1 measures the heap, not the plans — the first 8 GB run
    * spilled ~96 GB on `graph_pagerank` purely from a ~75 MB/task
    * execution budget. SCALE.json records `heap_gb` so the artifact is
    * self-describing. That first run also caught a REAL knee: the HITS
    * normalization total overflowed int64 at 60 M edges (|E|·10¹²
    * units), fixed by 128-bit DECIMAL sums in [[operators.Graph.hits]].
    */
  val Sweep10: Seq[String] = Seq(
    "dedup_exact",
    "dedup_minhash_verified",
    "dedup_cluster_alternating",
    "text_repetition",
    "span_dedup_clean",
    "graph_pagerank",
    "graph_hits",
    // the SCALED-nlist form, not sem_dedup_fixed: the fixed-8-centroid
    // oracle form is quadratic past its design envelope by construction
    // (measured ×59.6 at sf10 — cell occupancy 25k ⇒ Σcell² ≈ 5·10⁹
    // pairs); its scaladoc's "nlist must grow with the corpus" rule IS
    // the scale path, so that is what decade 2 measures.
    "sem_dedup_scaled",
    "corpus_split_leakage_safe")

  /** The HALF-DECADE knee probe (sf10 → sf30-equivalent, ×300 total):
    * round 12 ranked the graph tier the closest thing to a knee (worst
    * per-decade ratio 6.85, 8.3 GB shuffle, 21.5 GB peak exec mem), so
    * its two iterative loops get one more scale step to locate the
    * bend before production does. The sf30 fixture carries ONLY the
    * graph inputs (orders + lineitem, the edge bipartition) — the
    * other families' fixtures would triple generation time and add no
    * evidence at this step.
    *
    * HEAP FOLLOWS DATA AT THIS STEP TOO (run the whole sweep with
    * `SPARK_DRIVER_MEM=100g` — the 128 GiB box's feasible share of the
    * ~192 GB pro-rata analog): round 13 measured the knee step at the
    * decade-2 64 GB convention and found a pure MEMORY-ANALOG knee,
    * not a plan knee — pagerank spilled 34.7 GB (peak exec demand
    * 68.7 GB > the 64 GB pool) yet stayed ×2.36; hits stayed
    * zero-spill but paid ×8.77 in GC/eviction churn (45 GB peak on a
    * 64 GB heap evicts the 180 M-edge cache between half-steps). The
    * SAME binaries at 100 GB: pagerank 199.6 s ×2.10 zero-spill, hits
    * 141.8 s ×2.87 zero-spill — both inside the pro-rated bound
    * (fresh JVM, idle box, min-of-2; PLANS.md round 13). On a
    * cluster, 3× data arrives with 3× aggregate executor memory —
    * the 100 GB regime, not the 64 GB one.
    *
    * Round 13 session 4 widens the knee probe beyond the graph tier:
    * the two heaviest DOCUMENT-side scalers (`dedup_minhash_verified` —
    * banded inverted index, and `span_dedup_clean` — suffix-window
    * dedup, the worst sf10 peak-mem non-graph entry at 14.6 GB) get the
    * same ×3 step. Their sf30 peak demand extrapolates to ~20/~44 GB —
    * inside the 100 GB convention, so any FAIL here is a plan knee,
    * not a memory analog. The knee fixture therefore now carries
    * documents too (still not embeddings — no embedding family is
    * knee-ranked).
    */
  val SweepKnee: Seq[String] = Seq("graph_pagerank", "graph_hits",
    "dedup_minhash_verified", "span_dedup_clean",
    // the worst sf10 text scaler (×5.41/decade): n-gram explode →
    // window — document-side state ∝ corpus, the same growth class as
    // span dedup; added to the ×300 step per the round-13 review
    "text_repetition",
    // round-15 additions (r14 judge ask #4): the ANN/semantic tier had
    // never run the ×300 step — ann_index_build is the slowest bench
    // entry (timed KMeans/PQ train + encode + bucketed index write)
    // and sem_dedup_scaled is the designed-for-scale shape previously
    // swept at decades only. Both are single-pass corpus scalers
    // (KMeans trains on a BOUNDED 64k view, so no corpus-scale
    // iteration loop), hence the 96-partition class at sf30.
    "ann_index_build",
    "sem_dedup_scaled")

  val Factor = 10
  val Factor10 = 100
  val FactorKnee = 300
  /** Linear-with-constant bound: ≤ 12× time PER 10× data decade. */
  val MaxRatio = 12.0
  /** The same bound pro-rated to the ×3 half-decade: 12^log10(3). */
  val MaxRatioKnee: Double = math.pow(MaxRatio, math.log10(3.0))
  /** Knee-step shuffle partitions — the PARALLELISM analog beside r13's
    * heap analog, applied PER WORKLOAD CLASS because a single box can
    * only emulate half of a bigger cluster:
    *
    *  - SINGLE-PASS, sort/shuffle-bound entries (the dedup/text tier):
    *    partitions follow data (96 at sf30 vs 32 at sf10). On a
    *    cluster, 3× data arrives with 3× tasks per stage and per-task
    *    input stays constant; holding 32 partitions grows per-task
    *    sort inputs 3× and charges an n·log n term no real deployment
    *    pays (measured r14: span_dedup_clean sf30 129.1 s at 32
    *    partitions vs 108.4 s at 96). The extra partitions run as
    *    task waves — fine, throughput-bound stages don't care.
    *  - ITERATION-LATENCY-BOUND loops (the graph tier): partitions
    *    stay 32. Over-partitioning on 32 cores serializes every
    *    iteration into 3 task WAVES, tripling per-iteration latency ×
    *    ~40 stages — it emulates a 3× cluster's data layout but not
    *    its parallel latency (measured r14: graph_hits sf30 warm
    *    275.4 s at 96 partitions vs ~142 s at 32, the r13 fresh-JVM
    *    number on the same binaries). Their per-task work is hash
    *    probes (linear), so growing per-task input costs no log term.
    *
    * Both counterexamples are in PLANS.md round 14; the artifact
    * records the per-entry choice (`knee_partitions`).
    */
  val KneeParts10 = 32
  def kneeParts30(name: String): Int =
    if (name.startsWith("graph_")) 32 else 96

  final case class SweepResult(name: String, secBase: Double,
                               secBig: Double, ratio: Double,
                               spillBytes: Long, shuffleWrite: Long,
                               peakExecMem: Long, ok: Boolean,
                               note: String,
                               // knee-block only: the ACTUAL shuffle
                               // partitions each side ran with (-1 for
                               // decade blocks) — the artifact records
                               // what was measured, not a prose summary
                               // that can drift from the constants
                               parts10: Int = -1, parts30: Int = -1)

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val big = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_sf1")
    val big10 = sys.env.getOrElse("SPARK_GRAFT_SCALE10_DIR", "/tmp/graft_sf10")
    val big30 = sys.env.getOrElse("SPARK_GRAFT_SCALE30_DIR", "/tmp/graft_sf30")
    // Knee-only mode (SPARK_GRAFT_KNEE_ONLY=1): re-measure ONLY the
    // forked knee block and splice the decade blocks verbatim from the
    // existing SCALE.json — for protocol iterations on the knee step
    // (r14: warm-at-target + parallelism analog) without re-paying the
    // ~55-minute decade sweeps whose numbers are not in question.
    // Requires the amplified fixtures (markers) and a prior SCALE.json.
    // SPARK_GRAFT_KNEE_NAMES (regex, full match) narrows further: only
    // matching knee entries are re-measured; the rest splice verbatim
    // from the prior artifact's queries_sf30 (fail-fast if absent) —
    // so one contested entry re-runs without re-paying the block.
    if (sys.env.get("SPARK_GRAFT_KNEE_ONLY").contains("1")) {
      require(new java.io.File(s"$big10/_GENERATED").exists() &&
        new java.io.File(s"$big30/_GENERATED").exists(),
        "knee-only mode needs the sf10/sf30 fixtures already generated")
      generateKneeEmbIfAbsent(base, big30)
      val prior = org.json4s.jackson.JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("SCALE.json")),
          java.nio.charset.StandardCharsets.UTF_8))
      // fail-fast splice: a field missing from the prior artifact would
      // render JNothing as an empty string and land malformed JSON
      // (e.g. `"scale_ok":,`) that downstream parsing rejects
      def frag(field: String): String = {
        val v = prior \ field
        require(v != org.json4s.JNothing,
          s"knee-only mode: prior SCALE.json has no '$field' field — " +
            "run the full sweep once to establish the decade blocks")
        org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(v))
      }
      val nameFilter = sys.env.get("SPARK_GRAFT_KNEE_NAMES").map(_.r)
      val toRun = SweepKnee.filter(n => nameFilter.forall(_.matches(n)))
      val measured = runKnee(big10, big30, toRun)
        .map(r => r.name -> r).toMap
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      def splice(name: String): SweepResult = {
        val e = prior \ "queries_sf30" \ name
        require(e != org.json4s.JNothing,
          s"knee-only mode: prior SCALE.json has no queries_sf30 entry " +
            s"'$name' — include it in SPARK_GRAFT_KNEE_NAMES or run the " +
            "full knee block")
        SweepResult(name,
          (e \ "sf10_sec").extract[Double],
          (e \ "sf30_sec").extract[Double],
          (e \ "ratio").extract[Double],
          (e \ "spillBytes").extract[Long],
          (e \ "shuffleWriteBytes").extract[Long],
          (e \ "peakExecMem").extract[Long],
          (e \ "ok").extract[Boolean],
          (e \ "note").extractOrElse[String](""),
          // older artifacts carried partitions as a prose summary, not
          // per-entry fields; the protocol constants are unchanged, so
          // fill from them when the recorded fields are absent
          (e \ "partitions_sf10").extractOrElse[Int](KneeParts10),
          (e \ "partitions_sf30").extractOrElse[Int](kneeParts30(name)))
      }
      val knee = SweepKnee.map(n => measured.getOrElse(n, splice(n)))
      writeArtifact(knee,
        frag("scale_ok"), frag("heap_gb"), frag("queries"),
        frag("scale10_ok"), frag("queries_sf10"))
      if (knee.exists(!_.ok)) sys.exit(1)
      return
    }
    val spark = Sessions.local(32, "scale-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    generateIfAbsent(spark, base, big, Factor)
    generateIfAbsent(spark, base, big10, Factor10)
    generateKneeIfAbsent(spark, base, big30, FactorKnee)
    generateKneeEmb(spark, base, big30, FactorKnee)

    val metrics = RunMetrics.attach(spark)
    def timedOnce(name: String, dir: String): (Double, Long, Long, Long, String) = {
      var note = ""
      val s = metrics.measure(spark) {
        try metrics.materialize(spark, name, dir)
        catch { case e: Throwable => note = s"FAILED: ${e.getMessage}" }
      }
      RunMetrics.isolate(spark)
      (s.sec, s.spillB, s.shuffleWriteB, s.peakExecB, note)
    }
    // Min-of-2 per measurement (the BENCH/BASELINE comparability rule):
    // a single pass right after a heavy query inherits its GC/page-cache
    // aftermath — one observed 2.9 s query read 74 s single-pass. Spill
    // is taken from the min-time pass; a spill that reproduces on the
    // faster pass is real, one that doesn't was the aftermath's.
    def timed(name: String, dir: String): (Double, Long, Long, Long, String) = {
      val a = timedOnce(name, dir)
      if (a._5.nonEmpty) return a // a failure repeats; don't pay it twice
      val b = timedOnce(name, dir)
      if (a._1 <= b._1) a else b
    }

    // JIT/codegen warm-up off the sweep clock
    timedOnce(Sweep.head, base)

    val results = Sweep.map { name =>
      val (s0, spill0, _, _, note0) = timed(name, base)
      val (s1, spill1, shuf1, peak1, note1) = timed(name, big)
      val ratio = s1 / s0
      val ok = note0.isEmpty && note1.isEmpty && ratio <= MaxRatio &&
        spill0 == 0L && spill1 == 0L
      val r = SweepResult(name, s0, s1, ratio, spill1, shuf1, peak1, ok,
        (note0 + note1).take(200))
      println(f"SCALE ${if (r.ok) "ok " else "FAIL"} $name " +
        f"${r.secBase}%.2f s -> ${r.secBig}%.2f s (x${r.ratio}%.2f) " +
        f"spill=${r.spillBytes} shufWrite=${r.shuffleWrite}")
      r
    }

    // second decade: the heavy five at sf10, ratio vs their own sf1 time
    val sf1Sec = results.map(r => r.name -> r.secBig).toMap
    val results10 = Sweep10.map { name =>
      val (s10, spill10, shuf10, peak10, note10) = timed(name, big10)
      val s1 = sf1Sec(name)
      val ratio = s10 / s1
      val ok = note10.isEmpty && ratio <= MaxRatio && spill10 == 0L
      val r = SweepResult(name, s1, s10, ratio, spill10, shuf10, peak10, ok,
        note10.take(200))
      println(f"SCALE10 ${if (r.ok) "ok " else "FAIL"} $name " +
        f"${r.secBase}%.2f s -> ${r.secBig}%.2f s (x${r.ratio}%.2f) " +
        f"spill=${r.spillBytes} shufWrite=${r.shuffleWrite}")
      r
    }

    // Half-decade knee probe: ratio vs sf10 against the pro-rated
    // linear-with-constant bound — with PER-MEASUREMENT JVM ISOLATION
    // (round-13 judge finding: the in-sweep sf30 measurement sat at
    // position ~60 and inherited the 25 GB-shuffle predecessors'
    // page-cache/GC aftermath — graph_hits read ×3.68 in the artifact
    // while a fresh JVM on the same binaries read ×2.87, in-bound; the
    // artifact must measure what it gates). BOTH sides of the ratio are
    // isolated: an in-sweep sf10 denominator carries the same positional
    // contamination, which would flatter the ratio. The parent session
    // stops FIRST so the 100 GB-heap children never coexist with the
    // sweep JVM's heap (the box holds 125 GB).
    spark.stop()
    System.gc()
    val resultsKnee = runKnee(big10, big30)
    val heapGb = Runtime.getRuntime.maxMemory / (1L << 30)
    writeArtifact(resultsKnee,
      results.forall(_.ok).toString, heapGb.toString,
      block(results, "sf01_sec", "sf1_sec"),
      results10.forall(_.ok).toString,
      block(results10, "sf1_sec", "sf10_sec"))
    if ((results ++ results10 ++ resultsKnee).exists(!_.ok)) sys.exit(1)
  }

  /** The ×300 knee block: every (entry, scale) point in its own fresh
    * JVM ([[kneeIsolated]]), BOTH ratio sides isolated, partitions per
    * the parallelism analog. */
  private def runKnee(big10: String, big30: String,
                      names: Seq[String] = SweepKnee): Seq[SweepResult] =
    names.map { name =>
      val p10 = KneeParts10
      val p30 = kneeParts30(name)
      val (s10, _, _, _, note10) = kneeIsolated(name, big10, p10)
      val (s30, spill30, shuf30, peak30, note30) =
        kneeIsolated(name, big30, p30)
      val ratio = s30 / s10
      val ok = note10.isEmpty && note30.isEmpty && ratio <= MaxRatioKnee &&
        spill30 == 0L
      val r = SweepResult(name, s10, s30, ratio, spill30, shuf30, peak30,
        ok, Seq(note10, note30).filter(_.nonEmpty).mkString("; ").take(200),
        p10, p30)
      println(f"SCALE30 ${if (r.ok) "ok " else "FAIL"} $name " +
        f"${r.secBase}%.2f s -> ${r.secBig}%.2f s (x${r.ratio}%.2f) " +
        f"spill=${r.spillBytes} shufWrite=${r.shuffleWrite}")
      r
    }

  private def block(rs: Seq[SweepResult], loField: String,
                    hiField: String): String =
    rs.map(r =>
      RunMetrics.jsonString(r.name) + ":{\"" + loField + "\":" +
        f"${r.secBase}%.3f" +
        ",\"" + hiField + "\":" + f"${r.secBig}%.3f" +
        ",\"ratio\":" + f"${r.ratio}%.2f" +
        ",\"ok\":" + r.ok +
        ",\"spillBytes\":" + r.spillBytes +
        ",\"shuffleWriteBytes\":" + r.shuffleWrite +
        ",\"peakExecMem\":" + r.peakExecMem +
        (if (r.parts10 >= 0)
          ",\"partitions_sf10\":" + r.parts10 +
            ",\"partitions_sf30\":" + r.parts30
         else "") +
        (if (r.note.nonEmpty) ",\"note\":" + RunMetrics.jsonString(r.note)
         else "") +
        "}").mkString("{", ",", "}")

  /** Assembles + lands SCALE.json from knee results plus decade-block
    * JSON fragments (freshly measured or spliced from the prior
    * artifact in knee-only mode). */
  private def writeArtifact(resultsKnee: Seq[SweepResult],
                            scaleOk: String, heapGb: String,
                            queries: String, scale10Ok: String,
                            queries10: String): Unit = {
    val line = s"""{"scale_ok":$scaleOk,"factor":$Factor,""" +
      s""""max_ratio":$MaxRatio,"heap_gb":$heapGb,""" +
      s""""queries":$queries,""" +
      s""""scale10_ok":$scale10Ok,"factor10":$Factor10,""" +
      s""""queries_sf10":$queries10,""" +
      s""""knee_ok":${resultsKnee.forall(_.ok)},"factor30":$FactorKnee,""" +
      s""""max_ratio_knee":$MaxRatioKnee,""" +
      s""""knee_isolated":true,"knee_heap":"$kneeMem",""" +
      s""""knee_warm":"target",""" +
      s""""queries_sf30":${block(resultsKnee, "sf10_sec", "sf30_sec")}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALE.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(line)
  }

  /** Heap for the forked knee JVMs — the ×300 memory-analog convention
    * (pro-rata executor memory follows data; PLANS.md round 13). */
  private def kneeMem: String =
    sys.env.getOrElse("SPARK_GRAFT_KNEE_MEM",
      sys.env.getOrElse("SPARK_DRIVER_MEM", "100g"))

  /** One (query, scale) knee measurement in a FRESH sequential JVM
    * (graft.KneeProbe): same classpath, the build.sbt JDK-17 module
    * opens, heap per [[kneeMem]]. Returns the KneeProbe machine line
    * parsed to the in-process `timed` shape.
    */
  private def kneeIsolated(name: String, dir: String,
                           partitions: Int): (Double, Long, Long, Long, String) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      s"-Xmx$kneeMem", "-Dspark.ui.enabled=false",
      "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      "graft.KneeProbe", name, dir, dir, partitions.toString)).toArray
    val pb = new ProcessBuilder(cmd: _*)
    // stderr goes to a temp FILE, not a pipe: the parent reads stdout
    // to EOF first, and a child writing more than the ~64 KiB pipe
    // buffer of Spark startup logs + ERROR stack traces (exactly the
    // failure cases this harness reports) would block on a full stderr
    // pipe while the parent blocks on stdout EOF — mutual deadlock
    val errFile = java.nio.file.Files
      .createTempFile("knee_stderr", ".log").toFile
    errFile.deleteOnExit()
    pb.redirectError(errFile)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    val rc = proc.waitFor()
    val err = new String(
      java.nio.file.Files.readAllBytes(errFile.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    errFile.delete()
    out.linesIterator.find(_.startsWith("KNEEPROBE")) match {
      case Some(l) if l.startsWith("KNEEPROBE FAIL") =>
        (0.0, 0L, 0L, 0L, s"FAILED: ${l.stripPrefix("KNEEPROBE FAIL ")}")
      case Some(l) =>
        val p = l.split(' ')
        (p(1).toDouble, p(2).toLong, p(3).toLong, p(4).toLong, "")
      case None =>
        (0.0, 0L, 0L, 0L,
          s"FAILED: KneeProbe rc=$rc no machine line; stderr tail: " +
            err.takeRight(150))
    }
  }

  // --- amplified-fixture generation ------------------------------------

  /** Id offset keeping copies disjoint and far from fixture id ranges. */
  private val Off = 10000000L

  def generateIfAbsent(spark: SparkSession, base: String,
                       big: String, factor: Int = Factor): Unit = {
    val marker = new java.io.File(s"$big/_GENERATED")
    if (marker.exists()) return
    import spark.implicits._

    // documents: copy-specific token interleaved every 4 words
    val docs = Tables.load(spark, base, "documents")
      .as[(Long, String, String, String, Long)]
    amplified(spark, docs, factor) { case ((id, text, lang, source, _), i) =>
      val t = perturbText(text, i)
      (id + i * Off, t, lang, source, t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$big/documents.parquet")

    // embeddings: per-copy diagonal sign flip (intra-copy isometry)
    val emb = Tables.load(spark, base, "embeddings")
      .as[(Long, Array[Float], Int)]
    amplified(spark, emb, factor) { case ((id, v, label), i) =>
      (id + i * Off, flipSigns(v, i), label)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$big/embeddings.parquet")

    // orders + lineitem: consistently offset keys → `factor` disjoint
    // copies of the same bipartite graph
    val orders = Tables.load(spark, base, "orders")
    unioned(orders, factor) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100 * Off))
        .withColumn("o_custkey", col("o_custkey") + lit(i * Off))
    }.write.mode("overwrite").parquet(s"$big/orders.parquet")
    val li = Tables.load(spark, base, "lineitem")
    unioned(li, factor) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100 * Off))
        .withColumn("l_partkey", col("l_partkey") + lit(i * Off))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * Off))
    }.write.mode("overwrite").parquet(s"$big/lineitem.parquet")

    // events: the ScaleStress amplification convention
    val ev = Tables.load(spark, base, "events")
    unioned(ev, factor) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * Off))
        .withColumn("user_id", col("user_id") + lit(i * Off))
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${i % 6} MONTHS"))
    }.write.mode("overwrite").parquet(s"$big/events.parquet")

    // small dims copied as-is (queries outside the sweep may probe them)
    Seq("customer", "supplier", "part", "nation", "region").foreach { t =>
      try Tables.load(spark, base, t).write.mode("overwrite")
        .parquet(s"$big/$t.parquet")
      catch { case _: Throwable => () }
    }
    marker.getParentFile.mkdirs()
    java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
  }

  /** Knee fixture (orders + lineitem + documents — exactly the inputs
    * of the knee-ranked families): the ×300 step would spend most of
    * its wall-clock amplifying embeddings no knee entry reads. Same
    * key-offset / perturbation scheme as [[generateIfAbsent]], so the
    * ×300 fixture is `factor` disjoint copies of the sf0.1 tables —
    * graph component structure preserved, |E|/|V|/corpus scaled
    * linearly, per-copy token perturbation keeping the shingle/band
    * distributions shape-true.
    */
  def generateKneeIfAbsent(spark: SparkSession, base: String,
                           big: String, factor: Int): Unit = {
    val marker = new java.io.File(s"$big/_GENERATED")
    if (marker.exists()) return
    import spark.implicits._
    val orders = Tables.load(spark, base, "orders")
    unioned(orders, factor) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100 * Off))
        .withColumn("o_custkey", col("o_custkey") + lit(i * Off))
    }.write.mode("overwrite").parquet(s"$big/orders.parquet")
    val li = Tables.load(spark, base, "lineitem")
    unioned(li, factor) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100 * Off))
        .withColumn("l_partkey", col("l_partkey") + lit(i * Off))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * Off))
    }.write.mode("overwrite").parquet(s"$big/lineitem.parquet")
    val docs = Tables.load(spark, base, "documents")
      .as[(Long, String, String, String, Long)]
    amplified(spark, docs, factor) { case ((id, text, lang, source, _), i) =>
      val t = perturbText(text, i)
      (id + i * Off, t, lang, source, t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$big/documents.parquet")
    marker.getParentFile.mkdirs()
    java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
  }

  /** Embeddings add-on for the knee fixture (round 15: the ANN/semantic
    * knee entries — ann_index_build, sem_dedup_scaled — read
    * embeddings, which the original graph/doc-only ×300 fixture
    * omitted). Same per-copy sign-flip isometry as [[generateIfAbsent]];
    * its own marker so an existing fixture's tables aren't rebuilt.
    */
  def generateKneeEmb(spark: SparkSession, base: String, big: String,
                      factor: Int): Unit = {
    val marker = new java.io.File(s"$big/_GENERATED_EMB")
    if (marker.exists()) return
    import spark.implicits._
    val emb = Tables.load(spark, base, "embeddings")
      .as[(Long, Array[Float], Int)]
    amplified(spark, emb, factor) { case ((id, v, label), i) =>
      (id + i * Off, flipSigns(v, i), label)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$big/embeddings.parquet")
    marker.getParentFile.mkdirs()
    java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
  }

  /** [[generateKneeEmb]] for knee-only mode, where no sweep session
    * exists: a short-lived local session generates the table, then
    * stops BEFORE any 100 GB knee child forks (the one-Spark-at-a-time
    * isolation rule).
    */
  private def generateKneeEmbIfAbsent(base: String, big: String): Unit = {
    if (new java.io.File(s"$big/_GENERATED_EMB").exists()) return
    val spark = Sessions.local(32, "knee-emb-gen")
    spark.sparkContext.setLogLevel("ERROR")
    try generateKneeEmb(spark, base, big, FactorKnee)
    finally { spark.stop(); System.gc() }
  }

  private def amplified[T, U: org.apache.spark.sql.Encoder](
      spark: SparkSession, ds: org.apache.spark.sql.Dataset[T], factor: Int)(
      f: (T, Long) => U): org.apache.spark.sql.Dataset[U] =
    (0 until factor).map(i => ds.map(r => f(r, i.toLong)))
      .reduce(_.unionAll(_))

  private def unioned(df: DataFrame, factor: Int)(
      f: (DataFrame, Long) => DataFrame): DataFrame =
    (0 until factor).map(i => f(df, i.toLong)).reduce(_.unionByName(_))

  /** Interleave a copy-specific, position-varying token every 4 words:
    * copy 0 is the original; other copies keep every intra-copy shingle
    * relationship (all docs in a copy are transformed identically) while
    * cross-copy shingle sets disagree everywhere — near-dup structure
    * scales linearly instead of planting ×10 cliques.
    */
  def perturbText(text: String, copy: Long): String =
    if (copy == 0L) text
    else {
      val words = text.split(' ')
      val sb = new StringBuilder(text.length + text.length / 3)
      var i = 0
      while (i < words.length) {
        sb.append(words(i)).append(' ')
        if (i % 4 == 3) sb.append('g').append(copy).append('x')
          .append(i).append(' ')
        i += 1
      }
      sb.result().trim
    }

  /** Per-copy deterministic ±1 diagonal: splitmix64-finalized bit of
    * (copy, dim). Copy 0 is identity. The non-linear finalizer matters:
    * a LINEAR hash of (copy, dim) makes two copies' sign patterns
    * shifted evaluations of the same sequence — measured up to 90 %
    * agreement between copy pairs, i.e. cross-copy cosine ≈ 0.8× intra,
    * which re-plants the near-dup cliques the flip exists to prevent
    * (found as a diameter-cap blowup in the first sweep run).
    */
  def flipSigns(v: Array[Float], copy: Long): Array[Float] =
    if (copy == 0L) v
    else {
      val out = new Array[Float](v.length)
      var j = 0
      while (j < v.length) {
        var z = copy * 0x9E3779B97F4A7C15L + j
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= z >>> 31
        out(j) = if ((z & 1L) == 1L) -v(j) else v(j)
        j += 1
      }
      out
    }
}
