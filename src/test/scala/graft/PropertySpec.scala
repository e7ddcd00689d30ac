package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Relational, Skew}

/** Property tests for the invariants the reference relies on implicitly
  * (SURVEY.md §5.3). scalatestplus is not on the offline classpath, so a
  * minimal deterministic forAll drives scalacheck Gens directly.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAll[A](gen: Gen[A], n: Int = 10)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i))
        .foreach(body)
    }

  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  private val rowsGen: Gen[List[(Int, Int, Int)]] =
    Gen.listOfN(60, for {
      id <- Gen.choose(0, 9)
      version <- Gen.choose(0, 1000)
      payload <- Gen.choose(0, 1000)
    } yield (id, version, payload))

  test("dedupLatest: one row per key, max version, idempotent") {
    forAll(rowsGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("id", "v", "p")
        val out = Relational.dedupLatest(df, Seq("id"), "v", Seq("p"))
        val collected = out.select("id", "v").as[(Int, Int)].collect()
        // one row per key
        assert(collected.map(_._1).distinct.length == collected.length)
        // max version wins
        val maxV = rows.groupBy(_._1).map { case (k, g) => k -> g.map(_._2).max }
        collected.foreach { case (k, v) => assert(v == maxV(k)) }
        // idempotent
        assert(Relational.dedupLatest(out, Seq("id"), "v", Seq("p"))
          .count() == out.count())
      }
    }
  }

  test("incremental equivalence: full load == union of watermarked batches") {
    forAll(Gen.choose(1, 99)) { cutPct =>
      val events = Tables.load(spark, sf, "events").limit(200)
      val cut = events.stat.approxQuantile("event_id", Array(cutPct / 100.0), 0)(0)
      val first = events.filter($"event_id" <= cut)
      val wm = first.agg(max("ts")).first().getTimestamp(0)
      // second batch: strictly newer than the first batch's watermark —
      // plus the leftovers with older ts (late data), which the strict
      // watermark would drop; assert the drop is exactly what F1 says
      val second = Relational.newerThan(events, "ts", wm.toString)
      val expectedDropped = events
        .filter($"event_id" > cut && $"ts" <= lit(wm.toString).cast("timestamp"))
        .count()
      assert(first.count() + second.count() + expectedDropped
        - first.filter($"ts" > lit(wm.toString).cast("timestamp")).count()
        == events.count())
    }
  }

  test("splitLabel partitions any id population exactly by hash bands") {
    import graft.operators.Sampling
    val idsGen = Gen.listOfN(300, Gen.choose(0L, 1000000L))
    forAll(idsGen, n = 5) { ids =>
      whenever(ids.nonEmpty) {
        val df = ids.distinct.toDF("id")
        forAll(for {
          v <- Gen.choose(0, 120); t <- Gen.choose(0, 120)
        } yield (v, t), n = 3) { case (v, t) =>
          val out = df.select($"id",
            Sampling.splitLabel($"id", v, t).as("s"),
            substring(md5($"id".cast("string")), 1, 2).as("h"))
            .collect()
          out.foreach { r =>
            val b = Integer.parseInt(r.getString(2), 16)
            val expect = if (b < v) "val" else if (b < v + t) "test" else "train"
            assert(r.getString(1) == expect)
          }
        }
      }
    }
  }

  test("packBins: offsets are the exclusive prefix sums per group and " +
    "bins are offset/budget, regardless of order column") {
    import graft.operators.{Packing, Sampling}
    val docsGen = Gen.listOfN(40, for {
      id <- Gen.choose(0L, 10000L)
      g <- Gen.oneOf("a", "b", "c")
      n <- Gen.choose(0L, 500L)
    } yield (id, g, n))
    forAll(docsGen, n = 5) { rows =>
      val distinctRows = rows.distinctBy(_._1)
      whenever(distinctRows.nonEmpty) {
        val df = distinctRows.toDF("id", "g", "n")
        for (order <- Seq(Seq(col("id")),
          Seq(Sampling.shuffleKey(col("id"), "p7"), col("id")))) {
          val out = Packing.packBins(df, "id", "g", col("n"), 256, order)
            .collect().map(r => (r.getLong(0), r.getString(1),
              r.getLong(2), r.getLong(3), r.getLong(4)))
          out.groupBy(_._2).foreach { case (_, grp) =>
            // offsets sorted ascending are the exclusive prefix sums of
            // the token counts laid in SOME total order of the group
            val byOffset = grp.sortBy(_._4)
            var acc = 0L
            byOffset.foreach { case (_, _, n, off, bin) =>
              assert(off == acc, s"offset gap: $off vs $acc")
              assert(bin == off / 256)
              acc += n
            }
          }
        }
      }
    }
  }

  test("lineDedup conservation: kept + dropped == total lines per doc; " +
    "no kept line exceeds the document-frequency cap") {
    import graft.operators.LineDedup
    val linePool = ('a' to 'j').map(c => s"line $c content")
    val docsGen = Gen.listOfN(12, Gen.listOfN(6, Gen.oneOf(linePool)))
    forAll(docsGen, n = 5) { docLines =>
      val df = docLines.zipWithIndex
        .map { case (ls, i) => (i.toLong, ls.toArray) }
        .toDF("doc_id", "lines")
      val out = LineDedup.dedupLines(df, "doc_id", $"lines", maxDocs = 3)
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getLong(2), r.getLong(3))).toMap
      val freq = docLines.zipWithIndex
        .flatMap { case (ls, i) => ls.distinct.map(_ -> i) }
        .groupBy(_._1).map { case (l, xs) => l -> xs.length }
      docLines.zipWithIndex.foreach { case (ls, i) =>
        val (text, kept, dropped) = out(i.toLong)
        assert(kept + dropped == ls.length)
        val expectKept = ls.filter(l => freq(l) <= 3)
        assert(text == expectKept.mkString(" "))
      }
    }
  }

  test("quality clean == verdict keep rows for arbitrary thresholds") {
    import graft.operators.Quality
    val texts = Seq(
      "the a of to and in is it that words more content here",
      "spam spam spam spam spam spam spam",
      "der die das und ist nicht ein zu etwas",
      "uno dos tres cuatro", "tiny", "x y z w v u t s r q p o n m l")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    forAll(for {
      mn <- Gen.choose(1, 10); mx <- Gen.choose(5, 20)
      q <- Gen.choose(0.0, 1.0); d <- Gen.choose(0.0, 1.0)
    } yield (mn, mx, q, d), n = 8) { case (mn, mx, q, d) =>
      val t = Quality.Thresholds(mn, mx, Seq("en", "de", "unknown"), q, d)
      val keepIds = Quality.verdict(df, "doc_id", "text", t)
        .filter($"verdict" === "keep").select("doc_id")
        .as[Long].collect().toSet
      val cleanIds = Quality.clean(df, "doc_id", "text", t)
        .select("doc_id").as[Long].collect().toSet
      assert(keepIds == cleanIds,
        s"verdict/clean disagree at $t: $keepIds vs $cleanIds")
    }
  }

  test("binned range join equals the naive join+filter under random " +
    "timestamps, keys, and windows (including windows before the row)") {
    import graft.operators.Temporal
    val rowsGen = Gen.listOfN(40, for {
      key <- Gen.choose(0, 3)
      off <- Gen.choose(0L, 2000L)
    } yield (key, off))
    val windowGen = for {
      lo <- Gen.oneOf(-300L, -60L, 0L, 60L)
      w <- Gen.oneOf(60L, 300L, 450L)
    } yield (lo, lo + w)
    forAll(rowsGen, n = 4) { rows =>
      val df = rows.zipWithIndex.map { case ((k, off), i) =>
        (i.toLong, k, new java.sql.Timestamp(1704067200000L + off * 1000L))
      }.toDF("event_id", "user_id", "ts")
      forAll(windowGen, n = 3) { case (lo, hi) =>
        val binned = Temporal.rangeJoin(df, df, "user_id", "user_id",
          "ts", "ts", lo, hi, Seq("event_id"))
          .select($"event_id", $"r_event_id")
        val naive = df.as("e").join(df.as("f"),
          col("f.user_id") === col("e.user_id") &&
            col("f.ts") > col("e.ts") + expr(s"INTERVAL $lo SECONDS") &&
            col("f.ts") <= col("e.ts") + expr(s"INTERVAL $hi SECONDS"))
          .select(col("e.event_id"), col("f.event_id").as("r_event_id"))
        assert(binned.exceptAll(naive).count() == 0,
          s"extra pairs at window ($lo, $hi]")
        assert(naive.exceptAll(binned).count() == 0,
          s"missing pairs at window ($lo, $hi]")
      }
    }
  }

  test("salted join equals plain join (inner and left)") {
    val facts = Seq((1, "a"), (1, "b"), (2, "c"), (99, "d"))
      .toDF("k", "payload")
    val dim = Seq((1, "x"), (2, "y")).toDF("dk", "attr")
    for (jt <- Seq("inner", "left")) {
      val plain = facts.join(dim, facts("k") === dim("dk"), jt)
        .select("k", "payload", "attr")
      val salted = Skew.saltedJoin(facts, dim, "k", "dk", 4, jt)
        .select("k", "payload", "attr")
      assert(salted.exceptAll(plain).count() == 0)
      assert(plain.exceptAll(salted).count() == 0)
    }
  }

  // --- round-7 operator invariants (driver-side, no Spark jobs) --------

  private val valuesGen: Gen[List[Double]] =
    Gen.listOfN(400, Gen.choose(-1000.0, 1000.0))

  test("t-digest: quantiles are monotone in q, bounded by [min,max], " +
      "and rank error stays within 5% for arbitrary inputs") {
    import graft.functions.TDigestQuantiles
    forAll(valuesGen, n = 8) { vs =>
      whenever(vs.nonEmpty) {
        val buf = new scala.collection.mutable.ArrayBuffer[(Double, Long)]()
        vs.foreach(v => buf += ((v, 1L)))
        TDigestQuantiles.compress(buf, 50)
        val qs = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
        val ests = qs.map(TDigestQuantiles.quantile(buf, _))
        // monotone in q
        ests.sliding(2).foreach { case Seq(a, b) => assert(a <= b) }
        // bounded by the data range
        assert(ests.head >= vs.min && ests.last <= vs.max)
        // rank-error bound at delta=50
        val sorted = vs.sorted
        qs.zip(ests).foreach { case (q, est) =>
          val rank = sorted.count(_ <= est).toDouble / vs.length
          assert(math.abs(rank - q) <= 0.05,
            s"q=$q est=$est rank=$rank n=${vs.length}")
        }
      }
    }
  }

  private val wordGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf("ab".toSeq)).map(_.mkString).map(_.take(8))
  private val vocabGen: Gen[List[(String, Long)]] =
    Gen.listOfN(12, for {
      w <- wordGen
      n <- Gen.choose(1L, 50L)
    } yield (w, n)).map(_.groupBy(_._1).map { case (w, xs) =>
      (w, xs.map(_._2).sum) }.toList.sortBy(_._1))

  test("BPE: learning is permutation-invariant over the frequency table " +
      "and tokenization always detokenizes back to the word") {
    import graft.operators.Bpe
    forAll(vocabGen, n = 8) { vocab =>
      whenever(vocab.nonEmpty) {
        val merges = Bpe.learnMerges(vocab, 20)
        assert(Bpe.learnMerges(vocab.reverse, 20) == merges,
          "merge list depends on frequency-table row order")
        val ranks = merges.map(m => ((m.left, m.right), m.rank)).toMap
        vocab.foreach { case (w, _) =>
          val toks = Bpe.encodeWord(w, ranks)
          assert(toks.mkString("") == w + Bpe.Eow,
            s"'$w' did not round-trip: $toks")
        }
      }
    }
  }

  test("slidingChunks: stripped-overlap reassembly reproduces the text " +
      "for arbitrary word counts, window sizes, and strides") {
    import graft.functions.TextFunctions
    val gen = for {
      nWords <- Gen.choose(1, 120)
      n <- Gen.choose(2, 20)
      stride <- Gen.choose(1, n)
    } yield (nWords, n, stride)
    forAll(gen, n = 12) { case (nWords, n, stride) =>
      val text = (1 to nWords).map(i => s"w$i").mkString(" ")
      val chunks = Seq(text).toDF("t")
        .select(TextFunctions.slidingChunks(col("t"), n, stride).as("c"))
        .as[Seq[String]].head()
      // every chunk except (possibly) the last is exactly n words;
      // dropping each chunk's leading overlap reassembles the text
      chunks.init.foreach(c => assert(c.split(" ").length == n))
      val rebuilt = (chunks.head.split(" ") ++
        chunks.tail.zipWithIndex.flatMap { case (c, i) =>
          // chunk i+1 starts at (i+1)*stride+1; the previous chunk
          // covered through min(i*stride+n, len) — drop the overlap
          val prevEnd = math.min(i * stride + n, nWords)
          val start = (i + 1) * stride
          c.split(" ").drop(prevEnd - start)
        }).mkString(" ")
      assert(rebuilt == text,
        s"nWords=$nWords n=$n stride=$stride: reassembly mismatch")
    }
  }

  private val pqCaseGen: Gen[(List[Array[Float]], List[List[List[Float]]])] =
    for {
      nsub <- Gen.oneOf(2, 4)
      subDim <- Gen.oneOf(2, 4)
      ksub <- Gen.oneOf(2, 4)
      dim = nsub * subDim
      vecs <- Gen.listOfN(12,
        Gen.listOfN(dim, Gen.choose(-100, 100).map(_ / 32.0f))
          .map(_.toArray))
      books <- Gen.listOfN(nsub, Gen.listOfN(ksub,
        Gen.listOfN(subDim, Gen.choose(-100, 100).map(_ / 32.0f))))
    } yield (vecs, books.map(_.map(_.toList)))

  /** Reference (driver-side) PQ encode: argmin per sub-quantizer, ties
    * to the smaller code — the contract PqEncodeCodes implements.
    */
  private def refEncode(v: Array[Float],
                        books: Seq[Seq[Seq[Float]]]): Seq[Int] =
    books.zipWithIndex.map { case (book, j) =>
      val subDim = book.head.size
      book.zipWithIndex.map { case (cent, c) =>
        val d = cent.zipWithIndex.map { case (cv, di) =>
          val diff = v(j * subDim + di).toDouble - cv.toDouble
          diff * diff
        }.sum
        (d, c)
      }.minBy(identity)._2
    }

  /** Reference ADC: Σ_j ||q_j − book_j[code_j]||². */
  private def refAdc(q: Array[Float], codes: Seq[Int],
                     books: Seq[Seq[Seq[Float]]]): Double =
    books.zipWithIndex.map { case (book, j) =>
      val subDim = book.head.size
      val cent = book(codes(j))
      cent.zipWithIndex.map { case (cv, di) =>
        val diff = q(j * subDim + di).toDouble - cv.toDouble
        diff * diff
      }.sum
    }.sum

  test("PQ codec: distributed encode/ADC match the driver-side " +
      "reference argmin and distance on random dyadic cases") {
    forAll(pqCaseGen, n = 6) { case (vecs, books) =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val enc = graft.operators.Similarity.pqEncode(df, "vec_id",
        "embedding", books)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      vecs.zipWithIndex.foreach { case (v, i) =>
        assert(enc(i.toLong) == refEncode(v, books),
          s"encode mismatch for vec $i")
      }
      // ADC of every vector against its own codes (dyadic inputs: the
      // reference .sum and the expression's fold are both exact here)
      val adc = graft.functions.PqCodec.adc(
        col("codes"), col("embedding"), books)
      val got = graft.operators.Similarity.pqEncode(df, "vec_id",
        "embedding", books)
        .join(df.select(col("vec_id").as("cand_id"), col("embedding")),
          Seq("cand_id"))
        .select(col("cand_id"), adc.as("d"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      vecs.zipWithIndex.foreach { case (v, i) =>
        val want = refAdc(v, enc(i.toLong).map(identity), books)
        assert(got(i.toLong) == want, s"adc mismatch for vec $i")
      }
    }
  }

  /** Reference SQ8 encode, the [[graft.functions.Sq8EncodeCodes]]
    * contract: delta 0 → code 0, else half-up rounding clamped to
    * [0, 255].
    */
  private def refSq8Encode(v: Array[Float], mins: Array[Double],
                           deltas: Array[Double]): Seq[Int] =
    v.indices.map { d =>
      if (deltas(d) == 0.0) 0
      else math.min(255.0, math.max(0.0,
        math.floor((v(d).toDouble - mins(d)) / deltas(d) + 0.5))).toInt
    }

  /** Reference SQ8 ADC: Σ_d (q_d − (min_d + code_d·delta_d))². */
  private def refSq8Adc(q: Array[Float], codes: Seq[Int], mins: Array[Double],
                        deltas: Array[Double]): Double =
    q.indices.foldLeft(0.0) { (s, d) =>
      val diff = q(d).toDouble - (mins(d) + codes(d) * deltas(d))
      s + diff * diff
    }

  test("PQ/SQ8 codec columns for two codebooks leave the function " +
      "registry unchanged and match the reference encode and ADC") {
    import graft.functions.{PqCodec, Sq8Codec}
    val registry = spark.sessionState.functionRegistry
    val before = registry.listFunction().toSet
    val vecs = Seq(Array(0.5f, -1.0f, 0.25f, 2.0f),
      Array(-0.75f, 1.5f, 1.0f, -0.5f), Array(3.0f, 0.0f, -2.0f, 0.125f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    def rows(codes: org.apache.spark.sql.Column,
             adc: org.apache.spark.sql.Column) =
      df.select(col("vec_id"), col("embedding"), codes.as("codes"))
        .select(col("vec_id"), col("codes"), adc.as("d")).collect()
        .map(r => (vecs(r.getLong(0).toInt), r.getSeq[Int](1), r.getDouble(2)))

    // nsub = 2 sub-quantizers of ksub = 2 dyadic 2-dim centroids
    val booksA = Seq(Seq(Seq(0f, 0f), Seq(1f, -1f)),
      Seq(Seq(0f, 2f), Seq(0.5f, 0.5f)))
    val booksB = booksA.map(_.map(_.map(_ * -0.5f)))
    Seq(booksA, booksB).foreach { books =>
      rows(PqCodec.encode(col("embedding"), books),
        PqCodec.adc(col("codes"), col("embedding"), books)).foreach {
        case (v, codes, d) =>
          assert(codes == refEncode(v, books))
          assert(d == refAdc(v, codes, books))
      }
    }
    // second bound set: a constant dimension (delta 0) and a clamp
    val bounds = Seq(
      (Array(-1.0, -1.0, -2.0, -0.5), Array(4.0, 2.5, 4.0, 2.5).map(_ / 255)),
      (Array(0.0, -1.0, 0.0, 0.0), Array(1.0 / 255, 0.0, 2.0 / 255, 0.0)))
    bounds.foreach { case (mins, deltas) =>
      rows(Sq8Codec.encode(col("embedding"), mins, deltas),
        Sq8Codec.adc(col("codes"), col("embedding"), mins, deltas)).foreach {
        case (v, codes, d) =>
          assert(codes == refSq8Encode(v, mins, deltas))
          assert(d == refSq8Adc(v, codes, mins, deltas))
      }
    }
    assert(registry.listFunction().toSet == before,
      "codec columns must not register session functions")
  }

  private val changeLogGen: Gen[List[(Int, Int, String)]] =
    Gen.listOfN(40, for {
      key <- Gen.choose(0, 5)
      day <- Gen.choose(1, 28)
      attr <- Gen.oneOf("a", "b", "c")
    } yield (key, day, attr))

  test("SCD2 invariants on random change logs: intervals chain per key " +
      "with one open row, and re-applying the final snapshot is a no-op") {
    import graft.operators.Scd
    forAll(changeLogGen, n = 8) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.zipWithIndex.map { case ((k, d, a), i) =>
          (k.toLong, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00"),
            a, i.toLong)
        }.toDF("key", "ts", "attr", "seq")
        val h = Scd.buildHistory(df, "key", "ts", Seq("attr"),
          tieBreak = Seq("seq"))
        val byKey = h.as[(Long, String, java.sql.Timestamp,
            Option[java.sql.Timestamp], Boolean)]
          .collect().groupBy(_._1)
        byKey.values.foreach { g =>
          val sorted = g.sortBy(_._3.getTime)
          // exactly one open, current row per key — the last one
          assert(g.count(_._5) == 1 && sorted.last._4.isEmpty)
          // intervals chain: valid_to == next valid_from
          sorted.sliding(2).foreach {
            case Array(a, b) => assert(a._4.contains(b._3),
              s"interval gap in ${sorted.toSeq}")
            case _ =>
          }
          // no inverted intervals; zero-length [t, t) is legitimate —
          // it records a same-instant observation superseded by its
          // tieBreak successor (the as-of read resolves to the later)
          sorted.init.foreach(r =>
            assert(r._4.get.getTime >= r._3.getTime))
        }
        // idempotency against the history's own current rows
        val snap = h.filter(col("is_current"))
          .select(col("key"), col("attr"))
        val once = Scd.applySnapshot(h, snap, "key", Seq("attr"),
          "2024-06-01 00:00:00")
        val sortedRows = once.orderBy("key", "valid_from", "attr")
          .collect().toSeq
        assert(sortedRows == h.orderBy("key", "valid_from", "attr")
          .collect().toSeq,
          "applying the history's own state must change nothing")
      }
    }
  }

  test("capPerGroupTop: bound holds, survivors are the order's top-N, " +
      "sub-cap groups pass through whole") {
    import graft.operators.Sampling
    forAll(rowsGen, n = 8) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.zipWithIndex
          .map { case ((g, s, _), i) => (i.toLong, g % 4, s) }
          .toDF("id", "grp", "score")
        val cap = 3
        val kept = Sampling.capPerGroupTop(df, "grp", cap,
          Seq(col("score").desc, col("id")))
          .select("id", "grp", "score").as[(Long, Int, Int)].collect()
        val byGrp = rows.zipWithIndex
          .map { case ((g, s, _), i) => (i.toLong, g % 4, s) }
          .groupBy(_._2)
        kept.groupBy(_._2).foreach { case (g, ks) =>
          val all = byGrp(g)
          assert(ks.length == math.min(cap, all.length))
          // survivors are exactly the top-N under (score desc, id)
          val want = all.sortBy(r => (-r._3, r._1)).take(cap)
            .map(_._1).toSet
          assert(ks.map(_._1).toSet == want)
        }
      }
    }
  }

  test("madOutliers: the flag set is invariant under positive affine " +
      "transforms of the values (the whole point of a ROBUST z-score), " +
      "and matches a driver-side median/MAD reference") {
    val dataGen = Gen.listOfN(30, Gen.choose(-500, 500))
    forAll(dataGen, n = 6) { vals =>
      whenever(vals.nonEmpty) {
        def flagsOf(xs: Seq[Double]): Set[Long] =
          graft.operators.Profile.madOutliers(
            xs.zipWithIndex.map { case (v, i) => (i.toLong, "g", v) }
              .toDF("id", "grp", "v"), "grp", "v")
            .filter(col("is_outlier")).select("id").as[Long]
            .collect().toSet
        val base = vals.map(_.toDouble)
        val flags = flagsOf(base)
        // shift + positive scale must not change who is an outlier
        assert(flagsOf(base.map(v => v * 3.0 + 1000.0)) == flags)
        // driver-side reference: interpolated median, same formula
        def med(xs: Seq[Double]): Double = {
          val s = xs.sorted
          val p = (s.length - 1) * 0.5
          val lo = s(p.toInt); val hi = s(math.ceil(p).toInt)
          lo + (hi - lo) * (p - p.toInt)
        }
        val m = med(base)
        val mad = med(base.map(v => math.abs(v - m)))
        val want = base.zipWithIndex.collect {
          case (v, i) if mad != 0.0 &&
            math.abs(0.6745 * (v - m) / mad) > 3.5 => i.toLong
        }.toSet
        assert(flags == want, s"vals=$base m=$m mad=$mad")
      }
    }
  }

  test("psi: permutation-invariant in the input order, exactly 0 when " +
      "every period IS the baseline, and non-negative always") {
    val gen = for {
      rows <- Gen.listOfN(60, for {
        p <- Gen.choose(0, 2); v <- Gen.choose(0, 99)
      } yield (s"p$p", v.toDouble))
    } yield rows
    forAll(gen, n = 6) { rows =>
      whenever(rows.nonEmpty) {
        def psiOf(rs: Seq[(String, Double)]): Map[String, Double] =
          graft.operators.Profile.psi(rs.toDF("p", "v"), col("p"), "v",
            Seq(25.0, 50.0, 75.0))
            .collect().map(r => r.getAs[String]("period") ->
              r.getAs[Double]("psi")).toMap
        val a = psiOf(rows)
        assert(psiOf(scala.util.Random.shuffle(rows)) == a,
          "input order must not matter (exact decimal sums)")
        assert(a.values.forall(v => v >= -1e-9 && !v.isNaN && !v.isInfinite),
          s"PSI must be finite and non-negative-ish: $a")
        // collapse every row into ONE period: that period is the
        // baseline, so its PSI is exactly 0
        val one = psiOf(rows.map { case (_, v) => ("only", v) })
        assert(one == Map("only" -> 0.0))
      }
    }
  }

  test("resampleFfill: every grid value equals the latest observation " +
      "at or before the grid instant (driver-side replay), grid is " +
      "step-spaced per key, and counts match the span") {
    val gen = Gen.listOfN(25, for {
      k <- Gen.choose(0, 2)
      minute <- Gen.choose(0, 600) // within ~10h
      v <- Gen.choose(0, 1000)
    } yield (k.toLong, minute, v.toDouble))
    forAll(gen, n = 6) { rows =>
      whenever(rows.nonEmpty) {
        val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
        val df = rows.zipWithIndex.map { case ((k, m, v), i) =>
          (i.toLong, k, new java.sql.Timestamp(base + m * 60000L), v)
        }.toDF("event_id", "key", "ts", "value")
        val out = graft.operators.Temporal.resampleFfill(df, "key", "ts",
          "value", stepSec = 3600L, tieBreak = Seq("event_id"))
          .select($"key", $"grid_ts", $"value_ffill")
          .as[(Long, java.sql.Timestamp, Option[Double])].collect()
        // driver-side replay: latest (minute, event_id) at or before
        val byKey = rows.zipWithIndex
          .map { case ((k, m, v), i) => (k, m, v, i) }.groupBy(_._1)
        out.groupBy(_._1).foreach { case (k, grid) =>
          val obs = byKey(k)
          val sortedG = grid.sortBy(_._2.getTime)
          // step-spaced, starts at the aligned hour of the first obs
          val t0 = obs.map(_._2).min / 60 * 60 // minutes → aligned hour
          assert(sortedG.head._2.getTime == base + t0 * 60000L)
          sortedG.sliding(2).foreach {
            case Array(a, b) =>
              assert(b._2.getTime - a._2.getTime == 3600000L)
            case _ =>
          }
          sortedG.foreach { case (_, g, got) =>
            val gMin = ((g.getTime - base) / 60000L).toInt
            val eligible = obs.filter(_._2 <= gMin)
            val want =
              if (eligible.isEmpty) None
              else Some(eligible.maxBy(o => (o._2, o._4))._3)
            assert(got == want, s"key=$k grid=$g")
          }
        }
      }
    }
  }
}
