package graft

import org.apache.spark.sql.functions._
import graft.analytics.Dashboard
import graft.operators.{MinHash, Multimodal, VectorOps}

/** Operator-semantics tests for paths the sf-data oracle can't exercise
  * (empty anti-join, fully-populated pivot) plus the approximate
  * operators' planted-duplicate guarantees.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("tok7: organic sources encode with ZERO unk; synthetic lands at the planted third") {
    // the gate behind the UNK report: a vocab trained on this corpus
    // must cover every organic word exactly (any nonzero organic
    // unk_ppm means the encode path silently drops real data), and the
    // planted every-3rd-word source must land near 1/3 — sensitive to
    // both the LEFT-join accounting and the planting itself
    val rows = SparkEntry.queries("tok7_unk_accounting")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val (synth, organic) = rows.partition(_._1 == "synthetic")
    assert(organic.nonEmpty && organic.forall(_._5 == 0),
      s"organic source with nonzero unk_ppm: ${organic.filter(_._5 != 0).toSeq}")
    assert(organic.forall(r => r._2 == r._3 && r._4 == 0))
    assert(synth.length == 1)
    val s1 = synth.head
    assert(s1._5 > 250000 && s1._5 < 400000,
      s"synthetic unk_ppm ${s1._5} not near the planted 1/3")
    assert(s1._2 == s1._3 + s1._4, "known + unk must partition the word count")
  }

  test("left-anti join returns rows with no match (gap: j4 is empty on sf data)") {
    val part = Seq((1L, "B1"), (2L, "B1"), (3L, "B2")).toDF("p_partkey", "p_brand")
    val li = Seq(1L, 1L).toDF("l_partkey")
    val never = part.join(li, part("p_partkey") === li("l_partkey"), "left_anti")
    assert(never.select("p_partkey").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("pivot fills absent combinations with 0 (gap: all cells populated on sf data)") {
    val ev = Seq(("2024-01-01", "click"), ("2024-01-01", "click"), ("2024-01-02", "view"))
      .toDF("day", "event_type")
    val types = Seq("click", "view")
    val p = ev.groupBy("day").pivot("event_type", types).count()
    val filled = types.foldLeft(p)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
    val d2 = filled.filter(col("day") === "2024-01-02").first()
    assert(d2.getAs[Long]("click") == 0L && d2.getAs[Long]("view") == 1L)
  }

  test("normalizeColumns aliases only when target is absent") {
    val df = Seq((1, 20.0)).toDF("id", "temp")
    val out = Dashboard.normalizeColumns(df, Map("temp" -> "temperature"))
    assert(out.columns.toSeq == Seq("id", "temperature"))
    val both = Seq((1, 20.0, 21.0)).toDF("id", "temp", "temperature")
    assert(Dashboard.normalizeColumns(both, Map("temp" -> "temperature"))
      .columns.toSeq == Seq("id", "temp", "temperature")) // no clobber
  }

  test("dropAllNullColumns keeps partially-null, drops fully-null") {
    val df = Seq((1, Some("a")), (2, None)).toDF("id", "partial")
      .withColumn("empty", lit(null).cast("int"))
    val out = Dashboard.dropAllNullColumns(df)
    assert(out.columns.toSeq == Seq("id", "partial"))
  }

  test("shingling: docs with fewer than 3 tokens yield no shingles, no error") {
    import graft.operators.TextOps
    val docs = Seq((1L, "only two"), (2L, "a b c d"), (3L, "")).toDF("doc_id", "text")
    val sh = TextOps.shingles(docs).collect()
    assert(!sh.exists(_.getLong(0) == 1L) && !sh.exists(_.getLong(0) == 3L))
    assert(sh.count(_.getLong(0) == 2L) == 2) // "a b c", "b c d"
  }

  test("minhash LSH finds a one-word-edit near-duplicate") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = base.replace("w20", "zz") // 1 of 40 words changed
    val unrelated = (1 to 40).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = MinHash.nearDupPairs(docs, 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(pairs.head.getAs[Double]("est_jaccard") >= 0.5)
  }

  test("cosine: identical vectors score 1, orthogonal score 0") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val a = df.select(col("vec_id").as("v1"), col("embedding").as("e1"))
    val b = df.select(col("vec_id").as("v2"), col("embedding").as("e2"))
    val cos = a.crossJoin(b).filter(col("v1") < col("v2"))
      .withColumn("cos", VectorOps.cosine(col("e1"), col("e2")))
      .select("v1", "v2", "cos").as[(Long, Long, Double)].collect()
      .map { case (x, y, c) => (x, y) -> c }.toMap
    assert(math.abs(cos((1L, 2L)) - 1.0) < 1e-12)
    assert(math.abs(cos((1L, 3L))) < 1e-12)
  }

  test("identical embeddings share every LSH table code") {
    val v = Array.tabulate(64)(i => (math.sin(i) * 0.3).toFloat)
    val df = Seq((1L, v), (2L, v)).toDF("vec_id", "embedding")
      .withColumn("codes", VectorOps.lshCodes(col("embedding")))
    val codes = df.select("codes").as[Seq[Long]].collect()
    assert(codes(0) == codes(1))
    assert(codes(0).length == VectorOps.Tables_)
  }

  test("native lsh_codes equals the Column composition bit-for-bit (7 and 12 bits)") {
    graft.functions.NativeFunctions.register(spark)
    val vecs = (1 to 40).map(i =>
      (i.toLong, Array.tabulate(64)(j => (math.sin(i * 64 + j) * 0.4).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    for (bits <- Seq(VectorOps.Bits, VectorOps.NearDupBits)) {
      val both = df.select(
        VectorOps.lshCodes(col("embedding"), bits).as("ref"),
        call_function("lsh_codes", col("embedding"), lit(bits)).as("native"))
        .as[(Seq[Long], Seq[Long])].collect()
      both.foreach { case (ref, native) => assert(ref == native) }
    }
    // strict contract, BOTH formulations: null element or wrong
    // dimensionality → NULL codes (the row never enters a bucket)
    val bad = Seq(
      (1L, Array.tabulate(64)(i => if (i == 7) null
        else java.lang.Float.valueOf(0.1f * i))), // null element
      (2L, Array.tabulate(60)(i => java.lang.Float.valueOf(0.1f * i)))) // 60-dim
      .toDF("vec_id", "embedding")
    val strict = bad.select(
      VectorOps.lshCodes(col("embedding"), 7).as("ref"),
      call_function("lsh_codes", col("embedding"), lit(7)).as("native"))
      .collect()
    strict.foreach { r => assert(r.isNullAt(0) && r.isNullAt(1), r.toString) }
  }

  test("native cosine_sim equals the zip_with composition bit-for-bit") {
    graft.functions.NativeFunctions.register(spark)
    val vecs = (1 to 50).map(i =>
      (i.toLong, Array.tabulate(64)(j => (math.sin(i * 64 + j) * 0.4).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val a = df.select(col("vec_id").as("v1"), col("embedding").as("e1"))
    val b = df.select(col("vec_id").as("v2"), col("embedding").as("e2"))
    val both = a.crossJoin(b).filter(col("v1") < col("v2"))
      .select(
        VectorOps.cosine(col("e1"), col("e2")).as("lambda_cos"),
        expr("cosine_sim(e1, e2)").as("native_cos"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // bit-identical
  }

  test("connected components: chains collapse to one min-labeled cluster") {
    import graft.operators.DedupCluster
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // chain 1-2, 2-3 (transitive: {1,2,3}); pair 4-5; 9 is a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc1", "doc2")
    val got = DedupCluster.connectedComponents(docs, pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("star-contraction equals plain propagation on the d5 corpus") {
    import graft.operators.{DedupCluster, MinHash, TextOps}
    val sf = "/root/testdata/sf0.001"
    val corpus = TextOps.withDupes(graft.sources.Tables.documents(spark, sf))
      .select("doc_id")
    val pairs = MinHash.nearDupPairsFromSignatures(
      MinHash.signaturesArtifact(spark, sf), 0.5).select("doc1", "doc2")
    val plain = DedupCluster.connectedComponents(corpus, pairs)
      .as[(Long, Long)].collect().toMap
    val star = DedupCluster.connectedComponentsStar(corpus, pairs)
      .as[(Long, Long)].collect().toMap
    assert(plain.nonEmpty && star == plain)
    assert(plain.exists { case (d, c) => d != c }) // real clusters formed
  }

  test("auto-select routes long chains to star-contraction, duplicate-shaped graphs to propagation") {
    import graft.operators.DedupCluster
    // a planted 41-node chain: diameter 40, so plain propagation needs
    // ~40 rounds — the probe must give up and hand over to the O(log n)
    // contraction, and the labels must still all collapse to the min
    val chainDocs = (0L to 40L).toDF("doc_id")
    val chainPairs = (0L until 40L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val (chainLabels, chainAlgo) =
      DedupCluster.autoSelect(chainDocs, chainPairs, probeRounds = 4)
    assert(chainAlgo == "star")
    val got = chainLabels.as[(Long, Long)].collect().toMap
    assert(got == (0L to 40L).map(_ -> 0L).toMap)
    // a duplicate-shaped graph (tiny components) converges inside the
    // probe and never pays star-contraction's second shuffle per round
    val smallDocs = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    val smallPairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc1", "doc2")
    val (smallLabels, smallAlgo) =
      DedupCluster.autoSelect(smallDocs, smallPairs, probeRounds = 4)
    assert(smallAlgo == "propagation")
    assert(smallLabels.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("d16 keep-best: exactly one survivor per cluster, and it is the quality argmax") {
    val out = graft.SparkEntry.queries("d16_keep_best")(spark, "/root/testdata/sf0.001")
      .select("doc_id", "cluster_id", "quality", "is_kept")
      .as[(Long, Long, Double, Boolean)].collect()
    val byCluster = out.groupBy(_._2)
    assert(byCluster.nonEmpty)
    byCluster.foreach { case (_, members) =>
      val kept = members.filter(_._4)
      assert(kept.length == 1)
      // the survivor maximizes the µ-quantized score; ties fall to min id
      val key = (m: (Long, Long, Double, Boolean)) =>
        (math.round(m._3 * 1e6), -m._1)
      assert(key(kept.head) == members.map(key).max)
    }
    // the policy is observably different from d5's min-id rule: at least
    // one multi-doc cluster keeps a doc that is NOT its min-id member
    val divergent = byCluster.values.exists { ms =>
      ms.length > 1 && ms.filter(_._4).head._1 != ms.map(_._1).min
    }
    assert(divergent, "fixture never exercises the quality-over-min-id choice")
  }

  test("GraftExtensions builders construct working native expressions") {
    // the end-to-end extensions path needs its own JVM (getOrCreate here
    // would reuse the test session) — covered by the forked
    // `runMain graft.functions.GraftExtensions` sanity main; this pins
    // the injected builders themselves
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    // unit basis vector: norms are exactly 1, so self-cos is exactly 1.0
    val v = Literal.create(Seq(1.0f, 0.0f), ArrayType(FloatType))
    for ((name, builder) <- graft.functions.GraftExtensions.functions) {
      name match {
        case "lsh_codes" =>
          // strict contract: exactly Dim elements
          val v64 = Literal.create(
            Seq.tabulate(graft.functions.LshPlanes.Dim)(i => 0.01f * (i + 1)),
            ArrayType(FloatType))
          val r = builder(Seq(v64, Literal(7))).eval(null)
          val codes = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          assert(codes.numElements() == graft.functions.LshPlanes.Tables,
            s"$name should emit one code per table")
        case "dot_q" =>
          // unit basis vector quantizes to (1e6, 0) -> self-dot 1e12
          val r = builder(Seq(v, v)).eval(null)
          assert(r == 1000000000000L, s"$name self-dot should be 1e12, got $r")
        case "nfc_normalize" =>
          val r = builder(Seq(Literal("plain"))).eval(null)
          assert(r.toString == "plain", s"$name should be identity on NFC input")
        case "md5_prefix60" =>
          // conv(substr(md5('spark'),1,15),16,10) = 688788748498370921
          // (independently computed: md5('spark') = 98f11b7a7880169...)
          val r = builder(Seq(Literal("spark"))).eval(null)
          assert(r == 688788748498370921L, s"$name('spark') wrong: $r")
          val e = builder(Seq(Literal(""))).eval(null)
          assert(e == 955282973525019424L, s"$name('') wrong: $e")
        case _ =>
          val r = builder(Seq(v, v)).eval(null)
          assert(r == 1.0d, s"$name self-similarity should be exactly 1.0, got $r")
      }
    }
  }

  test("quantized cosine_sim_q: exact copies score exactly 1.0") {
    graft.functions.NativeFunctions.register(spark)
    val v = Array(0.5f, -1.25f, 3.0f)
    val df = Seq((v, v), (v, v.map(-_))).toDF("a", "b")
      .selectExpr("cosine_sim_q(a, b) AS c")
    val cs = df.as[Double].collect()
    assert(cs(0) == 1.0 && cs(1) == -1.0)
  }

  test("IVF probing: an exact copy of a centroid lands in that centroid's cell") {
    // 3-dim toy corpus: vec 0/1 act as centroids (vec_id < NCells);
    // vec 100 equals vec 0 so its top cell must be 0 and brute-force
    // top-1 neighbor of query 0 must be 100 with cosine 1.
    graft.functions.NativeFunctions.register(spark)
    val e0 = Array(1.0f, 0.0f, 0.0f)
    val e1 = Array(0.0f, 1.0f, 0.0f)
    val copy = Array(1.0f, 0.0f, 0.0f)
    val emb = Seq((0L, e0), (1L, e1), (100L, copy)).toDF("vec_id", "embedding")
    val cos = emb.filter(col("vec_id") === 100)
      .select(call_function("cosine_sim_q", col("embedding"), typedLit(e0.toSeq)))
      .as[Double].first()
    assert(cos == 1.0)
  }

  test("gap fill: missing buckets get 0-count and carried-forward average") {
    import graft.analytics.BatchSessionOps
    def ts(h: Int) = new java.sql.Timestamp(1700000000000L + h * 3600000L)
    // series A observed in bucket 0 and bucket 2 (6h buckets); bucket 1
    // is a gap. Series B observed only in bucket 2 → its earlier grid
    // rows stay NULL (nothing to carry forward).
    val ev = Seq(
      (ts(0), "A", 10.0), (ts(1), "A", 20.0), // bucket 0: avg 15
      (ts(13), "A", 40.0), // bucket 2: avg 40
      (ts(13), "B", 7.0)
    ).toDF("ts", "event_type", "value")
    val out = BatchSessionOps.gapFill(ev)
      .select("event_type", "n_obs", "avg_filled")
      .as[(String, Long, Option[Double])].collect().toSeq
    val a = out.filter(_._1 == "A")
    assert(a == Seq(("A", 2L, Some(15.0)), ("A", 0L, Some(15.0)), ("A", 1L, Some(40.0))))
    val b = out.filter(_._1 == "B")
    assert(b == Seq(("B", 0L, None), ("B", 0L, None), ("B", 1L, Some(7.0))))
  }

  test("as-of join: strictly-prior match per key, nulls when none") {
    import graft.operators.AsOfJoin
    val left = Seq((1L, 10L, "l1"), (1L, 20L, "l2"), (2L, 5L, "l3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 15L, 150.0), (2L, 9L, 90.0))
      .toDF("k", "t", "price")
    val out = AsOfJoin.asofStrict(left, right, "k", "t", "t")
      .select(col("tag"), col("__match.t").as("mt"), col("__match.price").as("mp"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2))))).toMap
    assert(out("l1").isEmpty) // right@10 is NOT strictly before left@10
    assert(out("l2").contains((15L, 150.0))) // latest strictly-prior
    assert(out("l3").isEmpty) // right@9 is after left@5
  }

  test("approx sketches stay within error bounds of their exact twins") {
    import graft.sources.Tables
    val d = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, d)
    // HLL++ at rsd=0.02 vs exact distinct: allow 3 sigma ≈ 6%
    val exactU = ev.select(countDistinct(col("user_id"))).first().getLong(0)
    val approxU = ev.select(approx_count_distinct(col("user_id"), 0.02))
      .first().getLong(0)
    assert(math.abs(approxU - exactU).toDouble / exactU <= 0.06,
      s"approx $approxU vs exact $exactU")
    // t-digest at accuracy=10000 vs exact median: rank error <= n/10000,
    // bound the VALUE gap by the exact quantiles one rank-percent away
    val Array(lo, exact, hi) = ev.select(
      expr("percentile(value, array(0.49, 0.5, 0.51))")).first()
      .getSeq[Double](0).toArray
    val approxMed = ev.select(
      percentile_approx(col("value"), lit(0.5), lit(10000))).first().getDouble(0)
    assert(approxMed >= lo && approxMed <= hi,
      s"approx median $approxMed outside exact [$lo, $hi] around $exact")
  }

  test("Misra-Gries heavy-hitter candidates honor the n/(k+1) recall bound under skew") {
    import graft.operators.TextOps
    // planted skew: 20 heavy terms (5000 each) drowned in a 50k-term
    // singleton tail — n = 150k, k = 64 ⇒ bound n/(k+1) ≈ 2308, so the
    // decrement path runs constantly and every heavy term must still
    // surface in the candidate set (MG's recall guarantee).
    val heavy = (0 until 20).flatMap(i => Seq.fill(5000)(s"heavy_$i"))
    val tail = (0 until 50000).map(i => s"tail_$i")
    val terms = spark.createDataset(
      scala.util.Random.shuffle(heavy ++ tail))(
      org.apache.spark.sql.Encoders.STRING)
      .repartition(8).toDF("term")
    val k = 64
    val cand = TextOps.heavyHitterCandidates(spark, terms, k)
      .collect().map(_.getString(0)).toSet
    (0 until 20).foreach { i =>
      assert(cand.contains(s"heavy_$i"), s"heavy_$i missing from candidates")
    }
    // sketch stays sketch-sized: at most partitions·k candidates
    assert(cand.size <= 8 * k, s"candidate set ${cand.size} exceeds P*k")
    // and the two-pass top-N over candidates equals the exact top-N
    val exactTop = terms.groupBy("term").count()
      .orderBy(desc("count"), asc("term")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val viaSketch = terms.join(broadcast(
        TextOps.heavyHitterCandidates(spark, terms, k)), "term")
      .groupBy("term").count()
      .orderBy(desc("count"), asc("term")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaSketch == exactTop)
  }

  test("semantic dedup: planted copies share their original's cell and are the drop set") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("d9_semantic_dedup")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val planted = out.keys.filter(_ >= 1000000)
    assert(planted.nonEmpty)
    planted.foreach { pid =>
      val orig = pid - 1000000
      // an identical embedding scores identically against every
      // centroid, so the copy must land in the original's cell...
      assert(out(pid)._1 == out(orig)._1,
        s"copy $pid cell ${out(pid)._1} != original cell ${out(orig)._1}")
      // ...and cos(copy, original)=1 >= tau with the original's id lower,
      // so the copy is dropped while the original survives
      assert(!out(pid)._2, s"planted copy $pid should be dropped")
      assert(out(orig)._2, s"original $orig should be kept")
    }
  }

  test("incremental dedup: every verdict observable, corpus precedence over batch") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("d10_incremental_dedup")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // planted cross-batch copies of existing docs: already in the store
    val crossBatch = out.keys.filter(k => k >= 2000000 && k < 3000000)
    assert(crossBatch.nonEmpty)
    crossBatch.foreach(k => assert(out(k) == "dup_of_corpus", s"$k -> ${out(k)}"))
    // planted in-batch copies of incoming docs: lower-id twin is in the
    // SAME batch and not in the corpus -> dup_in_batch
    val inBatch = out.keys.filter(_ >= 3000000)
    assert(inBatch.nonEmpty)
    inBatch.foreach(k => assert(out(k) == "dup_in_batch", s"$k -> ${out(k)}"))
    // the incoming slice itself is disjoint from the corpus by
    // construction (no cross-slice duplicate text in the raw table)
    assert(out.filter(_._1 < 2000000).values.forall(_ == "new"))
  }

  test("d10 bucketed screen rebuilds when the source is regenerated at the same path") {
    import graft.operators.IncrementalDedup
    val dir = tmpDir("graft-incdedup-stale")
    def writeDocs(rows: Seq[(Long, String)]): Unit =
      spark.createDataFrame(rows).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def screened: Set[Long] = IncrementalDedup.bucketedScreen(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // v1: all texts distinct. corpus = ids %4 != 0; incoming = {0, 4} +
    // planted 2000001 (text of corpus doc 1) + 3000000 (text of doc 0)
    writeDocs((0L to 7L).map(i => i -> s"text-$i"))
    assert(screened == Set(0L, 4L, 3000000L)) // 2000001 screened out by the store
    // v2: regenerate AT THE SAME PATH with corpus doc 2 now sharing doc
    // 0's text — the store must pick it up, screening out 0 and 3000000.
    // A catalog-existence-only cache would keep serving the v1 answer.
    writeDocs((0L to 7L).map(i => i -> (if (i == 2) "text-0" else s"text-$i")))
    assert(screened == Set(4L),
      "bucketed screen served a stale fingerprint table after source regeneration")
  }

  test("z-order layout clusters the non-leading dimension; a single-column sort scatters it") {
    import graft.operators.ZOrder
    val d = "/root/testdata/sf0.01"
    val out = tmpDir("graft-zorder")
    val zf = ZOrder.zframe(spark, d) // doc_id, x, y, zval
    // two physical layouts of the same rows, 16 files each: sorted by
    // the single leading column x, vs sorted by the interleaved z-value
    zf.repartitionByRange(16, col("x"), col("doc_id"))
      .write.parquet(s"$out/by_x")
    zf.repartitionByRange(16, col("zval"), col("doc_id"))
      .write.parquet(s"$out/by_z")
    def filesTouched(path: String): Long =
      spark.read.parquet(path).filter(col("y").between(96, 111))
        .select(input_file_name()).distinct().count()
    val (byX, byZ) = (filesTouched(s"$out/by_x"), filesTouched(s"$out/by_z"))
    // y is uniform and independent of x, so a 16/256 y-band lands in
    // nearly every x-sorted file; the z-layout's top bits interleave y,
    // confining the band to the file ranges whose y bit-prefix matches.
    // This distinct-file count is exactly what row-group/file min-max
    // pruning skips on a real lake layout.
    assert(byZ * 2 <= byX,
      s"z-layout should touch at most half the files for a y-band: by_x=$byX by_z=$byZ")
  }

  test("d11 sorted-neighborhood: planted exact and near copies are caught in-window") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("d11_sorted_neighborhood")(spark, d)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2))).toMap
    // exact planted copies (+5000000): verbatim text sorts IMMEDIATELY
    // adjacent to its original (tie on k, broken by doc_id) — always
    // within the window, always Jaccard 1.0
    val exact = out.keys.filter(_ >= 5000000)
    assert(exact.nonEmpty)
    exact.foreach { k =>
      assert(out(k)._2, s"exact copy $k not flagged")
      assert(out(k)._1.exists(_ < k), s"exact copy $k matched a later id")
    }
    // near copies (+4000000, two tokens appended): same block (prefix
    // unchanged), high word overlap — flagged unless real corpus
    // neighbors crowd the window; require the bulk caught
    val near = out.keys.filter(k => k >= 4000000 && k < 5000000)
    assert(near.nonEmpty)
    val caught = near.count(out(_)._2)
    assert(caught * 10 >= near.size * 9,
      s"only $caught of ${near.size} planted near-copies flagged")
  }

  test("d13 edit distance: exact copies always caught, near copies within the 20% budget") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("d13_edit_distance")(spark, d)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2))).toMap
    val exact = out.keys.filter(_ >= 5000000)
    assert(exact.nonEmpty)
    exact.foreach { k =>
      assert(out(k)._2, s"verbatim copy $k (distance 0) not flagged")
      assert(out(k)._1.exists(_ < k), s"exact copy $k matched a later id")
    }
    // 10 appended chars vs ≥47-char docs is always within 5·d ≤ max(len),
    // so misses can only come from window crowding — require the bulk
    val near = out.keys.filter(k => k >= 4000000 && k < 5000000)
    assert(near.nonEmpty)
    val caught = near.count(out(_)._2)
    assert(caught * 10 >= near.size * 9,
      s"only $caught of ${near.size} planted near-copies flagged")
  }

  test("t11 vectorize: id sequence aligns with tokens, OOV observable, ids bounded") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("t11_vectorize")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    val texts = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    assert(out.keySet == texts.keySet)
    out.foreach { case (id, (nTok, nOov, csv)) =>
      val ids = csv.split(",").map(_.toLong)
      assert(ids.length == nTok, s"doc $id: ${ids.length} ids vs $nTok tokens")
      assert(nTok == texts(id).split(" ").length.toLong)
      assert(ids.forall(i => i >= 0 && i <= 24))
      assert(ids.count(_ == 0).toLong == nOov)
      assert(nOov <= nTok)
    }
    // V=24 sits below the corpus's distinct-word count, so the OOV
    // branch must fire on real rows somewhere
    assert(out.values.exists(_._2 > 0), "no OOV observed — fixture not discriminating")
    // same token → same id everywhere: the most common token's id is
    // consistent across docs (spot-check via the rank-1 id's presence)
    assert(out.values.forall(v => v._3.split(",").nonEmpty))
  }

  test("d14 recall curve: verbatim at 1.0, non-increasing with severity, hardest class misses") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("d14_dedup_recall")(spark, d)
      .collect().map(r => (r.getInt(0), r.getDouble(4))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2, 3))
    assert(rows.head._2 == 1.0, "verbatim copies must always be caught")
    rows.map(_._2).toSeq.sliding(2).foreach { case Seq(a, b) =>
      assert(a >= b, s"recall must not rise with severity: ${rows.mkString(", ")}")
    case _ => () }
    assert(rows.last._2 < 1.0,
      "the hardest class must show misses or the fixture isn't discriminating")
  }

  test("d9 pins no new storage blocks per execution (artifact-backed, not checkpoint-backed)") {
    val d = "/root/testdata/sf0.001"
    SparkEntry.queries("d9_semantic_dedup")(spark, d).collect()
    val after1 = spark.sparkContext.getPersistentRDDs.size
    SparkEntry.queries("d9_semantic_dedup")(spark, d).collect()
    val after2 = spark.sparkContext.getPersistentRDDs.size
    // <= not ==: the async ContextCleaner may GC some OTHER test's
    // dereferenced localCheckpoint between the two samples (observed in
    // full-suite runs), and that shrink is not a d9 leak — only GROWTH
    // per execution is
    assert(after2 <= after1,
      s"each d9 execution pins another block set: $after1 -> $after2")
  }

  test("ann recall eval: hits bounded by both sides and recall in [0,1]") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("v6_ann_recall")(spark, d).collect()
    assert(rows.length == 10) // one row per query vector
    rows.foreach { r =>
      val (nExact, nAnn, nHit, recall) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nExact == 10)
      assert(nHit <= math.min(nExact, nAnn))
      assert(recall >= 0.0 && recall <= 1.0)
      assert(recall == nHit.toDouble / nExact)
    }
  }

  test("nfc_normalize: codegen and interpreted agree; t9 probes clean as designed") {
    graft.functions.NativeFunctions.register(spark)
    import spark.implicits._
    // codegen path (whole-stage) — decomposed e+U+0301 composes to 1 char
    val out = Seq("café", "café", "plain", null.asInstanceOf[String])
      .toDF("t").select(call_function("nfc_normalize", col("t")).as("n"))
      .collect().map(r => Option(r.getString(0)))
    assert(out(0).contains("café") && out(0).get.length == 4)
    assert(out(1).contains("café")) // already-NFC: identity
    assert(out(2).contains("plain"))
    assert(out(3).isEmpty) // null propagates
    // interpreted path must agree with codegen
    val e = graft.functions.NfcNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal("café"))
    assert(e.eval(null).toString == "café")
    // t9's probe rows: NFC + control-strip + collapse all observable
    val t9 = SparkEntry.queries("t9_normalize")(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 0).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(t9(-1L) == ((13L, 12L, true))) // decomposed 13 chars compose to 12
    assert(t9(-2L) == ((7L, 5L, true))) // BEL stripped, runs collapsed
    assert(t9(-3L) == ((13L, 13L, false))) // already clean: unchanged
  }

  test("token budget: kept set is a quality-rank prefix and the budget binds") {
    val rows = SparkEntry.queries("s4_token_budget")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(1), r.getLong(3), r.getLong(2), r.getBoolean(5)))
      .groupBy(_._1)
    rows.foreach { case (source, docs) =>
      val byRank = docs.sortBy(_._2)
      val keptFlags = byRank.map(_._4)
      // kept is a PREFIX of the ranking: once over budget, never kept again
      assert(!keptFlags.dropWhile(identity).contains(true),
        s"$source: kept set is not a rank prefix")
      val total = byRank.map(_._3).sum
      val keptTokens = byRank.filter(_._4).map(_._3).sum
      assert(keptTokens <= 0.5 * total, s"$source: budget exceeded")
      // the budget BINDS: the first dropped doc would overflow it
      byRank.find(!_._4).foreach { firstDropped =>
        assert(keptTokens + firstDropped._3 > 0.5 * total,
          s"$source: first dropped doc would still fit — not a tight prefix")
      }
    }
  }

  test("chunking: window/stride arithmetic covers every token exactly once per stride") {
    val d = "/root/testdata/sf0.001"
    import graft.sources.Tables
    val n = Tables.documents(spark, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chunks = SparkEntry.queries("c1_chunking")(spark, d)
      .select("doc_id", "chunk_idx", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(chunks.keySet == n.keySet) // every doc chunks, even tiny ones
    chunks.foreach { case (doc, cs) =>
      val expected = 1 + math.ceil(math.max(n(doc) - 32, 0) / 24.0).toLong
      assert(cs.length == expected, s"doc $doc: ${cs.length} chunks, expected $expected")
      // every chunk but the last is full; the last covers the tail
      val sorted = cs.sortBy(_._2)
      sorted.init.foreach(c => assert(c._3 == 32L, s"doc $doc chunk ${c._2} not full"))
      assert(sorted.last._3 == n(doc) - (expected - 1) * 24)
    }
  }

  test("sequence packing: two-phase prefix sum equals the naive global window") {
    import org.apache.spark.sql.expressions.Window
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("p11_sequence_packing")(spark, d)
    // naive single-partition cumsum — correct but unscalable; the
    // engine's bucketed two-phase form must be row-identical
    val naive = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .withColumn("cb", coalesce(sum("n").over(
        Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("n").as("n_tokens"),
        expr("cb div 256").as("first_example"),
        expr("(cb + n - 1) div 256").as("last_example"),
        expr("(cb + n - 1) div 256 - cb div 256 + 1").as("n_examples"))
      .orderBy("doc_id")
    assert(out.collect().toSeq == naive.collect().toSeq)
    // global closure: the final doc's last example is the stream total's
    val rows = out.collect()
    val total = rows.map(_.getLong(1)).sum
    assert(rows.last.getLong(3) == (total - 1) / 256)
    assert(rows.head.getLong(2) == 0L)
  }

  test("compaction: many tiny files collapse to few, rows and values intact") {
    import graft.sinks.{Compaction, VersionedStore}
    val dir = tmpDir("graft-compact") + "/events_sink"
    // simulate a streaming sink's fragmentation: 64 single-row-ish files
    spark.range(0, 1000).toDF("id").repartition(64)
      .write.parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFilesIn(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    assert(parquetFilesIn(new org.apache.hadoop.fs.Path(dir)) == 64)
    val before = spark.read.parquet(dir).as[Long].collect().sorted.toSeq
    val written = Compaction.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    val live = VersionedStore.resolve(spark, dir).get
    assert(written == 1 && parquetFilesIn(live) == 1)
    // migration moved the legacy root files into the versioned layout;
    // after the compaction flip the migrated version survives as the
    // one-deep reader grace window (live + 1 superseded, nothing older)
    assert(parquetFilesIn(new org.apache.hadoop.fs.Path(dir)) == 0)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(_.getPath.getName.startsWith("v_")) == 2)
    val after = VersionedStore.read(spark, dir).as[Long].collect().sorted.toSeq
    assert(after == before)
  }

  test("partition-aware compaction keeps the hive layout, rows, and splits skew") {
    import graft.sinks.{Compaction, VersionedStore}
    val dir = tmpDir("graft-compact-part") + "/events_by_day"
    // skewed: day 'hot' holds 900 of 999 rows
    spark.range(0, 999).toDF("id")
      .withColumn("day", when(col("id") < 900, "hot").otherwise((col("id") % 3).cast("string")))
      .repartition(16)
      .write.partitionBy("day").parquet(dir)
    val srcBytes = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(new org.apache.hadoop.fs.Path(dir)).getLength
    }
    // target ~ an eighth of the store, so 'hot' must split into several
    // buckets while the three cold days stay at one file each
    Compaction.compact(spark, dir, targetFileBytes = srcBytes / 8,
      partitionBy = Seq("day"))
    val live = VersionedStore.resolve(spark, dir).get
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dayDirs = fs.listStatus(live)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("day="))
    assert(dayDirs.length == 4, dayDirs.map(_.getPath.getName).mkString(","))
    def filesIn(name: String) = fs.listStatus(new org.apache.hadoop.fs.Path(live, name))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(filesIn("day=hot") >= 2,
      s"skewed partition should split, got ${filesIn("day=hot")} file(s)")
    Seq("day=0", "day=1", "day=2").foreach(d =>
      assert(filesIn(d) == 1, s"$d should stay a single file"))
    val back = VersionedStore.read(spark, dir)
    assert(back.count() == 999)
    assert(back.select("day").distinct().count() == 4)
  }

  test("partition-aware compaction keeps NULL partition values and survives empty stores") {
    import graft.sinks.{Compaction, VersionedStore}
    // NULL partition values land in __HIVE_DEFAULT_PARTITION__ and must
    // survive the rewrite (an equi-join-based bucketing would drop them)
    val dir = tmpDir("graft-compact-null") + "/store"
    spark.range(0, 100).toDF("id")
      .withColumn("day", when(col("id") < 90, "d1"))
      .write.partitionBy("day").parquet(dir)
    Compaction.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024,
      partitionBy = Seq("day"))
    val back = VersionedStore.read(spark, dir)
    assert(back.count() == 100)
    assert(back.filter(col("day").isNull).count() == 10)
    // an all-empty store compacts without error
    val empty = tmpDir("graft-compact-empty") + "/store"
    spark.range(0, 1).toDF("id").withColumn("day", lit("x")).filter(lit(false))
      .write.partitionBy("day").parquet(empty)
    Compaction.compact(spark, empty, targetFileBytes = 64L * 1024 * 1024,
      partitionBy = Seq("day"))
    assert(VersionedStore.resolve(spark, empty).nonEmpty)
  }

  test("migration rejects a dir whose only marker is partition-level (no root _SUCCESS, no data)") {
    import graft.sinks.Compaction
    // a partition subdir holding ONLY a _SUCCESS (e.g. an aborted writer
    // cleaned its data but not its marker) must not pass for a
    // legitimately-empty store: that proof is a ROOT-level _SUCCESS
    val dir = tmpDir("graft-migrate-nested-marker") + "/store"
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = new org.apache.hadoop.fs.Path(base, "day=0")
    fs.mkdirs(part)
    fs.create(new org.apache.hadoop.fs.Path(part, "_SUCCESS"), true).close()
    val err = intercept[java.io.IOException](
      Compaction.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024))
    assert(err.getMessage.contains("nothing to migrate"))
  }

  test("versioned store: a crash before the pointer flip leaves the old version live") {
    import graft.sinks.{Compaction, VersionedStore}
    val dir = tmpDir("graft-compact-crash") + "/store"
    spark.range(0, 100).toDF("id").repartition(8).write.parquet(dir)
    Compaction.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024) // migrates + compacts
    // simulate a writer that died AFTER writing its version dir (with
    // _SUCCESS) but BEFORE flipping the pointer: bogus data, no flip
    val orphan = new org.apache.hadoop.fs.Path(dir, "v_9999999999999_dead")
    spark.range(0, 3).toDF("id").write.parquet(orphan.toString)
    // readers never see the unflipped version...
    assert(VersionedStore.read(spark, dir).count() == 100)
    // ...and the next successful publish prunes the orphan
    Compaction.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    assert(VersionedStore.read(spark, dir).count() == 100)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(orphan))
  }

  test("legacy migration resumes after a mid-move crash without losing files") {
    import graft.sinks.{Compaction, VersionedStore}
    val dir = tmpDir("graft-migrate-crash") + "/store"
    spark.range(0, 500).toDF("id").repartition(8).write.parquet(dir)
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a migration that died halfway: some files already moved
    // into an unflipped v_ dir still carrying the _MIGRATING marker,
    // the rest at the root (real migrations drop the marker first)
    val dead = new org.apache.hadoop.fs.Path(dir, "v_0000000000000_dead")
    fs.mkdirs(dead)
    fs.create(new org.apache.hadoop.fs.Path(dead,
      graft.sinks.VersionedStore.MigratingMarker), true).close()
    val roots = fs.listStatus(base)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    roots.take(3).foreach { st =>
      assert(fs.rename(st.getPath,
        new org.apache.hadoop.fs.Path(dead, st.getPath.getName)))
    }
    Compaction.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    // every row survives: the rerun pulled the orphan's files back in
    assert(VersionedStore.read(spark, dir).count() == 500)
    assert(!fs.exists(dead))
  }

  test("a lost pointer repairs to the newest version — never duplicates rows") {
    import graft.sinks.{Compaction, VersionedStore}
    val dir = tmpDir("graft-lost-pointer") + "/store"
    spark.range(0, 200).toDF("id").repartition(4).write.parquet(dir)
    // two compactions leave live + grace versions on disk
    Compaction.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    Compaction.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(base).count(_.getPath.getName.startsWith("v_")) >= 2)
    // lose the pointer: the old merge-everything recovery would union
    // live + grace into 400 rows
    fs.delete(new org.apache.hadoop.fs.Path(base, "LATEST"), false)
    Compaction.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    assert(VersionedStore.read(spark, dir).count() == 200)
  }

  test("repair prefers a complete version over stale root files") {
    import graft.sinks.{Compaction, VersionedStore}
    val dir = tmpDir("graft-stale-root") + "/store"
    spark.range(0, 100).toDF("id").write.parquet(dir)
    Compaction.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crash between publish and the root sweep leaves already-merged
    // parquet at the root; later the pointer is lost too — the old
    // repair() refused (rootData) and migration would resurrect the
    // stale rows while pruning the newer merged version
    val stale = tmpDir("graft-stale-src") + "/old"
    spark.range(0, 7).toDF("id").coalesce(1).write.parquet(stale)
    val staleFile = fs.listStatus(new org.apache.hadoop.fs.Path(stale))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    fs.rename(staleFile, new org.apache.hadoop.fs.Path(base, "stale-legacy.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(base, "LATEST"), false)
    val repaired = VersionedStore.repair(spark, dir)
    assert(repaired.nonEmpty)
    assert(VersionedStore.read(spark, dir).count() == 100) // not 7, not 107
  }

  test("fingerprintOf sees leaf-file changes inside partitioned sources") {
    import graft.sinks.VersionedStore
    val src = tmpDir("graft-fp-nested") + "/tbl"
    spark.range(0, 20).toDF("id")
      .withColumn("day", (col("id") % 2).cast("string"))
      .write.partitionBy("day").parquet(src)
    val fp1 = VersionedStore.fingerprintOf(spark, src)
    assert(fp1 == VersionedStore.fingerprintOf(spark, src)) // deterministic
    // rewrite ONE partition's leaves: top-level entry names are
    // unchanged (day=0/, day=1/), so the old non-recursive listing
    // could miss this entirely
    Thread.sleep(1100) // ensure a coarse-mtime filesystem ticks over
    spark.range(100, 120).toDF("id").withColumn("day", lit("1"))
      .write.mode("overwrite").parquet(s"$src/day=1")
    assert(VersionedStore.fingerprintOf(spark, src) != fp1)
  }

  test("versioned store: fingerprint change invalidates a cached artifact") {
    import graft.sinks.VersionedStore
    val src = tmpDir("graft-vstore-src") + "/tbl"
    val store = tmpDir("graft-vstore") + "/artifact"
    spark.range(0, 10).toDF("id").write.parquet(src)
    def build() = VersionedStore.readOrBuild(spark, store,
      VersionedStore.fingerprintOf(spark, src)) { out =>
      spark.read.parquet(src).write.parquet(out)
    }
    assert(build().count() == 10)
    val v1 = VersionedStore.resolve(spark, store).get
    assert(build().count() == 10) // cache hit: same version served
    assert(VersionedStore.resolve(spark, store).get == v1)
    // regenerate the SOURCE at the same path -> fingerprint changes ->
    // the stale artifact must be rebuilt, not served (round-2 advisory)
    spark.range(0, 25).toDF("id").write.mode("overwrite").parquet(src)
    assert(build().count() == 25)
    assert(VersionedStore.resolve(spark, store).get != v1)
  }

  test("forward as-of join: strictly-later match per key, nulls when none") {
    import graft.operators.AsOfJoin
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 15L, 150.0)).toDF("k", "t", "v")
    val out = AsOfJoin.asofStrict(left, right, "k", "t", "t", forward = true)
      .select(col("tag"), col("__match.v").as("v"))
      .as[(String, Option[Double])].collect().toMap
    // t=10 left must NOT match the t=10 right (strict): nearest later is 15
    assert(out == Map("a" -> Some(150.0), "b" -> None, "c" -> None))
  }

  test("CSV/JSON export sinks round-trip") {
    import graft.sinks.Exports
    val df = Seq((1, "a"), (2, "b")).toDF("id", "name")
    val dir = tmpDir("graft-export")
    Exports.toCsv(df, s"$dir/csv")
    Exports.toJson(df, s"$dir/json")
    val csv = spark.read.option("header", "true").csv(s"$dir/csv")
    val json = spark.read.json(s"$dir/json")
    assert(csv.count() == 2 && json.count() == 2)
    assert(csv.columns.toSeq == Seq("id", "name"))
  }

  test("a table regenerated at the same path is read with its new schema, not the cached one") {
    import graft.sources.Tables
    val dir = tmpDir("graft-tables")
    Seq((1L, "x"), (2L, "y")).toDF("id", "a")
      .write.parquet(s"$dir/documents.parquet")
    assert(Tables.documents(spark, dir).columns.toSeq == Seq("id", "a"))
    Seq((1L, "p"), (2L, "q")).toDF("id", "b")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val again = Tables.documents(spark, dir)
    assert(again.columns.toSeq == Seq("id", "b"))
    assert(again.orderBy("id").select("b").as[String].collect().toSeq == Seq("p", "q"))
  }

  test("salted join produces identical results to the plain join") {
    import graft.operators.SkewJoin
    val left = (1 to 1000).map(i => (if (i % 10 == 0) 1L else i.toLong, s"l$i"))
      .toDF("k", "ltag") // key 1 is hot
    val right = (1L to 100L).map(k => (k, k * 2)).toDF("k", "rval")
    val plain = left.join(right, "k").select("k", "ltag", "rval")
    val salted = SkewJoin.saltedJoin(left, right, "k").select("k", "ltag", "rval")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("bucketed co-located join plans with zero shuffle exchanges") {
    import graft.analytics.ScaleOps
    // disable broadcast so the join would otherwise require a shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = ScaleOps.bucketedOrdersLineitem(spark, "/root/testdata/sf0.001")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("day-partitioned scan prunes to a single partition") {
    import graft.analytics.ScaleOps
    val df = ScaleOps.partitionedEventsScan(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    assert(df.collect().nonEmpty) // execute THIS queryExecution (count() would spawn another)
    // after execution, the scan's numFiles metric must equal the file
    // count of the ONE selected day partition (inputFiles would list the
    // whole relation pre-pruning)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
    }.flatten
    val scan = scans(df.queryExecution.executedPlan).head
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val liveVersion = graft.sinks.VersionedStore
      .resolve(spark, s"$warehouse/events_by_day_sf0.001").get.toString
    val dayFiles = new java.io.File(
      s"${liveVersion.stripPrefix("file:")}/day=2024-01-05")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(scan.metrics("numFiles").value == dayFiles,
      s"read ${scan.metrics("numFiles").value} files, partition has $dayFiles")
  }

  test("k-means: an emptied cell keeps its centroid and ties pick the lower id") {
    // seed vectors 0 and 1 are IDENTICAL: every vector scoring 1.0
    // against both assigns to cell 0 on the tie-break, so cell 1
    // empties after round 1 — the keep-old-centroid path (the sf data
    // never empties a cell, so only this spec exercises it)
    val base = Array.tabulate(64)(i => (math.sin(i) * 0.4).toFloat)
    val far = Array.tabulate(64)(i => (math.cos(i * 3) * 0.4).toFloat)
    val vecs = Seq(
      (0L, base), (1L, base), // identical seeds
      (2L, far),
      (3L, base.map(v => v * 0.9f)), // same direction as base
      (4L, far.map(v => v * 1.1f))) // same direction as far
      .toDF("vec_id", "embedding")
    // round 1: identical centroids -> every vector ties to cell 0, so
    // cell 1 empties. Update: c0 becomes the blend of all 5 vectors,
    // c1 KEEPS the exact base centroid (the COALESCE path). Round 2:
    // base-direction vectors score 1.0 against the kept c1 and move
    // there; far-direction vectors stay closer to the blended c0.
    val out = graft.operators.VectorOps.kmeansAssign(spark, vecs, k = 2, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(out(0L) == 1L && out(1L) == 1L && out(3L) == 1L,
      s"base vectors should land on the kept centroid: $out")
    assert(out(2L) == 0L && out(4L) == 0L, s"far vectors stay on the blend: $out")
  }

  test("passage blocks detect partial verbatim reuse, not just whole-doc copies") {
    import graft.operators.TextOps
    val passage = (1 to 8).map(i => s"tok$i").mkString(" ") // one exact block
    val docs = Seq(
      (1L, passage + " " + (1 to 8).map(i => s"a$i").mkString(" ")),
      (2L, passage + " " + (1 to 8).map(i => s"b$i").mkString(" ")), // shares block 0 only
      (3L, (1 to 16).map(i => s"c$i").mkString(" "))) // shares nothing
      .toDF("doc_id", "text")
    val bh = TextOps.passageBlockHashes(docs)
    assert(bh.groupBy("doc_id").count().orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    val shared = bh.as("a").join(bh.as("b"), "h")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).collect()
    assert(shared.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("d18 spans: planted shifted reuse yields multi-island spans; spans are disjoint maximal") {
    // the structural teeth: a planted doc (12-word prefix + unique
    // fillers + words 31-42 of its original) must report ≥ 2 spans —
    // the filler block BREAKS the island, proving the merge doesn't
    // over-coalesce — and its first span must start at 0 and cover the
    // full 12-word prefix; span geometry invariants hold everywhere
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("d18_substring_spans")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    for ((doc, spans) <- rows.groupBy(_._1)) {
      val sorted = spans.sortBy(_._2)
      for ((_, st, len, nw) <- sorted) {
        assert(len >= 8, s"doc $doc: span shorter than one window")
        assert(nw >= 1 && nw <= len - 7, s"doc $doc: window count $nw vs len $len")
      }
      for (pair <- sorted.sliding(2) if pair.size == 2)
        assert(pair(1)._2 > pair(0)._2 + pair(0)._3,
          s"doc $doc: islands ${pair(0)} and ${pair(1)} should have merged")
    }
    val plantedDocs = rows.filter(_._1 >= 30000000L).groupBy(_._1)
    assert(plantedDocs.nonEmpty, "no planted doc reported any span")
    for ((doc, spans) <- plantedDocs) {
      val sorted = spans.sortBy(_._2)
      assert(sorted.size >= 2,
        s"planted doc $doc: filler failed to break the span into islands: $sorted")
      assert(sorted.head._2 == 0 && sorted.head._3 >= 12,
        s"planted doc $doc: prefix span wrong: ${sorted.head}")
      // every planted ORIGINAL must report spans too (reuse is mutual)
      assert(rows.exists(_._1 == doc - 30000000L),
        s"original ${doc - 30000000L} of planted $doc reported no span")
    }
  }

  test("d19 span removal: planted copies stripped to fillers, canonical survives, span-free docs byte-identical") {
    // the three contracts the oracle hash can't state as invariants:
    // (a) a doc the cutter never touched reassembles BYTE-identically
    // (split+join is lossless on this corpus); (b) the planted shifted
    // copies lose exactly their duplicated mass — all 24 copied words
    // cut, the 8 unique fillers and nothing else surviving; (c) the
    // canonical (first) occurrence of a duplicated span survives: an
    // untouched original still carries the 12-word prefix its planted
    // copy lost. Plus teeth that ORGANIC cross-doc duplication is cut
    // (not just the planting).
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("d19_span_removal")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val orig = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out.nonEmpty)
    for ((id, nb, na, _) <- out) assert(na <= nb, s"doc $id gained tokens")
    // (a) byte-identity wherever nothing was cut
    val unchanged = out.filter { case (id, nb, na, _) => id < 30000000L && nb == na }
    assert(unchanged.nonEmpty)
    for ((id, _, _, txt) <- unchanged)
      assert(txt == orig(id), s"span-free doc $id did not reassemble byte-identically")
    // (b) planted copies: exactly the 8 unique fillers survive
    val planted = out.filter(_._1 >= 30000000L)
    assert(planted.nonEmpty, "no planted doc in the output")
    for ((id, nb, na, txt) <- planted) {
      val src = id - 30000000L
      assert(na == 8L, s"planted $id kept $na tokens, expected its 8 fillers")
      assert(txt == (0 to 7).map(i => s"x${src}f$i").mkString(" "),
        s"planted $id surviving text is not exactly its fillers: $txt")
      assert(nb == 32L, s"planted $id should enter with 12 + 8 + 12 tokens")
    }
    // (c) canonical survival: an untouched original keeps the prefix
    // its copy lost (the copy's text_clean has no original words at all
    // by (b), so the asymmetry is total)
    val byId = out.map(t => t._1 -> t).toMap
    val witness = planted.map(_._1 - 30000000L).filter { src =>
      byId.get(src).exists { case (_, nb, na, _) => nb == na }
    }
    assert(witness.nonEmpty, "no planted original left untouched — canonical pin has no witness")
    for (src <- witness) {
      val prefix = orig(src).split(" ").take(12).mkString(" ")
      assert(byId(src)._4.contains(prefix), s"original $src lost its canonical prefix")
    }
    // teeth: organic (non-planted-driven) duplication is also cut
    val organicTrimmed = out.filter { case (id, nb, na, _) => id < 30000000L && na < nb }
    assert(organicTrimmed.nonEmpty, "no organic doc was trimmed — cutter only sees the planting")
  }

  test("d7b decontamination: paraphrased item slips d7's needle but is caught at ≥ 50% window overlap") {
    // the discrimination d7b exists for: the planted bench items
    // (8 unique fillers + a 24-word verbatim slice) start with words
    // that appear NOWHERE in the corpus, so d7's first-3-words needle
    // misses them — while d7b flags them against their source doc with
    // strictly partial overlap. Organic items self-match at exactly
    // 100%.
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("d7b_overlap_decontam")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    for ((_, _, nw, np, ppm) <- rows) {
      assert(np <= nw && 2 * np >= nw, "flagged row violates the threshold definition")
      assert(ppm == 1000000L * np / nw, "ppm drifted from definition")
    }
    // organic self-matches: full overlap
    for (b <- 0L to 4L)
      assert(rows.exists(t => t._1 == b && t._2 == b && t._5 == 1000000L),
        s"bench doc $b does not self-match at 100%")
    // planted items flag their source doc with strictly partial overlap
    val plantedHits = rows.filter(t => t._2 >= 100L && t._1 == t._2 - 100L)
    assert(plantedHits.size == 5, s"expected all 5 planted items to flag their source: $plantedHits")
    for ((_, _, nw, np, _) <- plantedHits)
      assert(np < nw, "planted paraphrase should NOT be a verbatim full match")
    // d7's screen misses every planted item: its needle (the item's
    // first 3 words) contains filler tokens absent from every doc
    val texts = graft.sources.Tables.documents(spark, d)
      .select("text").as[String].collect()
    for (src <- 0 to 4) {
      val needle = s" z${src}p0 z${src}p1 z${src}p2 "
      assert(!texts.exists(t => (" " + t + " ").contains(needle)),
        s"planted item $src's needle unexpectedly appears verbatim — d7 would catch it")
    }
  }

  test("span window store pairs with d19's corpus: every doc's windows stored, planted ids match") {
    // the store and d19's rewrite plant through one helper
    // (TextOps.shiftedCopies): a doc of n tokens owns exactly
    // max(0, n - 7) stored windows, starting at 0 … n - 8
    val d = "/root/testdata/sf0.001"
    val docs = SparkEntry.queries("d19_span_removal")(spark, d)
      .select("doc_id", "n_before").as[(Long, Long)].collect().toMap
    val win = graft.operators.TextOps.spanWindowHashes(spark, d)
      .groupBy("doc_id")
      .agg(count(lit(1)), countDistinct("i"), min("i"), max("i"))
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(win.keySet.subsetOf(docs.keySet),
      s"windows of docs d19 never rewrites: ${(win.keySet -- docs.keySet).take(5)}")
    for ((id, n) <- docs) win.get(id) match {
      case None => assert(n < 8, s"doc $id ($n tokens) has no stored windows")
      case Some((_, c, starts, lo, hi)) =>
        assert(c == n - 7 && starts == c && lo == 0L && hi == n - 8,
          s"doc $id ($n tokens): $c windows, $starts distinct starts in [$lo, $hi]")
    }
    val planted = docs.keySet.filter(_ >= 30000000L)
    assert(planted.nonEmpty, "no planted doc")
    assert(win.keySet.filter(_ >= 30000000L) == planted,
      "the store's planted doc ids differ from d19's")
  }

  test("e2e2 span prep: each stage kills exactly its planted family; split and geometry recounted") {
    // stage attribution the final hash can't show: the byte-identical
    // copies (+1e6) die at the DEDUP stage (they pass the quality gate
    // by construction — same text as their surviving originals), the
    // shifted partial copies (+3e7) die at span-removal + length gate
    // (exact dedup cannot see them), and the originals of both
    // families SURVIVE — the chain removes duplication, not content.
    // Split assignment and survivor geometry are recounted in plain
    // JVM arithmetic.
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("e2e2_span_prep")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val ids = out.map(_._1).toSet
    assert(!ids.exists(id => id >= 1000000L && id < 30000000L),
      "a byte-identical planted copy survived the dedup stage")
    assert(!ids.exists(_ >= 30000000L),
      "a shifted partial copy survived span removal + the length gate")
    val orig = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // any planted copy whose ORIGINAL was gated out proves nothing;
    // require at least one surviving original per family and that no
    // surviving original lost its row to its own copy's removal
    val dupOriginals = orig.keys.filter(_ % 10 == 0).filter(ids)
    assert(dupOriginals.nonEmpty, "no exact-dup original survived — dedup teeth unobservable")
    val shiftOriginals = orig.keys
      .filter(id => id % 5 == 0 && orig(id).split(" ").length >= 48).filter(ids)
    assert(shiftOriginals.nonEmpty, "no shifted-copy original survived — span teeth unobservable")
    def bkt(id: Long): Long = (((id % 2147483648L) * 2654435761L) % 4294967296L) % 100
    for ((id, split, nClean, q) <- out) {
      val expected = if (bkt(id) < 80) "train" else if (bkt(id) < 90) "val" else "test"
      assert(split == expected, s"doc $id split drifted from s8's hash")
      assert(nClean >= 9, s"doc $id survived below the length gate")
      assert(q >= 0.5, s"doc $id survived below the quality gate")
      assert(nClean <= orig(id).split(" ").length, s"doc $id gained tokens in cleaning")
    }
  }

  test("t18 source overlap: shared-mass symmetric, ppm well-formed, planted synthetic reuse visible") {
    // the matrix semantics the oracle hash can't state: n_shared is
    // |A∩B| on distinct window hashes, so it must be SYMMETRIC in the
    // source pair (the ppm is not — it normalizes by A); shares are
    // bounded by the row source's total; and the planted 'synthetic'
    // source (verbatim 12-word prefixes of organic docs) must show
    // overlap in BOTH directions with at least one organic source
    val rows = SparkEntry.queries("t18_source_overlap")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty, "overlap matrix is empty — planting failed")
    val byPair = rows.map(t => (t._1, t._2) -> t._3).toMap
    for ((a, b, shared, na, ppm) <- rows) {
      assert(a != b, "diagonal must be excluded")
      assert(shared >= 1 && shared <= na, s"($a,$b): n_shared $shared vs n_a $na")
      assert(ppm == 1000000L * shared / na, s"($a,$b): ppm drifted from definition")
      assert(byPair.get((b, a)).contains(shared),
        s"($a,$b): shared window mass is not symmetric")
    }
    assert(rows.exists(t => t._1 == "synthetic" && t._5 > 0),
      "synthetic source shows no outgoing overlap")
    assert(rows.exists(t => t._2 == "synthetic" && t._5 > 0),
      "no organic source shows overlap INTO synthetic")
  }

  test("every events column is non-null somewhere at each sf (p5 oracle assumption)") {
    // p5_dropna_cols' oracle hardcodes the surviving projection, which
    // is only valid while no real events column is entirely NULL — pin
    // that assumption per dataset so a regenerated corpus that breaks
    // it fails HERE, not as a confusing p5 hash mismatch.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val ev = graft.sources.Tables.events(spark, s"/root/testdata/$sf")
      val counts = ev.select(ev.columns.map(c =>
        count(col(c)).as(c)).toSeq: _*).first()
      ev.columns.zipWithIndex.foreach { case (c, i) =>
        assert(counts.getLong(i) > 0, s"events.$c is all-NULL at $sf")
      }
    }
  }

  test("registerAll exposes the whole schema to plain spark.sql") {
    graft.sources.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val r = spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin)
    assert(r.count() == 5)
    // events went through the nanos->us conversion: ts is a timestamp
    assert(spark.sql("SELECT ts FROM events LIMIT 1").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // native functions work in the same SQL surface
    graft.functions.NativeFunctions.register(spark)
    val c = spark.sql(
      "SELECT cosine_sim_q(embedding, embedding) FROM embeddings LIMIT 1")
    // self-cos is n2/(sqrt(n2)*sqrt(n2)) — 1.0 up to one ulp unless the
    // squared norm happens to be a perfect square
    assert(math.abs(c.first().getDouble(0) - 1.0) < 1e-12)
  }

  test("multimodal decode is REAL: a known 2x2 PNG yields exact pixel features; encode/decode lossless") {
    // (1) the fixture-independent pin: hand-build a 2×2 gray PNG with
    // pixels [[0, 100], [200, 255]] via ImageIO directly and require
    // decodeBatch to measure EXACTLY those pixels — proving the decode
    // path reads real rasters, not any formula
    val img = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setSample(0, 0, 0, 0)
    img.getRaster.setSample(1, 0, 0, 100)
    img.getRaster.setSample(0, 1, 0, 200)
    img.getRaster.setSample(1, 1, 0, 255)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val known = Multimodal.decodeBatch(
      Seq(Multimodal.PngRow(7L, baos.toByteArray, 3))).head
    assert(known == Multimodal.MediaFeatures(7L, 4L, 2, 2, 3,
      (0 + 100 + 200 + 255).toDouble / (4 * 255.0)),
      s"decode of the known 2x2 PNG drifted: $known")
    // (2) encode→decode is lossless and matches the generating
    // formulas for an arbitrary hash seed
    val h = 987654321987654321L % (1L << 60)
    val (w, ht) = Multimodal.pngDims(h)
    val rt = Multimodal.decodeBatch(
      Multimodal.encodePngBatch(Seq((42L, h)))).head
    val expectedSum = (for (y <- 0 until ht; x <- 0 until w)
      yield (h + 31L * x + 17L * y) % 256).sum
    assert(rt.width == w && rt.height == ht && rt.n_bytes == w.toLong * ht)
    assert(rt.mean_level == expectedSum.toDouble / (w.toLong * ht * 255.0))
    assert(rt.n_frames == (1 + h % 30).toInt)
    // (3) the distributed stage: deterministic, one feature row per
    // media doc, levels in range
    val media = Multimodal.mediaPng(spark, "/root/testdata/sf0.001")
    val f1 = Multimodal.extractFeatures(media).orderBy("doc_id").collect()
    val f2 = Multimodal.extractFeatures(media).orderBy("doc_id").collect()
    assert(f1.toSeq == f2.toSeq) // deterministic
    assert(f1.forall(f => f.width >= 4 && f.height >= 3 &&
      f.mean_level >= 0 && f.mean_level <= 1))
    assert(f1.length == Multimodal.mediaDocs(spark, "/root/testdata/sf0.001").count())
    // (4) the m1 catalog probes keep their byte semantics: the
    // non-ASCII probe's payload is strictly longer in bytes than in
    // codepoints, and the binary probe stays NON-UTF-8 (a strict
    // decode must fail, or the arbitrary-bytes md5/length coverage
    // m1's oracle constants pin would silently degrade back to text)
    val rows = Multimodal.mediaTable(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.doc_id -> r.media).toMap
    val codepoints = Multimodal.NonAsciiProbe
      .codePointCount(0, Multimodal.NonAsciiProbe.length)
    assert(rows(-1L).length > codepoints)
    assert(rows(-2L).length == Multimodal.BinaryProbeBytes)
    val strictUtf8 = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
    assertThrows[java.nio.charset.CharacterCodingException] {
      strictUtf8.decode(java.nio.ByteBuffer.wrap(rows(-2L)))
    }
  }

  test("v18 filtered ANN: post ⊆ pre at never-worse ranks, labels honored, and the filter binds") {
    // the strategy-comparison semantics the oracle hash can't state as
    // invariants: (a) every returned candidate satisfies the metadata
    // filter (recounted from the embeddings table, no engine
    // machinery); (b) any allowed candidate in the flat top-10 (post)
    // must appear in the pre-filtered ranking at an equal-or-better
    // rank — filtering can only remove competitors; (c) the trade is
    // OBSERVABLE: some query's post list comes up short of 10 while
    // pre fills it (otherwise the query demonstrates nothing)
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("v18_filtered_ann")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val allowed = graft.sources.Tables.embeddings(spark, d)
      .filter(col("label") < 3).select("vec_id")
      .as[Long].collect().toSet
    for ((_, _, _, cand) <- rows)
      assert(allowed(cand), s"candidate $cand violates the label filter")
    val pre = rows.filter(_._1 == "pre").map(t => (t._2, t._4) -> t._3).toMap
    val post = rows.filter(_._1 == "post")
    assert(post.nonEmpty, "post-filter returned nothing anywhere")
    for ((_, q, rn, cand) <- post) {
      val pr = pre.get((q, cand))
      assert(pr.isDefined, s"post hit ($q, $cand) missing from the pre-filtered ranking")
      assert(pr.get <= rn, s"($q, $cand): pre rank ${pr.get} worse than post rank $rn")
    }
    // pre ranks are contiguous from 1 per query
    for ((q, g) <- rows.filter(_._1 == "pre").groupBy(_._2))
      assert(g.map(_._3).sorted.toSeq == (1 to g.size).toSeq, s"pre ranks not contiguous for $q")
    val preN = rows.filter(_._1 == "pre").groupBy(_._2).map { case (q, g) => q -> g.size }
    val postN = post.groupBy(_._2).map { case (q, g) => q -> g.size }
    assert(preN.exists { case (q, n) => n == 10 && postN.getOrElse(q, 0) < 10 },
      s"the filter never binds (pre fills 10 but post never short): pre=$preN post=$postN")
  }

  test("qa4 split leakage: planted cross-split dupes pin 1e6 ppm; organic partial leakage visible; split honored") {
    // the audit semantics beyond the oracle hash: (a) every reported
    // doc really is test-split under s8's hash (recomputed here in
    // plain JVM arithmetic, no engine machinery); (b) every planted
    // even-id test doc — whose full text re-appears as a train doc —
    // leaks at EXACTLY 1e6 ppm and is flagged; (c) the organic
    // gradient is observable: some docs leak partially (0 < ppm < 1e6,
    // the near-dup-straddling-the-split case) and some not at all
    val rows = SparkEntry.queries("qa4_split_leakage")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    def bkt(id: Long): Long = (((id % 2147483648L) * 2654435761L) % 4294967296L) % 100
    for ((id, nw, nt, ppm, fl) <- rows) {
      assert(bkt(id) >= 90, s"doc $id is not test-split under s8's hash")
      assert(nt >= 0 && nt <= nw, s"doc $id: $nt of $nw windows")
      assert(ppm == 1000000L * nt / nw, s"doc $id: ppm drifted from definition")
      assert(fl == (2 * nt >= nw), s"doc $id: flag drifted from the 50% threshold")
    }
    val even = rows.filter(_._1 % 2 == 0)
    assert(even.nonEmpty, "no planted-source test doc in the report")
    for ((id, _, _, ppm, fl) <- even)
      assert(ppm == 1000000L && fl, s"planted-dup test doc $id not fully leaked: $ppm")
    assert(rows.exists(t => t._4 > 0 && t._4 < 1000000L),
      "no partial organic leakage visible — the gradient the audit reports is absent")
    assert(rows.exists(_._4 == 0L), "every test doc leaks — the report cannot separate")
  }

  test("v19 exact rerank: l2 recounted independently, recall never below ADC, reorder observable") {
    // the refine contracts: (a) every returned l2 equals a plain-JVM
    // recount of the quantized integer L2 (no engine arithmetic); (b)
    // per query, refined recall@10 against the exact truth is >= the
    // ADC stack's (v11's guarantee: a truth member kept in the wide
    // stage-1 list always survives exact refinement); (c) refinement
    // observably does something: some query's refined top-10 differs
    // from v9's ADC top-10
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("v19_exact_rerank")(spark, d)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    def quant(x: Float): Long = graft.functions.CosineSimilarityQ.quantize(x)
    val vecs = graft.sources.Tables.embeddings(spark, d)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, a) => id -> a.map(quant).toArray }
    val byId = vecs.toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => val dl = x - y; dl * dl }.sum
    for ((qid, _, cid, got) <- rows)
      assert(got == l2(byId(qid), byId(cid)), s"($qid, $cid): l2 drifted from the recount")
    // rank contiguity + exact-order consistency within each query
    for ((q, g) <- rows.groupBy(_._1)) {
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to g.size).toSeq, s"ranks not contiguous for $q")
      assert(sorted.map(t => (t._4, t._3)).toSeq == sorted.map(t => (t._4, t._3)).sortBy(identity).toSeq,
        s"query $q: rn order disagrees with (l2, cand_id)")
    }
    // recall vs the exact truth, compared to v11's ADC recall
    val truth = vecs.filter(_._1 < 10).map { case (qid, qa) =>
      qid -> vecs.filter(_._1 != qid)
        .map { case (cid, ca) => (cid, l2(qa, ca)) }
        .sortBy(t => (t._2, t._1)).take(10).map(_._1).toSet
    }.toMap
    val v11 = SparkEntry.queries("v11_ivfpq_recall")(spark, d)
      .select("query_id", "n_hit").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val refinedByQ = rows.groupBy(_._1).map { case (q, g) => q -> g.map(_._3).toSet }
    for ((q, ids) <- refinedByQ) {
      val hit = ids.intersect(truth(q)).size.toLong
      assert(hit >= v11.getOrElse(q, 0L),
        s"query $q: refined recall $hit fell below ADC's ${v11.getOrElse(q, 0L)}")
    }
    val v9ids = SparkEntry.queries("v9_ivf_pq")(spark, d)
      .select("query_id", "rn", "cand_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).map { case (q, g) => q -> g.sortBy(_._2).map(_._3).toSeq }
    val refinedOrder = rows.groupBy(_._1).map { case (q, g) => q -> g.sortBy(_._2).map(_._3).toSeq }
    assert(refinedOrder.exists { case (q, ids) => v9ids.get(q).exists(_ != ids) },
      "refinement never changed any query's top-10 — the stage demonstrates nothing")
  }

  test("v7 pq: codes in range, identical vectors get identical codes and error") {
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val planted = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    val out = graft.operators.VectorOps.pqEncode(spark, emb.union(planted))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)), r.getLong(5))).toMap
    assert(out.size == emb.count() + planted.count())
    out.values.foreach { case ((c0, c1, c2, c3), err) =>
      Seq(c0, c1, c2, c3).foreach(c => assert(c >= 0 && c < 8))
      assert(err >= 0)
    }
    // PQ is a pure per-row function of the embedding once trained:
    // a byte-identical vector must encode to the same codes + error
    out.keys.filter(_ >= 1000000).foreach { id =>
      assert(out(id) == out(id - 1000000), s"copy $id encoded differently")
    }
    // the codebook actually discriminates: not all vectors share one code
    assert(out.values.map(_._1).toSet.size > 1)
  }

  test("v7 pq: every assigned code is the true integer-L2 argmin (independent Scala replay)") {
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = graft.operators.VectorOps.pqTrain(spark, emb)
    def quant(x: Float): Long = graft.functions.CosineSimilarityQ.quantize(x)
    val rows = graft.sources.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(quant).toArray))
    val encoded = SparkEntry.queries("v7_pq")(spark, d)
      .collect().map(r => r.getLong(0) ->
        (Array(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)), r.getLong(5))).toMap
    rows.foreach { case (id, xi) =>
      var totalErr = 0L
      for (m <- 0 until 4) {
        val sub = xi.slice(m * 16, (m + 1) * 16)
        // plain Scala argmin over exact integer L2 — a different code
        // path from the engine's argmax(2·dot_q − |c|²) structs
        val dists = books(m).map(c =>
          sub.zip(c).map { case (a, b) => val dl = a - b; dl * dl }.sum)
        val best = dists.zipWithIndex.minBy { case (dist, k) => (dist, k) }
        assert(encoded(id)._1(m) == best._2.toLong,
          s"vec $id subspace $m: engine chose ${encoded(id)._1(m)}, argmin is ${best._2}")
        totalErr += best._1
      }
      assert(encoded(id)._2 == totalErr, s"vec $id sq_err mismatch")
    }
  }

  test("v8 adc: full top-10 per query, sorted, and bounded below by the query's own sq_err") {
    val d = "/root/testdata/sf0.001"
    val adc = SparkEntry.queries("v8_pq_adc")(spark, d)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val byQ = adc.groupBy(_._1)
    assert(byQ.size == 10)
    byQ.values.foreach { rows =>
      assert(rows.length == 10)
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._4).sliding(2).forall(p => p.head <= p.last),
        "adist must be non-decreasing in rank")
    }
    // Σ_m min_k lut[m][k] is the query's OWN reconstruction error (its
    // codes argmin each subspace), so no candidate can score below v7's
    // sq_err for that query — the cross-operator lower bound
    val sqErr = SparkEntry.queries("v7_pq")(spark, d)
      .select(col("vec_id"), col("sq_err")).as[(Long, Long)].collect().toMap
    byQ.foreach { case (q, rows) =>
      val top1 = rows.minBy(_._2)._4
      assert(top1 >= sqErr(q),
        s"query $q: adc top-1 $top1 below its own reconstruction error ${sqErr(q)}")
    }
  }

  test("adc serving: broadcast LUT path is bit-identical to the literal path and batch-independent at 500 queries") {
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrain(spark, emb)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    // 10 queries → literal path (LUTs inlined, no join)
    val lit10 = rows(VectorOps.adcSearch(spark, emb,
      emb.filter(col("vec_id") < 10), 10, Some(books)))
    assert(lit10.length == 100)
    // every vector as a query (500 at sf0.001) → broadcast LUT path.
    // The production reranker batch: must complete with a constant-size
    // plan and return k rows per query.
    val nQ = emb.count()
    assert(nQ > VectorOps.AdcLiteralMax, s"fixture too small: $nQ")
    val b500 = rows(VectorOps.adcSearch(spark, emb, emb, 10, Some(books)))
    assert(b500.length == nQ * 10, s"expected ${nQ * 10} rows, got ${b500.length}")
    // per-query results are independent of the rest of the batch, so the
    // big-batch run restricted to the small batch's queries must be
    // BIT-IDENTICAL to the literal-path run — same ids, ranks, distances
    assert(b500.filter(_._1 < 10) == lit10,
      "broadcast-path results diverge from the literal path")
    // and the keyed (v9) shape: same candidates scored through
    // adcScoreKeyed's broadcast join must carry identical distances
    val q32 = emb.filter(col("vec_id") < 32)
    val qs32 = VectorOps.collectQueries(q32)
    val codes = VectorOps.pqEncode(spark, emb)
      .drop("sq_err").withColumnRenamed("vec_id", "cand_id")
    val cand = codes.crossJoin(broadcast(q32.select(col("vec_id").as("query_id"))))
    val keyed = VectorOps.adcScoreKeyed(spark, cand, qs32, books)
      .select("query_id", "cand_id", "adist")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val all = VectorOps.adcScoreAll(spark, codes, qs32, books)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(keyed == all, "keyed broadcast scoring diverges from all-pairs scoring")
  }

  test("v15 MMR: selections are genuinely diversified and start at the relevance argmax") {
    // the property MMR exists for: within each query, the 5 selected
    // candidates' mean pairwise similarity must not exceed that of the
    // naive top-5-by-relevance set (equality allowed — on some queries
    // the two sets coincide), with at least one query strictly
    // diversified; and the first pick must be the pure relevance argmax
    val d = "/root/testdata/sf0.001"
    graft.functions.NativeFunctions.register(spark)
    val rows = SparkEntry.queries("v15_mmr_rerank")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.nonEmpty && byQ.values.forall(_.length == 5))
    val emb = graft.sources.Tables.embeddings(spark, d)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0L; var na = 0L; var nb = 0L
      var i = 0
      while (i < a.length) {
        val xa = math.round(a(i).toDouble * 1e6)
        val xb = math.round(b(i).toDouble * 1e6)
        dot += xa * xb; na += xa * xa; nb += xb * xb; i += 1
      }
      dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    def meanPairSim(ids: Seq[Long]): Double = {
      val ps = for (i <- ids.indices; j <- ids.indices if i < j)
        yield cos(emb(ids(i)), emb(ids(j)))
      ps.sum / ps.length
    }
    var strict = 0
    for ((qid, sel) <- byQ) {
      val ordered = sel.sortBy(_._2)
      // first pick = max rel (ties cand asc) among the union of what we
      // can see; at minimum it must carry the highest rel_micro of the
      // five selected and mmr == rel on step 1
      assert(ordered.head._4 == ordered.map(_._4).max,
        s"q$qid: first pick is not the relevance argmax of the selection")
      assert(ordered.head._4 == ordered.head._5, s"q$qid: step-1 mmr must equal rel")
      // mmr = rel − max-sim-to-selected with sim ∈ [−1e6, 1e6] micro
      // (an anti-correlated nearest-selected legitimately RAISES mmr
      // above rel), so the exact bound is rel ± 1e6
      assert(ordered.tail.forall(r =>
        r._5 >= r._4 - 1000000L && r._5 <= r._4 + 1000000L),
        s"q$qid: a step's mmr is outside the rel ± max-cosine band")
      // diversity vs the naive top-5-by-relevance, recounted driver-side
      // over the full corpus with the same quantized cosine
      val q = emb(qid)
      val naive = emb.keys.filter(_ != qid).toSeq
        .map(c => (c, cos(q, emb(c))))
        .sortBy { case (c, s2) => (-s2, c) }.take(5).map(_._1)
      val mmrSim = meanPairSim(ordered.map(_._3).toSeq)
      val naiveSim = meanPairSim(naive)
      assert(mmrSim <= naiveSim + 1e-9,
        s"q$qid: MMR set less diverse than naive top-5 ($mmrSim vs $naiveSim)")
      if (mmrSim < naiveSim - 1e-9) strict += 1
    }
    assert(strict >= 1, "MMR never diversified beyond the naive top-5 anywhere")
  }

  test("ivfServe: a 32-query batch (broadcast LUT path) reproduces v9 per query exactly") {
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val codes = VectorOps.codesArtifact(spark, d)
    val big = VectorOps.ivfServe(spark, emb, emb.filter(col("vec_id") < 32), 10,
        Some(books), Some(codes))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(big.map(_._1).distinct.length == 32)
    // per-query results are independent of the batch: restricted to
    // v9's fixed query set they must match v9 row-for-row
    val v9 = SparkEntry.queries("v9_ivf_pq")(spark, d)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(big.filter(_._1 < 10).toSeq == v9.toSeq,
      "big-batch IVF serving diverges from v9's literal-path output")
  }

  test("v11 ivf-pq recall: bounded, non-degenerate, and consistent with v9's row counts") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("v11_ivfpq_recall")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.length == 10)
    rows.foreach { case (q, nExact, nAnn, nHit, recall) =>
      assert(nExact == 10, s"query $q truth must be a full top-10")
      assert(nAnn <= 10 && nHit <= nAnn.min(nExact))
      assert(recall >= 0.0 && recall <= 1.0 && recall == nHit.toDouble / nExact)
    }
    // the eval must discriminate: the compressed index finds SOME of the
    // exact neighbors but not all (nprobe=2 of 16 cells + 4-code PQ is
    // deliberately lossy — a 1.0 here would mean the fixture can't see
    // the dials it exists to tune)
    val mean = rows.map(_._5).sum / rows.length
    assert(mean > 0.0 && mean < 1.0, s"degenerate recall curve: mean $mean")
    // and the ANN side is literally v9's output
    val v9n = SparkEntry.queries("v9_ivf_pq")(spark, d).collect()
      .map(r => r.getLong(0)).groupBy(identity).view.mapValues(_.length).toMap
    rows.foreach { case (q, _, nAnn, _, _) =>
      assert(v9n.getOrElse(q, 0) == nAnn, s"query $q: n_ann $nAnn != v9 rows")
    }
  }

  test("adc serving: an empty query batch returns an empty, correctly-shaped result") {
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val codes = VectorOps.codesArtifact(spark, d)
    val out = VectorOps.adcSearch(spark, emb,
      emb.filter(col("vec_id") < 0), 10, Some(books), Some(codes))
    assert(out.columns.toSeq == Seq("query_id", "rn", "cand_id", "adist"))
    assert(out.count() == 0)
    val ivf = VectorOps.ivfServe(spark, emb,
      emb.filter(col("vec_id") < 0), 10, Some(books), Some(codes))
    assert(ivf.columns.toSeq == Seq("query_id", "rn", "cand_id", "adist"))
    assert(ivf.count() == 0)
  }

  test("incremental index append: bootstrap + append equals one-shot encode, old version time-travels") {
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val base = tmpDir("graft-pq-index") + "/codes"
    val oldV = emb.filter(col("vec_id") % 5 =!= 0)
    val newV = emb.filter(col("vec_id") % 5 === 0)
    VectorOps.appendCodes(spark, base, oldV, books) // bootstrap
    val served = VectorOps.appendCodes(spark, base, newV, books) // ingest
    assert(served.count() == emb.count())
    // serving from the appended store is exactly serving from a one-shot
    // re-encode of the full corpus
    val qs = emb.filter(col("vec_id") < 10)
    val viaStore = VectorOps.adcSearch(spark, emb, qs, 10, Some(books), Some(served))
      .collect().toSeq
    val oneShot = VectorOps.adcSearch(spark, emb, qs, 10, Some(books), None)
      .collect().toSeq
    assert(viaStore == oneShot)
    // the pre-append table survived the publish as a time-travel target
    val vs = graft.sinks.VersionedStore.listVersions(spark, base)
    assert(vs.size >= 2)
    assert(graft.sinks.VersionedStore
      .readVersion(spark, base, vs(vs.size - 2)).count() == oldV.count())
  }

  test("corpusArtifact logicKey: a build-logic change rebuilds instead of serving the stale cache") {
    // the round-11 hazard made concrete by the stemmer fix: artifacts
    // key on the SOURCE fingerprint, so two different build expressions
    // under the same name would serve whichever built first. With the
    // logic string folded into the artifact name, each logic version
    // gets its own cache — same name + same logic = reuse, same name +
    // different logic = rebuild
    import spark.implicits._
    import graft.sinks.VersionedStore
    val d = "/root/testdata/sf0.001"
    val name = s"logickey_probe_${System.nanoTime()}"
    var builds = 0
    def artifact(logic: String) =
      VersionedStore.corpusArtifact(spark, d, name, logicKey = logic) { out =>
        builds += 1
        Seq(logic).toDF("which").write.parquet(out)
      }
    assert(artifact("analyzer-v1").collect().map(_.getString(0)).toSeq == Seq("analyzer-v1"))
    assert(artifact("analyzer-v1").collect().map(_.getString(0)).toSeq == Seq("analyzer-v1"))
    assert(builds == 1, "same logic must reuse the cache")
    assert(artifact("analyzer-v2").collect().map(_.getString(0)).toSeq == Seq("analyzer-v2"),
      "a changed build logic served the stale cache")
    assert(builds == 2, "changed logic must rebuild")
    assert(artifact("analyzer-v1").collect().map(_.getString(0)).toSeq == Seq("analyzer-v1"))
    assert(builds == 2, "both logic versions should persist independently")
  }

  test("term dictionary store: after-append dictionary equals from-scratch, and maintenance refreshes it") {
    // the r11/r12 serving artifact as DERIVED state of a maintained
    // store: version-keyed, so the dictionary can never serve a df the
    // store no longer has — after the second append (which changes df
    // for every term the new docs share) the served dictionary must be
    // EXACTLY the from-scratch dictionary of the full corpus
    import spark.implicits._
    import graft.operators.Retrieval
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d).select("doc_id", "text")
    val base = tmpDir("graft-dict-store") + "/postings"
    Retrieval.appendPostings(spark, base, docs.filter(col("doc_id") % 4 =!= 0))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("term", "df").collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val partial = norm(Retrieval.termDictStore(spark, base))
    // second append warms the dictionary eagerly (the opt-in
    // writer-pays path); the read below must still serve it fresh
    Retrieval.appendPostings(spark, base, docs.filter(col("doc_id") % 4 === 0),
      refreshDict = true)
    val served = norm(Retrieval.termDictStore(spark, base))
    val scratch = norm(Retrieval.dictRows(Retrieval.indexArtifact(spark, d)))
    assert(served == scratch,
      "after-append dictionary diverged from the from-scratch dictionary")
    assert(partial != served,
      "teeth: the pre-append dictionary should differ (df changed)")
  }

  test("spellcheck pruning is exact: gram/length candidates reproduce the full-vocabulary scan") {
    // the q-gram-lemma soundness claim, held to account beyond the six
    // fixture queries: for seeded 1-and-2-edit corruptions of real
    // vocabulary terms (plus no-match garbage), the pruned candidate
    // paths must recover EVERY term within edit distance 2 that the
    // unpruned vocabulary × query scan finds
    import spark.implicits._
    import graft.operators.Retrieval
    val d = "/root/testdata/sf0.001"
    val vocab = Retrieval.dictRows(Retrieval.indexArtifact(spark, d))
    val terms = vocab.select("term").collect().map(_.getString(0)).sorted
    val rnd = new scala.util.Random(421)
    def edit(w: String): String = {
      val c = ('a' + rnd.nextInt(26)).toChar
      val i = rnd.nextInt(w.length)
      rnd.nextInt(3) match {
        case 0 => w.updated(i, c).mkString            // substitute
        case 1 => w.take(i) + c + w.drop(i)            // insert
        case _ if w.length > 1 => w.take(i) + w.drop(i + 1) // delete
        case _ => w + c
      }
    }
    val queries = (0 until 24).map { qid =>
      val base = terms(rnd.nextInt(terms.length))
      qid -> (if (qid % 3 == 0) edit(base) else edit(edit(base)))
    } ++ Seq(24 -> "qqqqqqq", 25 -> "xq")
    assert(queries.exists(_._2.length >= Retrieval.GramMinQueryLen) &&
      queries.exists(_._2.length < Retrieval.GramMinQueryLen),
      s"fixture must exercise both candidate paths: $queries")
    def matches(cand: org.apache.spark.sql.DataFrame) =
      cand.withColumn("dist", levenshtein(col("mis"), col("term")))
        .filter(col("dist") <= 2)
        .select("qid", "term", "dist", "df").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val full = matches(vocab.crossJoin(
      broadcast(queries.toDF("qid", "mis"))).select("qid", "mis", "term", "df"))
    val pruned = matches(Retrieval.spellCandidates(spark, d, queries))
    assert(full.nonEmpty, "the corruption fixture found no matches at all")
    assert(pruned == full,
      s"pruned candidate generation lost or invented matches:\n" +
        s" full - pruned: ${(full.toSet -- pruned.toSet).take(5)}\n" +
        s" pruned - full: ${(pruned.toSet -- full.toSet).take(5)}")
  }

  test("bm25 stemmed-analyzer append: batch CRUD under the stemmed analyzer equals one-shot") {
    // the batch twin of the streaming stemmed ingest: the maintenance
    // ops take the analyzer, and a store maintained with the stemmed
    // analyzer across two appends must equal the one-shot stemmed
    // build — analyzer consistency across a store's life is the
    // operator contract (the scaladoc's one-analyzer-per-store rule)
    import spark.implicits._
    import graft.operators.Retrieval
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d).select("doc_id", "text")
      .union(Seq((900001L, "tables queries flies")).toDF("doc_id", "text"))
    val base = tmpDir("graft-bm25-stem-index") + "/postings"
    Retrieval.appendPostings(spark, base, docs.filter(col("doc_id") % 3 =!= 0),
      analyzer = Retrieval.stemmedAnalyzerSql)
    val store = Retrieval.appendPostings(spark, base, docs.filter(col("doc_id") % 3 === 0),
      analyzer = Retrieval.stemmedAnalyzerSql)
    def normalized(p: org.apache.spark.sql.DataFrame) =
      p.select("term", "doc_id", "tf", "dl", "df")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
    val oneShot = Retrieval.withDf(Retrieval.rawPostings(
      docs.select(col("doc_id"), expr(Retrieval.stemmedAnalyzerSql).as("toks"))))
    assert(normalized(store.drop("bkt")) == normalized(oneShot),
      "stemmed appended store diverged from the one-shot stemmed build")
    // the analyzer really ran: the plural-only doc is indexed under stems
    val planted = store.filter(col("doc_id") === 900001L)
      .select("term").collect().map(_.getString(0)).toSet
    assert(planted == Set("table", "query", "fly"), s"unexpected stems: $planted")
  }

  test("bm25 index append: bootstrap + append equals one-shot build, serves identically") {
    import spark.implicits._
    import graft.operators.Retrieval
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d).select("doc_id", "text")
    val base = tmpDir("graft-bm25-index") + "/postings"
    Retrieval.appendPostings(spark, base, docs.filter(col("doc_id") % 5 =!= 0))
    val store = Retrieval.appendPostings(spark, base, docs.filter(col("doc_id") % 5 === 0))
    // the merged store is EXACTLY the one-shot index (df refreshed by
    // the append's window, not stale from the bootstrap segment)
    def normalized(p: org.apache.spark.sql.DataFrame) =
      p.select("term", "doc_id", "tf", "dl", "df")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
    assert(normalized(store) == normalized(Retrieval.indexArtifact(spark, d)),
      "appended store diverges from the one-shot index")
    // the two stats paths agree EXACTLY on this corpus (no zero-token
    // docs): a future divergence is a stats regression, not a serving
    // one — pin it here so it is attributed correctly
    def statsRow(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(statsRow(Retrieval.statsFromPostings(store)) ==
      statsRow(Retrieval.statsArtifact(spark, d)),
      "postings-recovered stats diverge from the corpus statsArtifact")
    // add() is idempotent: re-appending an already-indexed batch is a
    // no-op (anti-join guard) — df/tf cannot be silently inflated
    val reAdd = Retrieval.appendPostings(spark, base,
      docs.filter(col("doc_id") % 5 === 0))
    assert(normalized(reAdd) == normalized(store),
      "re-appending an already-indexed batch changed the store")
    // serving from the appended store == the from-scratch r1 ranking,
    // with stats recovered from the postings themselves
    val qterms = Retrieval.fixtureQueries.toDF("query_id", "term")
    val served = Retrieval.serveBm25(store, Retrieval.statsFromPostings(store),
        qterms, Retrieval.fixtureQueries.map(_._2).distinct, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val scratch = SparkEntry.queries("r1_bm25")(spark, d)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(served == scratch, "appended-store serving diverged from r1")
    // the pre-append segment survives as a time-travel target
    val vs = graft.sinks.VersionedStore.listVersions(spark, base)
    assert(vs.size >= 2)
  }

  test("r13 graded metrics: nDCG/RR invariants hold and the dial separates") {
    // the metric-definition invariants no oracle hash can express:
    // both metrics live in [0, 1e6]; nDCG is positive exactly when a
    // relevant copy made the top-10; and a query whose top-10 holds a
    // relevant hit has RR ≥ 1e6/10 (the first relevant rank is ≤ 10)
    val rows = SparkEntry.queries("r13_graded_metrics")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 10 && rows.map(_._1).toSeq == (0L until 200L by 20).toSeq)
    for ((qid, ndcg, rr, nrel) <- rows) {
      assert(ndcg >= 0 && ndcg <= 1000000, s"q$qid ndcg_ppm $ndcg out of range")
      assert(rr >= 0 && rr <= 1000000, s"q$qid rr_ppm $rr out of range")
      assert((ndcg > 0) == (nrel > 0),
        s"q$qid: ndcg $ndcg inconsistent with n_rel_top10 $nrel")
      if (nrel > 0) assert(rr >= 100000,
        s"q$qid: relevant in top-10 but rr_ppm $rr < 1e5")
    }
    assert(rows.exists(_._4 > 0),
      "the dial separated nothing: no query had a relevant top-10 hit at sf0.001")
  }

  test("r14 fielded search: per-field stats + title boost actually reorder against flat BM25") {
    // the teeth the oracle hash can't provide: fielded scoring must
    // DIFFER from flat BM25 somewhere (else the field split and boost
    // are vacuous), while staying a well-formed per-query top-10
    val d = "/root/testdata/sf0.001"
    def ranking(q: String) =
      SparkEntry.queries(q)(spark, d).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val flat = ranking("r1_bm25")
    val fielded = ranking("r14_fielded_search")
    assert(fielded.map(_._1).distinct == flat.map(_._1).distinct,
      "fielded search must answer the same query set as r1")
    for ((qid, rns) <- fielded.groupBy(_._1))
      assert(rns.map(_._2).sorted == (1 to rns.size),
        s"query $qid: malformed rank sequence")
    assert(fielded != flat,
      "title boost + per-field statistics changed nothing vs flat BM25 — vacuous")
  }

  test("tok9 round-trip: organic cohort decodes perfectly, planted truncation caught 100%") {
    // the two exact gates the audit exists for: decode(encode(x)) must
    // equal analyzer(x) on EVERY organic doc (a single silent mismatch
    // means the id pipeline corrupts data), and the planted
    // dropped-first-id cohort must fail on EVERY doc (a dropped symbol
    // removes >= 1 char, so a pass there would mean the audit is blind)
    val rows = SparkEntry.queries("tok9_decode_roundtrip")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(0, 1), s"expected both cohorts: ${rows.toSeq}")
    val organic = rows.head; val corrupted = rows.last
    assert(organic._2 > 0 && organic._3 == organic._2 && organic._4 == 0 &&
      organic._5 == 1000000L, s"organic cohort must round-trip perfectly: $organic")
    assert(corrupted._2 > 0 && corrupted._3 == 0 && corrupted._4 == corrupted._2 &&
      corrupted._5 == 0L, s"every planted truncation must be caught: $corrupted")
  }

  test("s9 mixture budget: allocation conserves, epochs flag repetition exactly") {
    val rows = SparkEntry.queries("s9_mixture_budget")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.size == 20)
    val totalW = rows.map(_._3).sum
    for ((src, nTok, w, alloc, epochs, single, rep) <- rows) {
      assert(w == 1 + src.drop(3).toLong % 3, s"$src: weight drifted from fixture")
      assert(alloc == 100000L * w / totalW, s"$src: allocation not budget*w/totalW")
      assert(single == math.min(alloc, nTok) && rep == math.max(alloc - nTok, 0L),
        s"$src: single/repeat split broken")
      assert((epochs > 1000000L) == (rep > 0),
        s"$src: epochs_ppm and repeat_tokens disagree on repetition")
    }
    // allocations sum to <= budget (floor rounding), never above
    assert(rows.map(_._4).sum <= 100000L)
  }

  test("v17 nprobe curve: cost axis strictly grows, recall well-formed and never empty") {
    // what the oracle hash can't say: the sweep must SEPARATE on the
    // cost axis (candidate volume strictly grows with probed cells —
    // flat volume would mean the probe filter is dead), every row's
    // recall must be internally consistent, and every nprobe must
    // retrieve SOMETHING. Recall monotonicity is deliberately NOT
    // asserted: measured, it falls as probes widen (the coarse-codebook
    // diagnosis the operator's scaladoc documents).
    val rows = SparkEntry.queries("v17_nprobe_curve")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8))
    for (pair <- rows.toSeq.sliding(2))
      assert(pair(0)._3 < pair(1)._3,
        s"candidate volume did not grow from nprobe ${pair(0)._1} to ${pair(1)._1}")
    for ((np, nq, ncand, nhit, nexact, ppm) <- rows) {
      assert(nq > 0 && nexact == 10 * nq, s"np=$np: truth set malformed")
      assert(nhit >= 1 && nhit <= nexact, s"np=$np: n_hit $nhit out of range")
      assert(ppm == 1000000L * nhit / nexact, s"np=$np: ppm drifted from definition")
      assert(ncand >= nhit, s"np=$np: more hits than candidates")
    }
  }

  test("r15 more-like-this: seed never self-retrieves; every hit shares a selected seed term") {
    // the invariants the oracle hash can't express: (1) excludeSelf has
    // teeth — a seed document must never appear in its own result (it
    // would otherwise win every term trivially); (2) relevance is
    // grounded — a returned doc can only score through a term selected
    // FROM the seed, so every hit must share at least one ≥3-char token
    // with its seed document
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("r15_more_like_this")(spark, d)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty, "MLT returned nothing at sf0.001")
    for ((qid, hits) <- rows.groupBy(_._1)) {
      assert(hits.map(_._2).sorted.toSeq == (1 to hits.size), s"seed $qid: rank gaps")
      assert(!hits.exists(_._3 == qid), s"seed $qid retrieved itself")
    }
    val toks = graft.sources.Tables.documents(spark, d)
      .filter(col("doc_id").isin(rows.map(_._3).distinct.toSeq ++ Seq(0L, 1L, 2L, 3L, 4L): _*))
      .selectExpr("doc_id", "regexp_extract_all(lower(text), '[a-z]+', 0) AS t")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).filter(_.length >= 3).toSet)
      .toMap
    for ((qid, _, hit) <- rows)
      assert(toks(qid).intersect(toks(hit)).nonEmpty,
        s"hit $hit shares no >=3-char token with seed $qid — score impossible")
  }

  test("v16 drift audit: the dial separates — drifted cohort flags retrain, baseline doesn't") {
    // the property the oracle hash can't express: the audit must
    // actually DISCRIMINATE. The baseline cohort is its own reference
    // (drift_ppm exactly 1e6, no retrain); the norm-drifted cohort's
    // mean error must exceed the retrain threshold and flag
    val rows = SparkEntry.queries("v16_codebook_drift")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(5), r.getBoolean(6)))
    assert(rows.map(_._1).toSeq == Seq("drifted", "original"))
    val drifted = rows.head; val orig = rows.last
    assert(orig._4 == 1000000L && !orig._5,
      s"baseline must self-reference at exactly 1e6 ppm, no retrain: $orig")
    assert(drifted._3 > orig._3, "drifted mean error must exceed baseline")
    assert(drifted._4 >= 1500000L && drifted._5,
      s"the x4 norm drift must trip the 1.5x retrain threshold: $drifted")
    assert(drifted._2 * 5 == orig._2, "cohort sizes: every 5th vector drifts")
  }

  test("tok8 coverage curve: monotone in k, exact-count vocab, saturates at full vocabulary") {
    val rows = SparkEntry.queries("tok8_vocab_coverage")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8, 16, 24, 31))
    // coverage and vocab counts are nondecreasing in k; each k's vocab
    // count is min(k, |V|); the last point covers every token
    for (pair <- rows.toSeq.sliding(2)) {
      val (a, b) = (pair.head, pair.last)
      assert(a._5 <= b._5, s"coverage decreased from k=${a._1} to k=${b._1}")
      assert(a._2 <= b._2)
    }
    for ((k, nv, cov, tot, ppm) <- rows) {
      assert(nv <= k, s"k=$k claims $nv vocab words")
      assert(cov <= tot)
      assert(ppm == 1000000L * cov / tot, s"k=$k ppm drifted from its definition")
    }
    val last = rows.last
    assert(last._3 == last._4 && last._5 == 1000000,
      "the full-vocabulary point must cover every token")
  }

  test("s8 split: deterministic, reshuffle-proof, stratified near 80/10/10") {
    // the property that makes a hash split worth having: a doc's
    // assignment is a pure function of its id — recomputable anywhere,
    // stable under corpus growth — and every source lands near the
    // 80/10/10 design (the hash must not correlate with any source's
    // id space)
    val rows = SparkEntry.queries("s8_dataset_split")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(4)))
    val bySource = rows.groupBy(_._1)
    for ((src, rs) <- bySource) {
      assert(rs.map(_._4).sum >= 999998 && rs.map(_._4).sum <= 1000000,
        s"$src: shares don't sum to ~1e6: $rs")
      val train = rs.find(_._2 == "train").map(_._4).getOrElse(0L)
      assert(train >= 650000 && train <= 950000,
        s"$src: train share $train ppm far from the 800000 design")
    }
    // reshuffle-proof: the engine's assignment for a sampled id equals
    // the driver-side recomputation of the same integer hash
    def splitOf(id: Long): String = {
      val bkt = (((id % 2147483648L) * 2654435761L) % 4294967296L) % 100
      if (bkt < 80) "train" else if (bkt < 90) "val" else "test"
    }
    val perDoc = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        expr("CASE WHEN (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 < 80 THEN 'train' " +
          "WHEN (((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 < 90 THEN 'val' ELSE 'test' END").as("split"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    for ((id, s) <- perDoc)
      assert(s == splitOf(id), s"doc $id: engine split $s != driver ${splitOf(id)}")
  }

  test("hybrid recall dial: fusion recovers at least BM25's hits at every severity") {
    // the r5 gate: the vector channel exists to cover lexical
    // saturation, so the fused top-10 must never lose a planted doc
    // BM25 alone found — and must strictly recover extra hits overall
    // (at sf0.01 the measured dial is bm25 4/1/0/0 vs hybrid 10/10/3/0)
    val rows = SparkEntry.queries("r5_hybrid_recall")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2, 3))
    for ((sev, n, bm25, hybrid) <- rows) {
      assert(n == 10, s"severity $sev should grade 10 queries, got $n")
      assert(hybrid >= bm25,
        s"severity $sev: hybrid hits $hybrid < bm25 hits $bm25")
    }
    assert(rows.map(_._4).sum > rows.map(_._3).sum,
      s"fusion recovered nothing over BM25: ${rows.mkString(", ")}")
  }

  test("bpe training sustains 50 merge rounds with constant per-round plan size") {
    // the verdict-8 structural caveat, closed STRUCTURALLY (round-10's
    // wall-clock formulation tripped on host-drift spikes despite the
    // code being flat — verdict r10 #1): the flatness claim is that
    // per-round checkpointing keeps the state a plan LEAF, so analysis
    // cost cannot grow with the merge count. Assert exactly that: the
    // state's logical plan is the same constant handful of nodes after
    // every one of 50 rounds. The round-8 chained-plan formulation
    // grew the plan linearly and fails this assertion at round 2 —
    // proven below by running the checkpoint-free variant and
    // requiring its plan to grow (the teeth check).
    import graft.operators.CorpusPrep
    var cur = CorpusPrep.bpeInit(spark, "/root/testdata/sf0.001")
    def planNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.collect { case n => n }.size
    val sizes = (1 to 50).map { i =>
      val (pick, next) = CorpusPrep.bpeStep(cur)
      assert(pick.nonEmpty, s"vocabulary exhausted at round $i")
      cur = next
      planNodes(cur)
    }
    assert(sizes.distinct.size == 1,
      s"per-round state plan size is not constant: ${sizes.mkString(",")}")
    assert(sizes.head <= 2,
      s"checkpointed state should be a plan leaf, got ${sizes.head} nodes:\n" +
        cur.queryExecution.logical.treeString)
    // teeth: without the per-round checkpoint the plan DOES grow, so
    // the constancy assertion above is discriminating, not vacuous
    var unchecked = CorpusPrep.bpeInit(spark, "/root/testdata/sf0.001")
    val grown = (1 to 3).map { _ =>
      unchecked = CorpusPrep.bpeStep(unchecked, checkpoint = false)._2
      planNodes(unchecked)
    }
    assert(grown(0) < grown(1) && grown(1) < grown(2),
      s"checkpoint-free plan should grow per round: ${grown.mkString(",")}")
    // and the first three picks are exactly the oracled tok3 table
    val t3 = SparkEntry.queries("tok3_bpe_train")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(t3.size == 3 && t3.map(_._1) == Seq(1, 2, 3))
  }

  test("pq code store CRUD: re-append dedupes, update/delete equals one-shot encode of the mutated corpus") {
    // the vector-index twin of the postings CRUD: a replayed append
    // must not duplicate a code row (a duplicated cand_id would
    // surface twice in every ADC top-k it reaches), and
    // update-then-delete must leave exactly the table a from-scratch
    // encode of the mutated corpus produces
    import graft.operators.VectorOps
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val base = tmpDir("graft-pq-crud") + "/codes"
    VectorOps.appendCodes(spark, base, emb, books)
    val reAdd = VectorOps.appendCodes(spark, base,
      emb.filter(col("vec_id") % 3 === 0), books)
    assert(reAdd.count() == emb.count(),
      "re-appending already-indexed vectors duplicated code rows")
    val rot = expr("concat(slice(embedding, 2, 63), slice(embedding, 1, 1))")
    val upd = emb.filter(col("vec_id") % 7 === 0 && col("vec_id") % 11 =!= 0)
      .select(col("vec_id"), rot.as("embedding"))
    val dels = emb.filter(col("vec_id") % 11 === 0).select("vec_id")
    VectorOps.updateCodes(spark, base, upd, books)
    val store = VectorOps.deleteCodes(spark, base, dels)
    val mutated = emb.filter(col("vec_id") % 11 =!= 0)
      .join(upd.select(col("vec_id"), col("embedding").as("ne")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("ne"), col("embedding")).as("embedding"))
    graft.functions.NativeFunctions.register(spark)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 until r.length).map(i => r.get(i)).toSeq)
        .sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(rows(store) == rows(VectorOps.encodeCodes(mutated, books)),
      "CRUD'd code store diverges from the one-shot encode of the mutated corpus")
  }

  test("bm25 index update/delete: delete-then-add equals a one-shot index of the mutated corpus") {
    // the CRUD completion: updating changed docs and deleting others
    // must leave the store EXACTLY the index a from-scratch build of
    // the mutated corpus would produce — tf/dl replaced, stale terms
    // gone, df refreshed (it rises for leavers' terms, counts updaters
    // once)
    import graft.operators.Retrieval
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d).select("doc_id", "text")
    val base = tmpDir("graft-bm25-upd") + "/postings"
    Retrieval.appendPostings(spark, base, docs)
    // mutate: every 7th doc gets new text; every 11th (non-overlapping
    // subset) is deleted
    val updated = docs.filter(col("doc_id") % 7 === 0 && col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), concat(col("text"), lit(" graftupdated token")).as("text"))
    val deletedIds = docs.filter(col("doc_id") % 11 === 0).select("doc_id")
    Retrieval.updatePostings(spark, base, updated)
    val store = Retrieval.deletePostings(spark, base, deletedIds)
    val mutated = docs.filter(col("doc_id") % 11 =!= 0)
      .join(updated.select(col("doc_id"), col("text").as("ntext")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("ntext"), col("text")).as("text"))
    val oneShot = Retrieval.withDf(Retrieval.rawPostings(mutated.select(col("doc_id"),
      expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("toks"))))
    def normalized(p: org.apache.spark.sql.DataFrame) =
      p.select("term", "doc_id", "tf", "dl", "df")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
    assert(normalized(store) == normalized(oneShot),
      "update+delete store diverges from the one-shot index of the mutated corpus")
    assert(normalized(store).exists(_._1 == "graftupdated"),
      "updated text's new term missing from the store")
  }

  test("positional postings append: bootstrap + append equals the one-shot positional index") {
    // the third store under the shared maintain() discipline — and the
    // simplest: positions are pure per-doc state, no global statistic
    // to refresh, so append is guard + union + bucketed rewrite
    import graft.operators.Retrieval
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d).select("doc_id", "text")
    val base = tmpDir("graft-pospost") + "/pos"
    Retrieval.appendPosPostings(spark, base, docs.filter(col("doc_id") % 5 =!= 0))
    val store = Retrieval.appendPosPostings(spark, base, docs.filter(col("doc_id") % 5 === 0))
    def norm(p: org.apache.spark.sql.DataFrame) =
      p.select("term", "doc_id", "ps").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[Int](2)))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(norm(store) == norm(Retrieval.posIndexArtifact(spark, d)),
      "appended positional store diverges from the one-shot index")
  }

  test("forget flow: one erasure call reaches all three index stores and serving forgets the docs") {
    // the GDPR property: after forgetDocs, every store equals a
    // from-scratch build of a corpus that never contained the docs,
    // the keyword serving path returns none of them, and a re-run (the
    // crash-recovery path) is a no-op row-count-wise
    import graft.operators.{Forget, Retrieval, VectorOps}
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d).select("doc_id", "text")
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val root = tmpDir("graft-forget")
    val (pBase, posBase, cBase) = (root + "/postings", root + "/pos", root + "/codes")
    Retrieval.appendPostings(spark, pBase, docs)
    Retrieval.appendPosPostings(spark, posBase, docs)
    VectorOps.appendCodes(spark, cBase, emb, books)
    val gone = docs.filter(col("doc_id") % 9 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val targets = Forget.Targets(Some(pBase), Some(posBase), Some(cBase))

    val reports = Forget.forgetDocs(spark, gone, targets)
    assert(reports.map(_.store) ==
      Seq("bm25_postings", "positional_postings", "ann_codes"))
    for (r <- reports)
      assert(r.rowsBefore > r.rowsAfter && r.version.nonEmpty,
        s"leg ${r.store} erased nothing: $r")
    // the audit must surface the retention window: the pre-delete
    // version (still containing the forgotten docs) stays readable as
    // a time-travel target until later maintenance prunes it, and an
    // erasure workflow consuming only this report must SEE that
    for (r <- reports)
      assert(r.retainedPriorVersions.nonEmpty,
        s"leg ${r.store}: report hides the still-readable prior versions: $r")

    // each store == from-scratch-minus-docs (erasure leaves no residue)
    val minus = docs.filter(!col("doc_id").isin(gone: _*))
    val minusToks = minus.select(col("doc_id"),
      expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("toks"))
    val pStore = graft.sinks.VersionedStore.read(spark, pBase)
    def pNorm(p: org.apache.spark.sql.DataFrame) =
      p.select("term", "doc_id", "tf", "dl", "df").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4)))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(pNorm(pStore) == pNorm(Retrieval.withDf(Retrieval.rawPostings(minusToks))),
      "postings store diverges from the never-had-them index")
    val posStore = graft.sinks.VersionedStore.read(spark, posBase)
    def posNorm(p: org.apache.spark.sql.DataFrame) =
      p.select("term", "doc_id", "ps").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[Int](2)))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(posNorm(posStore) == posNorm(Retrieval.rawPosPostings(minusToks)),
      "positional store diverges from the never-had-them index")
    val cStore = graft.sinks.VersionedStore.read(spark, cBase)
    def cNorm(p: org.apache.spark.sql.DataFrame) =
      p.collect().map(r => (0 until r.length).map(i => r.get(i)).toSeq)
        .sortBy(_.head.asInstanceOf[Long].toString).toSeq
    assert(cNorm(cStore) ==
      cNorm(VectorOps.encodeCodes(emb.filter(!col("vec_id").isin(gone: _*)), books)),
      "code store diverges from the never-had-them encode")

    // the user-visible teeth: keyword serving over the erased store
    // cannot return a forgotten doc for ANY fixture query
    val qt = Retrieval.fixtureQueries.toDF("query_id", "term")
    val served = Retrieval.serveBm25(pStore, Retrieval.statsFromPostings(pStore),
        qt, Retrieval.fixtureQueries.map(_._2).distinct, 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(served.intersect(gone.toSet).isEmpty,
      s"serving still returns forgotten docs: ${served.intersect(gone.toSet)}")

    // idempotence: the crash-recovery re-run erases nothing further —
    // run it in erasure-SLA mode (immediatePrune) and require the
    // report to attest ZERO retained prior versions, backed by the
    // store listing itself: after the prune the just-served version is
    // the only complete version on disk, so no readVersion/rollback
    // can resurrect the forgotten docs
    for (r <- Forget.forgetDocs(spark, gone, targets, immediatePrune = true)) {
      assert(r.rowsBefore == r.rowsAfter, s"re-run was not a no-op: $r")
      assert(r.retainedPriorVersions.isEmpty,
        s"leg ${r.store}: immediatePrune left readable prior versions: $r")
    }
    for (base <- Seq(pBase, posBase, cBase)) {
      val served = graft.sinks.VersionedStore.readPointer(spark, base).get.version
      assert(graft.sinks.VersionedStore.listVersions(spark, base) == Seq(served),
        s"$base still lists prior versions after immediatePrune")
    }
    val served2 = Retrieval.serveBm25(
        graft.sinks.VersionedStore.read(spark, pBase),
        Retrieval.statsFromPostings(graft.sinks.VersionedStore.read(spark, pBase)),
        qt, Retrieval.fixtureQueries.map(_._2).distinct, 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(served2.intersect(gone.toSet).isEmpty,
      "serving regressed after the immediate-prune erasure pass")
  }

  test("stemmed bm25: pluralized planted docs are reachable only through the stemmer") {
    // the corpus has NO organic plural forms (vocabulary LIKE '%s' is
    // empty), so a planted all-pluralized doc shares zero surface
    // forms with the query terms — it can reach a top-10 ONLY if the
    // analyzer's stem stage conflates its tokens back. At least one
    // must make it (measured: 1 at both sf0.001 and sf0.01).
    val rows = SparkEntry.queries("r9_stemmed_bm25")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.exists(_._3 >= 20000000L),
      "no pluralized planted doc reached a top-10 — the stem stage is not conflating")
  }

  test("concurrent postings appends serialize under the maintenance lease — no lost update") {
    // the lost-update scenario the lease exists to close: two appends
    // racing read-modify-write would both read the same base version
    // and last-flip-wins would drop one writer's docs. Under
    // withMaintenanceLease they serialize: BOTH writers' docs must be
    // in the final store, whichever order they ran in.
    import graft.operators.Retrieval
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d).select("doc_id", "text")
    val base = tmpDir("graft-bm25-lease") + "/postings"
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(0, 1).map { par =>
      new Thread(() =>
        try Retrieval.appendPostings(spark, base, docs.filter(col("doc_id") % 2 === par))
        catch { case t: Throwable => failures.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(failures.isEmpty, s"append failed: ${failures.peek()}")
    val store = graft.sinks.VersionedStore.read(spark, base)
    val indexed = store.select("doc_id").distinct().count()
    assert(indexed == docs.count(),
      s"lost update: only $indexed of ${docs.count()} docs survived the concurrent appends")
  }

  test("bm25 serving during a concurrent append sees only published index versions") {
    // the maintenance-while-serving race: a reader loops the r3 serving
    // path while an append publishes a new version. The pointer-flip
    // discipline means every observed ranking must equal EITHER the
    // pre-append or the post-append state — never a torn mix (e.g. new
    // postings with old df). The version is resolved ONCE per read
    // (both postings and stats derive from the same resolved frame),
    // which is exactly what this pins.
    import graft.operators.Retrieval
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d).select("doc_id", "text")
    val base = tmpDir("graft-bm25-conc") + "/postings"
    Retrieval.appendPostings(spark, base, docs.filter(col("doc_id") % 5 =!= 0))
    val qterms = Retrieval.fixtureQueries.toDF("query_id", "term")
    val terms = Retrieval.fixtureQueries.map(_._2).distinct
    def serveOnce(): Seq[(Long, Int, Long, Long)] = {
      // bounded retry over the local-FS torn-pointer transient
      // (documented in VersionedStore.readPointer — absent on HDFS/S3)
      var attempt = 0
      while (true) {
        try {
          val store = graft.sinks.VersionedStore.read(spark, base)
          return Retrieval.serveBm25(store, Retrieval.statsFromPostings(store),
              qterms, terms, 10)
            .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
        } catch {
          case e: java.io.FileNotFoundException =>
            attempt += 1; if (attempt > 20) throw e; Thread.sleep(5)
        }
      }
      Seq.empty
    }
    val before = serveOnce()
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, Int, Long, Long)]]()
    @volatile var failure: Option[Throwable] = None
    @volatile var stop = false
    val reader = new Thread(() => try { while (!stop) observed.add(serveOnce()) }
      catch { case t: Throwable => failure = Some(t) })
    reader.start()
    Retrieval.appendPostings(spark, base, docs.filter(col("doc_id") % 5 === 0))
    stop = true
    reader.join(60000)
    failure.foreach(throw _)
    val after = serveOnce()
    assert(before != after, "append should change the served ranking")
    assert(!observed.isEmpty, "reader never completed a read during the append")
    val states = Set(before, after)
    observed.forEach { o =>
      assert(states.contains(o),
        s"reader observed a state that was never published")
    }
  }

  test("ivfServe nprobe dial: recall vs exact truth is monotone in probed cells, exhaustive at NCells") {
    val d = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
    val books = VectorOps.pqTrainCached(spark, d)
    val codes = VectorOps.codesArtifact(spark, d)
    val q = emb.filter(col("vec_id") < 10)
    // truth for the dial = FULL-corpus ADC ranking (v8's semantics):
    // isolates the nprobe dial from PQ quantization loss
    val full = VectorOps.adcSearch(spark, emb, q, 10, Some(books), Some(codes))
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hitsAt(np: Int): Int =
      VectorOps.ivfServe(spark, emb, q, 10, Some(books), Some(codes), nprobe = np)
        .select("query_id", "cand_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .count(full.contains)
    val h2 = hitsAt(2); val h6 = hitsAt(6); val h16 = hitsAt(16)
    assert(h2 <= h6 && h6 <= h16, s"recall must be monotone in nprobe: $h2, $h6, $h16")
    assert(h2 < h16, s"the dial must move recall: $h2 vs $h16")
    // probing every cell IS the exhaustive ADC scan
    assert(h16 == full.size, s"nprobe=NCells must recover the full ADC top-k: $h16/${full.size}")
  }

  test("p12 padding waste: packed never exceeds padded and the accounting reconciles") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("p12_padding_waste")(spark, d).collect().head
    val (nDocs, total, packed, padded, waste) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    assert(packed <= padded, "packing can never need more examples than padding")
    assert(padded >= nDocs) // every doc needs at least one padded example
    assert(packed == (total + 255) / 256)
    assert(waste == (padded * 256 - total).toDouble / (padded * 256))
    assert(waste >= 0.0 && waste < 1.0)
    // short-doc corpus: packing must actually help, visibly
    assert(packed * 2 <= padded, s"expected substantial packing gain: $packed vs $padded")
  }

  test("co2 dau/wau: window dominates the day, stickiness bounded, first day coincides") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("co2_dau_wau")(spark, d)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (_, dau, wau, stick) =>
      assert(dau <= wau, "a day's actives are a subset of its trailing week's")
      assert(stick > 0.0 && stick <= 1.0)
      assert(stick == dau.toDouble / wau)
    }
    // the first observed day has no history: its week IS its day
    assert(rows.head._2 == rows.head._3)
  }

  test("fu1 funnel: stage counts are monotone and every stage observed") {
    val d = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("fu1_funnel")(spark, d).collect().head
    val (users, viewed, clicked, purchased) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(users >= viewed && viewed >= clicked && clicked >= purchased,
      s"funnel must narrow: $users >= $viewed >= $clicked >= $purchased")
    assert(purchased > 0, "with 2k events over 150 users every stage should convert")
  }

  test("fu2 transition matrix: rows ppm-stochastic, cells reconcile with the event stream") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("fu2_transition_matrix")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    for ((f, g) <- rows.groupBy(_._1)) {
      val nFrom = g.head._4
      assert(g.forall(_._4 == nFrom), s"$f: inconsistent n_from")
      assert(g.map(_._3).sum == nFrom, s"$f: pair counts don't sum to n_from")
      // floor-truncated ppm: the row sum can fall short of 1e6 by at
      // most one truncation per cell, never exceed it
      val ppm = g.map(_._5).sum
      assert(ppm <= 1000000L && ppm > 1000000L - g.length,
        s"$f: ppm row sum $ppm out of the stochastic band")
    }
    // total transitions = total events − distinct users (each user's
    // last event has no successor) — an independent stream recount
    val ev = graft.sources.Tables.events(spark, d)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_._3).sum == expected,
      s"transition mass ${rows.map(_._3).sum} != events−users $expected")
  }

  test("fu3 top paths: well-formed trigrams, descending, shares match an independent recount") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("fu3_top_paths")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 10)
    val types = Set("click", "error", "purchase", "signup", "view")
    rows.foreach { case (p, _, _) =>
      val legs = p.split(">")
      assert(legs.length == 3 && legs.forall(types), s"malformed path $p")
    }
    assert(rows.map(_._2).sliding(2).forall(w => w(0) >= w(1)), "counts not descending")
    // independent trigram mass: each user with n events contributes
    // max(n-2, 0) paths
    val perUser = graft.sources.Tables.events(spark, d)
      .groupBy("user_id").count().collect().map(_.getLong(1))
    val nTotal = perUser.map(n => math.max(n - 2, 0L)).sum
    rows.foreach { case (p, n, ppm) =>
      assert(ppm == 1000000L * n / nTotal,
        s"$p: share $ppm != floor(1e6·$n/$nTotal)")
    }
  }

  test("ts2 ewma: equals a driver-side recount and degenerates to the raw series at bucket 0") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("ts2_ewma")(spark, d).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    for ((_, series) <- rows.groupBy(_._2)) {
      val ordered = series.sortBy(_._1.getTime)
      // adjusted-EWMA recount in plain Scala over the collected series
      ordered.zipWithIndex.foreach { case ((_, et, _, got), i) =>
        val lags = (0 to 6).flatMap(k =>
          if (i - k >= 0) Some(ordered(i - k)._3 / math.pow(2, k)) else None)
        val den = (0 to 6).flatMap(k =>
          if (i - k >= 0) Some(1.0 / math.pow(2, k)) else None).sum
        val want = BigDecimal(lags.sum / den)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(got - want) < 1e-9, s"$et[$i]: $got != $want")
      }
      // bucket 0 has no history: the smoother must return the raw value
      assert(ordered.head._4 == ordered.head._3.toDouble,
        s"first bucket must be the raw series value")
    }
  }

  test("co1 cohort retention: k bounded and no offset outdraws day zero") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("co1_cohort_retention")(spark, d)
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, k, n) => assert(k >= 0 && k <= 7 && n > 0) }
    // every cohort member is active on their own first day, so k=0 is
    // the cohort size — later offsets can only retain a subset
    rows.groupBy(_._1).values.foreach { g =>
      val day0 = g.find(_._2 == 0).map(_._3)
        .getOrElse(fail(s"cohort missing its k=0 row: $g"))
      g.foreach { case (_, _, n) => assert(n <= day0) }
    }
  }

  test("f16 json battery: typed extraction, NULL on missing path, nested probe") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("f16_json_funcs")(spark, d).limit(50).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.isNullAt(1) && r.getLong(1) >= 0) // props always carries k
      assert(r.isNullAt(2), "missing path must be NULL, not an error")
      assert(r.getString(3) == "20") // $.a.b[1] of the literal probe
      assert(r.getLong(4) == 4L)
    }
  }

  test("a14 regression: engine slope/intercept equal an exact local recomputation") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("a14_group_regression")(spark, d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val raw = graft.sources.Tables.events(spark, d)
      .select(col("event_type"), hour(col("ts")).cast("long"),
        round(col("value") * 100, 0).cast("long"))
      .as[(String, Long, Long)].collect()
    raw.groupBy(_._1).foreach { case (et, xs) =>
      val n = xs.length.toLong
      val (sx, sy) = (xs.map(_._2).sum, xs.map(_._3).sum)
      val (sxx, sxy) = (xs.map(v => v._2 * v._2).sum, xs.map(v => v._2 * v._3).sum)
      val slopeC = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
      val intercept = (sy.toDouble - slopeC * sx.toDouble) / n.toDouble / 100.0
      val (gn, gs, gi) = out(et)
      assert(gn == n)
      assert(gs == slopeC / 100.0, s"$et slope: $gs vs ${slopeC / 100.0}")
      assert(gi == intercept, s"$et intercept: $gi vs $intercept")
    }
  }

  test("v9 ivf-pq: bounded sorted top-k per query, adist agrees with v8 on overlap") {
    val d = "/root/testdata/sf0.001"
    val v9 = SparkEntry.queries("v9_ivf_pq")(spark, d)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), (r.getInt(1), r.getLong(3))))
    assert(v9.nonEmpty)
    v9.groupBy(_._1._1).values.foreach { g =>
      assert(g.length <= 10)
      val sorted = g.sortBy(_._2._1)
      assert(sorted.map(_._2._2).sliding(2).forall(p => p.head <= p.last))
    }
    // the same (query, cand) scored by the full-corpus ADC (v8) must
    // carry the IDENTICAL integer distance — v9 only narrows the
    // candidate set, it must not change the metric
    val v8 = SparkEntry.queries("v8_pq_adc")(spark, d)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getLong(3))).toMap
    val overlap = v9.filter(p => v8.contains(p._1))
    assert(overlap.nonEmpty, "no candidate overlap between v8 and v9 top-10s")
    overlap.foreach { case (k, (_, adist)) =>
      assert(v8(k) == adist, s"adist diverged for $k: v9 $adist vs v8 ${v8(k)}")
    }
  }

  test("qa2 column profile: probe nulls counted, key column clean, bounds sane") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("qa2_column_profile")(spark, d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))).toMap
    assert(rows.keySet == Set("doc_id", "text", "lang", "source", "n_chars"))
    // exactly the planted probe row is null in text/lang/n_chars
    assert(rows("text")._1 == 1L && rows("lang")._1 == 1L && rows("n_chars")._1 == 1L)
    assert(rows("doc_id")._1 == 0L && rows("source")._1 == 0L)
    val nDocs = graft.sources.Tables.documents(spark, d).count()
    assert(rows("doc_id")._2 == nDocs + 1) // every id distinct, probe included
    assert(rows("doc_id")._3 == "-1") // probe id is the minimum
    assert(rows("source")._2 >= 2) // real sources + 'probe'
    assert(rows("n_chars")._3.toLong <= rows("n_chars")._4.toLong)
  }

  test("t10 boilerplate: planted banner removed; clean reassembly restores the original") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("t10_boilerplate")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val texts = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), md5(col("text"))).as[(Long, String)].collect().toMap
    val banner = out.keys.filter(_ % 4 == 0)
    assert(banner.nonEmpty)
    // the prepended banner block is shared by a quarter of the corpus —
    // always over the df >= 3 bar, always removed
    banner.foreach(id => assert(out(id)._2 >= 1, s"banner not removed for $id"))
    // prepending 8 words is block-aligned: stripping ONLY the banner
    // reassembles the original text byte-for-byte
    val onlyBanner = banner.filter(out(_)._2 == 1)
    assert(onlyBanner.nonEmpty)
    onlyBanner.foreach(id => assert(out(id)._3 == texts(id),
      s"cleaned text for $id is not the original"))
    // docs without any removal reassemble to themselves too
    out.collect { case (id, (_, 0L, fp)) if id % 4 != 0 =>
      assert(fp == texts(id), s"untouched doc $id was rewritten") }
  }

  test("cdc2 merge-apply: result keys are exactly (base \\ deletes) ∪ upserts") {
    val d = "/root/testdata/sf0.001"
    val ids = graft.sources.Tables.documents(spark, d)
      .select("doc_id").as[Long].collect().toSet
    val base = ids.filter(_ % 5 != 4)
    val upserts = ids.filter(_ % 7 == 0)
    val deletes = ids.filter(id => id % 11 == 3 && id % 7 != 0)
    val out = SparkEntry.queries("cdc2_merge_apply")(spark, d)
      .select(col("doc_id"), col("action")).as[(Long, String)].collect().toMap
    assert(out.keySet == (base -- deletes -- upserts) ++ upserts)
    upserts.foreach(id => assert(out(id) == "upserted", s"$id should be upserted"))
    deletes.foreach(id => assert(!out.contains(id), s"$id should be deleted"))
    (base -- deletes -- upserts).foreach(id => assert(out(id) == "kept"))
    // an upserted row's hash differs from the base row's (text revised)
    val origH = graft.sources.Tables.documents(spark, d)
      .filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), md5(col("text"))).as[(Long, String)].collect().toMap
    val newH = SparkEntry.queries("cdc2_merge_apply")(spark, d)
      .filter(col("action") === "upserted")
      .select(col("doc_id"), col("h")).as[(Long, String)].collect().toMap
    newH.foreach { case (id, h) => assert(origH(id) != h) }
  }

  test("snapshot diff: NULL↔value content changes classify as updated (null-safe compare)") {
    import spark.implicits._
    val old = Seq(1L -> Option("a"), 2L -> Option.empty[String],
      3L -> Option("c"), 4L -> Option.empty[String]).toDF("id", "body")
    val neu = Seq(1L -> Option.empty[String], 2L -> Option("b"),
      3L -> Option("c"), 4L -> Option.empty[String]).toDF("id", "body")
    val out = graft.operators.SnapshotDiff.diff(old, neu, "id", col("body"))
      .as[(Long, String)].collect().toMap
    // a non-null-safe =!= evaluates NULL on rows 1/2 and falls through
    // to 'unchanged'; NULL↔NULL (row 4) must still compare equal
    assert(out == Map(1L -> "updated", 2L -> "updated",
      3L -> "unchanged", 4L -> "unchanged"), s"got $out")
  }

  test("s5 quota arithmetic is exact at the 100 TB regime (no BIGINT wrap)") {
    import spark.implicits._
    // one source with ~9 TB of chars among three: sq = sqrt(9e12)·1e6 =
    // 3e12, total_sq = 9e12, n_total = 3e6 docs. The BIGINT numerator
    // 300·sq·1e6 = 9e20 and denominator 2.7e19 both exceed 2^63
    // (~9.2e18) — unwidened, Spark wraps to garbage hidden under LEAST.
    // True quotient: 9e20 div 2.7e19 = 33 ppm.
    val row = Seq((3000000000000L, 9000000000000L, 3000000L))
      .toDF("sq", "total_sq", "n_total")
      .select(graft.analytics.FuncOps2.s5QuotaPpm.as("quota_ppm"))
      .as[Long].head()
    assert(row == 33L, s"expected exact 33 ppm, got $row")
    // and a tiny source must still be able to cap at 100%
    val cap = Seq((9000000000000L, 9000000000000L, 1L))
      .toDF("sq", "total_sq", "n_total")
      .select(graft.analytics.FuncOps2.s5QuotaPpm.as("quota_ppm"))
      .as[Long].head()
    assert(cap == 1000000L, s"expected capped 1e6 ppm, got $cap")
  }

  test("s5 temperature mix: quotas spend the budget and flatten the source skew") {
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("s5_temperature_mix")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nTotal, quotaPpm, nKept) =>
      assert(quotaPpm >= 0 && quotaPpm <= 1000000L)
      assert(nKept >= 0 && nKept <= nTotal)
    }
    // expected kept = Σ n_total·quota/1e6 ≈ the 300-doc budget, unless the
    // corpus is smaller than the budget (then every quota caps at 100%)
    val expected = rows.map { case (_, n, q, _) => n * q }.sum / 1000000.0
    val corpus = rows.map(_._2).sum
    if (corpus > 350) {
      assert(expected <= 300.0 + rows.length,
        s"integer quotas can only round the budget down per source: $expected")
      assert(expected >= 300.0 - rows.length,
        s"budget underspent: $expected")
    } else rows.foreach { case (_, _, q, _) => assert(q == 1000000L) }
    // α=0.5 flattening: a source with less mass never gets a LOWER keep
    // probability per doc than a heavier source with the same row count
    // (quota ∝ sqrt(mass)/n); verify the direction on the extremes
    val masses = graft.sources.Tables.documents(spark, d)
      .groupBy("source").agg(sum("n_chars").as("m"))
      .select(col("source"), col("m")).as[(String, Long)].collect().toMap
    val sameN = rows.groupBy(_._2).filter(_._2.length >= 2)
    sameN.values.foreach { grp =>
      val sorted = grp.sortBy(r => masses(r._1)).toSeq
      sorted.sliding(2).foreach {
        case Seq((_, _, qLight, _), (sHeavy, n, qHeavy, _)) =>
          // per-doc quota grows with mass but sub-linearly; with equal n
          // the heavier source has the (weakly) larger quota
          assert(qHeavy >= qLight || qLight == 1000000L,
            s"quota should grow with mass at equal n: $sHeavy")
        case _ => ()
      }
    }
  }

  test("t14 unigram LM: planted gibberish dropped, organic kept, separated by a real margin") {
    val out = graft.SparkEntry.queries("t14_unigram_logprob")(spark, "/root/testdata/sf0.001")
      .select("doc_id", "avg_logprob", "kept").as[(Long, Double, Boolean)].collect()
    val (junk, organic) = out.partition(_._1 >= 1000000L)
    assert(junk.nonEmpty && organic.nonEmpty)
    assert(organic.forall(_._3), "an organic doc fell below the LM gate")
    assert(junk.forall(!_._3), "planted gibberish passed the LM gate")
    // the gate sits in a wide gap, not on a knife-edge the next SF flips
    assert(junk.map(_._2).max < organic.map(_._2).min - 0.5,
      s"margin too thin: junk max ${junk.map(_._2).max} vs organic min ${organic.map(_._2).min}")
  }

  test("t15 MAD outlier: plants flagged, organics spared, median unmoved by its own contamination") {
    val d = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("t15_mad_outlier")(spark, d)
      .select("doc_id", "source", "med", "is_outlier")
      .as[(Long, String, Double, Boolean)].collect()
    val (plants, organics) = out.partition(_._1 >= 1000000L)
    assert(plants.nonEmpty && plants.forall(_._4), "a planted megadoc escaped the filter")
    assert(organics.forall(!_._4), "an organic doc was falsely flagged")
    // robustness — the defining property of median vs mean: the
    // threshold statistics computed WITH the 4% plants present stay
    // within 15% of the clean-corpus median (a mean would be dragged
    // ~80% upward by the 20x plants)
    val clean = graft.sources.Tables.documents(spark, d).groupBy("source")
      .agg(expr("percentile(CAST(n_chars AS DOUBLE), 0.5)").as("m"))
      .as[(String, Double)].collect().toMap
    out.groupBy(_._2).foreach { case (src, rows) =>
      val med = rows.head._3
      assert(math.abs(med - clean(src)) <= 0.15 * clean(src),
        s"$src: contaminated median $med drifted from clean ${clean(src)}")
    }
  }

  test("t16 source mix: shares close under rounding, entropy sum matches the raw counts") {
    val d = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("t16_source_mix_report")(spark, d)
      .select("source", "n_docs", "doc_share_ppm", "char_share_ppm", "ent_contrib")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(out.nonEmpty)
    // ppm shares sum to 1e6 up to one rounding ulp per source
    assert(math.abs(out.map(_._3).sum - 1000000L) <= out.length)
    assert(math.abs(out.map(_._4).sum - 1000000L) <= out.length)
    // the entropy column is the real Shannon sum over the raw counts
    val total = out.map(_._2).sum.toDouble
    val expected = out.map(r => { val p = r._2 / total; -p * math.log(p) }).sum
    assert(math.abs(out.map(_._5).sum - expected) < 1e-4)
    // each contribution is a valid −p·ln(p) term (max 1/e at p = 1/e)
    assert(out.forall(r => r._5 > 0 && r._5 <= 0.3679))
  }

  test("p13 schema evolution: each era keeps its own columns, NULL-fills the other's") {
    val out = graft.SparkEntry.queries("p13_schema_evolve")(spark, "/root/testdata/sf0.001")
      .select("version", "lang", "source", "n_chars")
      .as[(Int, Option[String], Option[String], Option[Long])].collect()
    val (w1, w2) = out.partition(_._1 == 1)
    assert(w1.nonEmpty && w2.nonEmpty)
    // a positional union would have smeared lang into source here
    assert(w1.forall(r => r._2.isDefined && r._3.isEmpty && r._4.isEmpty),
      "v1 rows must carry lang and NULL-filled v2 columns")
    assert(w2.forall(r => r._2.isEmpty && r._3.isDefined && r._4.isDefined),
      "v2 rows must carry source/n_chars and a NULL-filled lang")
  }

  test("v14 retrieval: serves exactly v9's ranked ids, snippet a true prefix of the doc") {
    val d = "/root/testdata/sf0.001"
    val v9 = graft.SparkEntry.queries("v9_ivf_pq")(spark, d)
      .select("query_id", "rn", "cand_id", "adist")
      .as[(Long, Int, Long, Long)].collect().toSet
    val v14rows = graft.SparkEntry.queries("v14_retrieve_docs")(spark, d)
      .select("query_id", "rn", "doc_id", "adist", "snippet")
      .as[(Long, Int, Long, Long, String)].collect()
    assert(v14rows.nonEmpty)
    assert(v14rows.map(r => (r._1, r._2, r._3, r._4)).toSet == v9,
      "retrieval must not reorder, drop, or invent candidates vs the index")
    val texts = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    v14rows.foreach { case (_, _, id, _, sn) =>
      assert(texts(id).startsWith(sn), s"snippet of doc $id is not a prefix")
    }
  }

  test("v13 embedding audit: each planted defect trips its counter, and only its counter") {
    val d = "/root/testdata/sf0.001"
    val base = graft.sources.Tables.embeddings(spark, d)
    val nZero = base.filter(col("vec_id") % 50 === 0).count()
    val nNull = base.filter(col("vec_id") % 100 === 0).count()
    val out = graft.SparkEntry.queries("v13_embedding_audit")(spark, d).collect()
    assert(out.map(_.getAs[Long]("n_zero")).sum == nZero && nZero > 0)
    assert(out.map(_.getAs[Long]("n_null")).sum == nNull && nNull > 0)
    assert(out.map(_.getAs[Long]("n_vecs")).sum == base.count() + nZero + nNull)
    out.foreach { r =>
      assert(r.getAs[Long]("min_dim") == 64L && r.getAs[Long]("max_dim") == 64L,
        "dim drift on a fixed-dim corpus")
      val norm = r.getAs[Double]("avg_norm")
      // zero/null plants must NOT leak into the mean norm of real vectors
      assert(math.abs(norm - 1.0) < 0.05, s"expected ~unit-norm corpus, got $norm")
    }
  }

  /** Portable 60-bit hash twin rebuilt from java.security MD5 — no
    * Spark/DuckDB machinery (the same independence discipline as s7's
    * key recount).
    */
  private def phashTwin(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }

  test("s10 DSIR weights: full integer recount from raw text, and target sources score higher") {
    // the oracle hash proves Spark == DuckDB; this recount proves BOTH
    // engines == the DSIR definition (hashed-bigram add-one LMs,
    // fixed-order integer ppm lift), rebuilt from java MD5 and Scala
    // collections with no SQL anywhere.
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("s10_dsir_weights")(spark, d).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val docs = graft.sources.Tables.documents(spark, d)
      .select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val target = Set("src0", "src1", "src2", "src3")
    val bigrams = docs.map { case (id, src, text) =>
      val tk = "[a-z]+".r.findAllIn(text.toLowerCase).toVector
      (id, src, tk.sliding(2).filter(_.size == 2).map(p => phashTwin(p.mkString(" ")) % 4096L).toVector)
    }.filter(_._3.nonEmpty)
    val cR = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val cT = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((_, src, bs) <- bigrams; b <- bs) {
      cR(b) += 1; if (target(src)) cT(b) += 1
    }
    val (totR, totT) = (cR.values.sum, cT.values.sum)
    def lift(b: Long): Long =
      (1000000L * (cT(b) + 1) / (cR(b) + 1)) * (totR + 4096) / (totT + 4096)
    assert(out.size == bigrams.length, "one output row per doc with >= 2 word tokens")
    for ((id, src, bs) <- bigrams) {
      val (oSrc, oN, oMean, oSel) = out(id)
      assert(oSrc == src && oN == bs.length.toLong, s"doc $id row mismatch")
      val mean = bs.map(lift).sum / bs.length
      assert(oMean == mean, s"doc $id mean lift: engine $oMean, recount $mean")
      assert(oSel == (if (mean >= 1000000L) 1L else 0L), s"doc $id selection flag")
    }
    // teeth: the target LM must pull its own sources up — mean lift of
    // target-source docs strictly above the rest (816k vs 725k at this
    // SF; the gap grows with corpus size as smoothing thins)
    val (tgtRows, rest) = out.values.partition(r => target(r._1))
    def avg(rs: Iterable[(String, Long, Long, Long)]) = rs.map(_._3).sum.toDouble / rs.size
    assert(avg(tgtRows) > avg(rest),
      s"target sources do not outscore the rest: ${avg(tgtRows)} vs ${avg(rest)}")
  }

  test("r19 significant terms: exact JLH recount from raw text — rank, score and exclusions") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("r19_significant_terms")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4),
        r.getDouble(5)))
    val docs = graft.sources.Tables.documents(spark, d).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val docTerms: Map[Long, Set[String]] = docs.map { case (id, t) =>
      id -> "[a-z]+".r.findAllIn(t.toLowerCase).toSet
    }.toMap
    val bt = docs.length.toLong
    val bg: Map[String, Long] =
      docTerms.values.flatten.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val fixtures = graft.operators.Retrieval.fixtureQueries
    val expected = fixtures.groupBy(_._1).toSeq.flatMap { case (qid, qs) =>
      val own = qs.map(_._2).toSet
      val matched = docTerms.collect { case (id, ts) if own.exists(ts) => id }.toVector
      val ft = matched.length.toLong
      val fg = matched.flatMap(docTerms).groupBy(identity)
        .map { case (t, xs) => t -> xs.size.toLong }
      val scored = fg.toSeq
        .filter { case (t, f) => f >= 2 && !own(t) }
        .map { case (t, f) => (t, f, bg(t), ((f * bt - bg(t) * ft) * f).toDouble / (ft * ft * bg(t))) }
        .sortBy { case (t, _, _, j) => (-j, t) }
        .take(10).zipWithIndex
      scored.map { case ((t, f, b, j), i) => (qid, i + 1, t, f, b, j) }
    }.sortBy(r => (r._1, r._2))
    assert(out.toSeq == expected,
      s"JLH recount mismatch:\nengine  ${out.toSeq.take(5)}\nrecount ${expected.take(5)}")
    // structural teeth on top of the equality: a query never reports
    // its own term, and every rank list is dense from 1
    val byQ = out.groupBy(_._1)
    for ((qid, rows) <- byQ) {
      val own = fixtures.filter(_._1 == qid).map(_._2).toSet
      assert(!rows.exists(r => own(r._3)), s"query $qid reports its own term")
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length), s"query $qid ranks not dense")
    }
  }

  test("qa5 freshness audit: every planted outage cell exact, every healthy type clean") {
    // the audit's whole value is exactness on the planted incident
    // shapes: a RECOVERED 4-day-total outage with a 3-day longest run
    // (error), a STILL-DARK tail outage (purchase, lag 3), and three
    // types that must audit green — gated cell by cell, all 5 rows
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("qa5_freshness_audit")(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(out.keySet == Set("click", "error", "purchase", "signup", "view"))
    assert(out("error") == ((26L, 4L, 3L, 0L, 1L)), s"error row: ${out("error")}")
    assert(out("purchase") == ((27L, 3L, 3L, 3L, 1L)), s"purchase row: ${out("purchase")}")
    for (t <- Seq("click", "signup", "view"))
      assert(out(t) == ((30L, 0L, 0L, 0L, 0L)), s"$t should audit clean: ${out(t)}")
  }

  test("v20 binary quant: hamming recounted from java sign-packing; recall floor vs exact truth") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("v20_binary_quant")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // independent bit-level recount: sign-pack every vector with plain
    // java longs (no Spark/DuckDB expression machinery) and recompute
    // each reported pair's hamming with Long.bitCount — pins the
    // 64-term SQL template (incl. the bit-63 most-negative-long term)
    // to the definition
    val vecs = graft.sources.Tables.embeddings(spark, d).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def pack(v: Seq[Float]): Long =
      v.zipWithIndex.foldLeft(0L) { case (acc, (x, k)) =>
        if (x > 0f) acc | (1L << k) else acc
      }
    val codes = vecs.map { case (id, v) => id -> pack(v) }
    for ((q, _, c, h, _) <- out)
      assert(h == java.lang.Long.bitCount(codes(q) ^ codes(c)).toLong,
        s"hamming($q, $c) drifted from the sign-pack definition")
    // structure: 10 dense rows per query, hamming within the word
    for ((q, rows) <- out.groupBy(_._1)) {
      assert(rows.map(_._2).sorted.toSeq == (1 to 10), s"query $q ranks not dense")
      assert(rows.forall(r => r._4 >= 0 && r._4 <= 64))
    }
    // recall floor vs the exact ranking: 1-bit codes on RANDOM vectors
    // are the hard regime (~0.61 mean measured here; real embedding
    // geometry does better) — the propose+rerank chain must stay well
    // above chance (10/500 ≈ 0.02)
    val exact = SparkEntry.queries("v1_knn_brute")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val recalls = out.groupBy(_._1).map { case (q, rows) =>
      val truth = exact.collect { case (`q`, c) => c }.toSet
      rows.count(r => truth(r._3)) / 10.0
    }
    assert(recalls.sum / recalls.size >= 0.4,
      s"mean recall@10 collapsed: ${recalls.sum / recalls.size}")
    assert(recalls.forall(_ >= 0.2), s"a query fell to near-chance recall: $recalls")
  }

  test("cdc3 SCD2: dense versions, gapless interval chains, one open row, run compression") {
    // the oracle hash proves the values; these are the SCD2 CONTRACTS
    // a warehouse consumer relies on, stated as invariants: per key
    // the version sequence is dense from 1, intervals chain with no
    // gap or overlap (valid_to(i) == valid_from(i+1)), exactly the
    // last row is open/current, no two CONSECUTIVE rows share a
    // segment (runs are maximally compressed — the property that
    // makes type-2 history minimal), and event mass is conserved.
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("cdc3_scd2")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), if (r.isNullAt(4)) null else r.getTimestamp(4),
        r.getLong(5), r.getLong(6)))
    assert(out.nonEmpty)
    val events = graft.sources.Tables.events(spark, d)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byUser = out.groupBy(_._1)
    assert(byUser.keySet == events.keySet, "a user with events is missing from the history")
    for ((u, rows0) <- byUser) {
      val rows = rows0.sortBy(_._2)
      assert(rows.map(_._2).toSeq == (1L to rows.length), s"user $u versions not dense")
      for (Array(a, b) <- rows.sliding(2).map(_.toArray).filter(_.length == 2)) {
        assert(a._5 == b._4, s"user $u interval chain broken at version ${a._2}")
        assert(a._3 != b._3, s"user $u consecutive runs share segment ${a._3} — not compressed")
        assert(a._4.before(b._4), s"user $u valid_from not increasing")
      }
      assert(rows.init.forall(_._6 == 0L) && rows.last._6 == 1L,
        s"user $u open-row flag wrong")
      assert(rows.last._5 == null, s"user $u current row has a valid_to")
      assert(rows.map(_._7).sum == events(u), s"user $u event mass not conserved")
    }
  }

  test("o6 keyset pagination: byte-equal to the OFFSET page at the same boundary") {
    // the seek method must serve EXACTLY the page the offset method
    // serves (pages 101-150 of the o_orderkey order) — equality is the
    // whole correctness claim; the difference is purely plan cost
    val d = "/root/testdata/sf0.001"
    val keyset = SparkEntry.queries("o6_keyset_pagination")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val offset = graft.sources.Tables.orders(spark, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey").offset(100).limit(50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(keyset.toSeq == offset.toSeq, "keyset page diverged from the offset page")
    assert(keyset.length == 50)
  }

  test("r20 BM25F: full Scala recount, and the policy provably diverges from r14's naive combine") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("r20_bm25f")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // independent recount from raw text: field split, field-weighted
    // length-normalized tf combined BEFORE one saturation against the
    // DOC-level idf, μ-quantized — plain Scala doubles + math.log
    val docs = graft.sources.Tables.documents(spark, d).select("doc_id", "text")
      .collect().map(r => (r.getLong(0),
        "[a-z]+".r.findAllIn(r.getString(1).toLowerCase).toVector))
    val fixtures = graft.operators.Retrieval.fixtureQueries
    val qterms = fixtures.map(_._2).distinct.toSet
    val fields = docs.flatMap { case (id, toks) =>
      Seq((id, "t", toks.take(3)), (id, "b", toks.drop(3)))
    }
    val fstats = fields.groupBy(_._2).map { case (f, xs) =>
      f -> (xs.size.toLong, xs.map(_._3.size.toLong).sum)
    }
    val nDocs = docs.length.toLong
    val ddf = qterms.map(t => t -> docs.count(_._2.contains(t)).toLong).toMap
    val tfb = scala.collection.mutable.Map.empty[(Long, String), Double].withDefaultValue(0.0)
    for ((id, f, ftoks) <- fields; t <- qterms) {
      val tf = ftoks.count(_ == t)
      if (tf > 0) {
        val (nf, sumdl) = fstats(f)
        val w = if (f == "t") 3.0 else 1.0
        tfb((id, t)) += w * tf / (0.25 + 0.75 * ftoks.size / (sumdl.toDouble / nf))
      }
    }
    val expected = fixtures.groupBy(_._1).toSeq.flatMap { case (qid, qs) =>
      val scores = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((_, t) <- qs; ((id, tt), v) <- tfb if tt == t) {
        val idf = math.log(1 + (nDocs - ddf(t) + 0.5) / (ddf(t) + 0.5))
        scores(id) += math.round(idf * ((v * 2.2) / (v + 1.2)) * 1000000)
      }
      scores.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(10).zipWithIndex
        .map { case ((id, sc), i) => (qid, i + 1, id, sc) }
    }.sortBy(r => (r._1, r._2))
    assert(out.toSeq == expected,
      s"BM25F recount mismatch:\nengine  ${out.take(5).toSeq}\nrecount ${expected.take(5)}")
    // the policy teeth: BM25F and r14's per-field-saturate-then-add
    // must RANK differently somewhere, or the side-by-side is vacuous
    val naive = SparkEntry.queries("r14_fielded_search")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val f20 = out.map(r => (r._1, r._2, r._3)).toSet
    assert(naive.exists(r => !f20.contains(r)),
      "BM25F produced exactly r14's ranking — the combine policies are not distinguishable")
  }

  test("e2e3 serving chain: corrections are the expected words, uncorrectable query exits, cap holds") {
    val d = "/root/testdata/sf0.001"
    // stage-1 contract, pinned through r11's oracled top-1 rows: the
    // chain serves BM25 for exactly these corrected words
    val sugg = SparkEntry.queries("r11_spell_correct")(spark, d).collect()
      .filter(_.getInt(1) == 1)
      .map(r => r.getInt(0).toLong -> r.getString(3)).toMap
    assert(sugg == Map(0L -> "spark", 1L -> "join", 2L -> "window",
      3L -> "customer", 4L -> "table"), s"corrections drifted: $sugg")
    val out = SparkEntry.queries("e2e3_spell_serve")(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3), r.getLong(4)))
    // the uncorrectable query (qid 5, no dictionary term within 2)
    // exits at stage 1 — zero rows, not garbage
    assert(!out.exists(_._1 == 5L), "uncorrectable query leaked results")
    assert(out.map(_._1).distinct.sorted.toSeq == (0L to 4L), "a corrected query is missing")
    for ((q, rows) <- out.groupBy(_._1)) {
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length), s"query $q ranks not dense")
      // stage-3 contract on the final page: never more than 2 per source
      val bySrc = rows.groupBy(_._4).view.mapValues(_.size)
      assert(bySrc.values.forall(_ <= 2), s"query $q crowding cap violated: ${bySrc.toMap}")
    }
  }

  test("d20 ppjoin: EXACT — engine pairs equal all-pairs brute force, no false negatives") {
    // the PPJoin claim is exactness at threshold τ = 0.5: every pair
    // with TRUE Jaccard >= τ is found (prefix filtering loses nothing),
    // every reported intersection is the true one. Brute force recounts
    // all pairs from Scala shingle sets over the same graded corpus.
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("d20_ppjoin")(spark, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5)))).toMap
    val base = graft.sources.Tables.documents(spark, d).select("doc_id", "text")
    val planted = graft.operators.MinHash.gradedPlanting(base)._1.select("doc_id", "text")
    val corpus = base.union(planted).collect().map(r => (r.getLong(0), r.getString(1)))
    val sets: Map[Long, Set[String]] = corpus.map { case (id, t) =>
      id -> t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.toMap
    val ids = sets.keys.toVector.sorted
    val truth = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.length
      a = sets(ids(i)); b = sets(ids(j)) if a.nonEmpty && b.nonEmpty
      inter = (a & b).size if inter > 0
      jac = inter.toDouble / (a.size + b.size - inter) if jac >= 0.5
    } yield (ids(i), ids(j)) -> (inter.toLong, a.size.toLong, b.size.toLong, jac)).toMap
    // completeness: NO false negatives (the guarantee LSH can't make —
    // d14 measures what d2 misses; d20 must miss nothing)
    val missed = truth.keySet -- out.keySet
    assert(missed.isEmpty, s"prefix filter dropped true pairs: ${missed.take(5)}")
    // soundness: nothing below τ reported, and stats are the true ones
    val extra = out.keySet -- truth.keySet
    assert(extra.isEmpty, s"reported pairs below threshold: ${extra.take(5)}")
    for ((k, v) <- truth) assert(out(k) == v, s"pair $k stats: engine ${out(k)}, truth $v")
    assert(truth.nonEmpty, "fixture has no pairs at τ = 0.5 — planting broken")
    // the graded planting must exercise the threshold from both sides:
    // sev-0/1 plants in, sev-3 plants out (J ~ 0.05 << τ)
    val sev0 = corpus.collect { case (id, _) if id >= 7000000L && id < 8000000L => id }
    assert(sev0.forall(p => out.contains((p - 7000000L, p))), "a verbatim plant was missed")
    val sev3 = corpus.collect { case (id, _) if id >= 10000000L => id }
    assert(sev3.forall(p => !out.contains((p - 10000000L, p))), "a sev-3 plant (J~0.05) passed τ = 0.5")
  }

  test("mv1 rollup: state merge is split-independent (Chan partial algebra)") {
    import graft.operators.Rollup
    import graft.sources.Tables
    val d = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, d)
    def served(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
      Rollup.merge(df).orderBy("event_type").collect().toSeq
    val direct = served(Rollup.states(ev))
    // cut the events into 3 arbitrary slices that do NOT respect day
    // boundaries — the partials of each slice, merged, must reproduce
    // the direct rollup bit-for-bit (this is what makes the refresh
    // legal: the store never cares how history was batched)
    val sliced = (0 to 2).map(k => Rollup.states(ev.filter(col("event_id") % 3 === k)))
      .reduce(_ unionByName _)
    assert(served(sliced) == direct, "merged slice partials diverge from direct rollup")
    // and the registered query's own cut (seed artifact ∪ new day)
    val inc = served(Rollup.seedStates(spark, d).unionByName(Rollup.newDayStates(spark, d)))
    assert(inc == direct, "incremental refresh diverges from full recompute")
  }

  test("mv2 restatement: untouched days byte-identical, delete/upsert mass observable") {
    import graft.operators.Rollup
    import graft.sources.Tables
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("mv2_late_restatement")(spark, d).collect().toSeq
    // the direct rollup over UNCORRECTED events — what every day looked
    // like before the late batch landed
    val naive = Rollup.presentDaily(
      Rollup.states(Tables.events(spark, d)).withColumn("restated", lit(false)))
      .orderBy("day", "event_type").collect().toSeq
    val restDays = Rollup.RestateDays.map(java.sql.Date.valueOf).toSet
    val (touched, untouched) = out.partition(r => restDays.contains(r.getDate(0)))
    // the restated flag marks exactly the fixture days
    assert(touched.nonEmpty && touched.forall(_.getBoolean(7)))
    assert(untouched.forall(!_.getBoolean(7)))
    // every untouched day is served bit-identical from the seed artifact
    assert(untouched == naive.filter(r => !restDays.contains(r.getDate(0))),
      "an untouched day's served state diverges from the direct rollup")
    // deletes: each restated day lost exactly its % 20 == 0 rows
    val dayCol = to_date(col("ts"))
    for (dd <- Rollup.RestateDays) {
      val day = java.sql.Date.valueOf(dd)
      val dels = Tables.events(spark, d)
        .filter(dayCol === lit(dd).cast("date") && col("event_id") % 20 === 0).count()
      assert(dels > 0, s"fixture must delete rows on $dd")
      val got = touched.filter(_.getDate(0) == day).map(_.getLong(2)).sum
      val before = naive.filter(_.getDate(0) == day).map(_.getLong(2)).sum
      assert(got == before - dels, s"$dd: n $got vs $before - $dels deletes")
    }
    // upserts: some group's mean moved on each restated day (value + 7.50
    // is observable through the state algebra, not absorbed by it)
    val naiveAvg = naive.map(r => (r.getDate(0), r.getString(1)) -> r.getDouble(3)).toMap
    for (dd <- Rollup.RestateDays) {
      val day = java.sql.Date.valueOf(dd)
      assert(touched.exists(r => r.getDate(0) == day &&
        naiveAvg((day, r.getString(1))) != r.getDouble(3)),
        s"$dd: no group's mean moved — the upsert leg is unobservable")
    }
  }

  test("qa6 k-anonymity: guarantee and minimality recounted independently") {
    import graft.sources.Tables
    // recount the whole ladder in plain Scala and hold every output row
    // to (a) the k-guarantee, (b) minimal generalization, (c) an honest
    // raw-risk audit bit; returns the level histogram for teeth checks
    def check(d: String): Map[Long, Long] = {
      val out = SparkEntry.queries("qa6_k_anonymity")(spark, d).collect()
      val rows = Tables.customer(spark, d)
        .select(col("c_custkey"), col("c_nationkey").cast("long"),
          expr("CAST(floor(c_acctbal / 1000) AS BIGINT)"),
          expr("CAST(floor(c_acctbal / 5000) AS BIGINT)")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val n0 = rows.groupBy(r => (r._2, r._3)).map { case (k, v) => k -> v.length }
      val n1 = rows.groupBy(r => (r._2, r._4)).map { case (k, v) => k -> v.length }
      val n2 = rows.groupBy(_._2).map { case (k, v) => k -> v.length }
      val byKey = rows.map(r => r._1 -> r).toMap
      assert(out.length == rows.length)
      for (o <- out) {
        val (ck, lvl, k) = (o.getLong(0), o.getLong(4), o.getLong(5))
        val r = byKey(ck)
        val sizes = Seq(n0((r._2, r._3)), n1((r._2, r._4)), n2(r._2), rows.length)
        assert(lvl == 3 || k >= 5, s"$ck: level $lvl k_size $k breaks the guarantee")
        assert(k == sizes(lvl.toInt), s"$ck: k_size $k != recount ${sizes(lvl.toInt)}")
        assert((0 until lvl.toInt).forall(sizes(_) < 5), s"$ck: level $lvl not minimal")
        assert(o.getBoolean(3) == (sizes.head < 5), s"$ck: at_risk_raw wrong")
      }
      out.groupBy(_.getLong(4)).map { case (l, v) => l -> v.length.toLong }
    }
    // teeth: sf0.001's 150 customers force full suppression for some
    // rows; sf0.01's organic skew mixes levels 0/1/2
    val l001 = check("/root/testdata/sf0.001")
    assert(l001.contains(3L), s"sf0.001 must exercise full suppression: $l001")
    val l01 = check("/root/testdata/sf0.01")
    assert(Seq(0L, 1L, 2L).forall(l01.contains), s"sf0.01 must mix levels: $l01")
  }

  test("v21 hard negatives: the false-negative screen visibly denoises the mined set") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("v21_hard_negatives")(spark, d).collect()
    val anchors = out.map(_.getLong(0)).distinct.sorted
    assert(anchors.length == 10)
    // exactly 10 screened negatives per anchor, all below the dup line
    for (q <- anchors) {
      val mine = out.filter(_.getLong(0) == q)
      assert(mine.length == 10, s"anchor $q mined ${mine.length} negatives")
      assert(mine.forall(_.getDouble(3) < 0.95),
        s"anchor $q mined a near-duplicate as a negative")
      // the planted exact copy never leaks through
      assert(!mine.exists(_.getLong(2) == q + 1000000L),
        s"anchor $q mined its own planted copy")
    }
    // and the screen CHANGED the answer: unscreened, every anchor's
    // top-1 would be its planted copy at cos = 1.0 — recompute the
    // naive rank-1 on the same planted corpus and require divergence
    import graft.sources.Tables
    graft.functions.NativeFunctions.register(spark)
    val emb = Tables.embeddings(spark, d).select("vec_id", "embedding")
    val corpus = emb.union(emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val qs = emb.filter(col("vec_id") < 10).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    for ((qid, arr) <- qs) {
      val naiveTop = corpus.filter(col("vec_id") =!= qid)
        .select(col("vec_id"),
          call_function("cosine_sim_q", col("embedding"),
            typedLit(arr)).as("cos"))
        .orderBy(desc("cos"), asc("vec_id")).limit(1).collect().head
      assert(naiveTop.getLong(0) == qid + 1000000L && naiveTop.getDouble(1) >= 0.95,
        s"fixture defect: anchor $qid's naive top-1 is not its planted copy")
      val screenedTop = out.filter(r => r.getLong(0) == qid && r.getInt(1) == 1).head
      assert(screenedTop.getLong(2) != naiveTop.getLong(0),
        s"anchor $qid: screen did not change the mined top negative")
    }
  }

  test("r21 wildcard: all three serving paths recounted against a plain-Scala dictionary") {
    import graft.sources.Tables
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("r21_wildcard")(spark, d).collect()
    // independent dictionary: term -> doc frequency from the raw corpus
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
    val dfOf = docs.flatMap(r => "[a-z]+".r.findAllIn(r.getString(1).toLowerCase)
        .toSet.map((t: String) => (t, r.getLong(0))))
      .groupBy(_._1).map { case (t, v) => t -> v.map(_._2).distinct.length.toLong }
    val pats = Seq((0, "t%e"), (1, "s%w"), (2, "%ow"), (3, "%ar%"),
      (4, "zz%zz"), (5, "b%h"), (6, "%a%"))
    def matches(p: String, t: String): Boolean = {
      val rx = "^" + p.split("%", -1).map(java.util.regex.Pattern.quote).mkString(".*") + "$"
      t.matches(rx)
    }
    var nonEmpty = Set.empty[Int]
    for ((qid, p) <- pats) {
      val expect = dfOf.keys.toSeq.filter(matches(p, _))
        .map(t => (t, dfOf(t))).sortBy { case (t, c) => (-c, t) }.take(5)
      val got = out.filter(_.getInt(0) == qid).sortBy(_.getInt(1))
        .map(r => (r.getString(3), r.getLong(4))).toSeq
      assert(got == expect, s"pattern $p: served $got vs recounted $expect")
      if (got.nonEmpty) nonEmpty += qid
    }
    // every serving path exercised: prefix (0, 5), gram (2, 3),
    // gramless fallback (6); the no-match pattern (4) yields nothing
    assert(Set(0, 2, 5, 6).subsetOf(nonEmpty) && !nonEmpty(4), s"paths: $nonEmpty")
  }

  test("s12 leakage-safe split: groups cohere, s8's per-id hash provably leaks, singletons stable") {
    import graft.sources.Tables
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("s12_leakage_safe_split")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def knuthSplit(id: Long): String = {
      val bkt = (((id % 2147483648L) * 2654435761L) % 4294967296L) % 100
      if (bkt < 80) "train" else if (bkt < 90) "val" else "test"
    }
    // rebuild the content groups independently
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val aug = docs ++ docs.filter(_._1 % 20 == 3).map { case (id, t) => (id + 1000000L, t) }
    val groups = aug.groupBy(_._2).values.map(_.map(_._1).sorted).toSeq
    val splitOf = out.map(r => r._1 -> r._3).toMap
    // (a) every duplicate group lands in ONE split; the served rep is the min id
    val repOf = out.map(r => r._1 -> r._2).toMap
    for (g <- groups) {
      assert(g.map(splitOf).distinct.length == 1, s"group $g straddles splits")
      assert(g.forall(repOf(_) == g.min), s"group $g: wrong representative")
    }
    // (b) s8's own-id hash WOULD leak on this corpus: some planted pair
    // disagrees under knuthSplit(own id) — the defect s12 exists to fix
    val plantPairs = groups.filter(_.length > 1)
    assert(plantPairs.nonEmpty)
    assert(plantPairs.exists(g => g.map(knuthSplit).distinct.length > 1),
      "fixture defect: the per-id hash happens to agree on every dup pair")
    // (c) singletons keep exactly s8's assignment (no churn from the fix)
    for (g <- groups.filter(_.length == 1); id = g.head)
      assert(splitOf(id) == knuthSplit(id), s"singleton $id churned")
    // (d) dup members inherit the representative's s8 split
    for (g <- plantPairs; id <- g)
      assert(splitOf(id) == knuthSplit(g.min))
  }

  test("r22 proximity: full plain-Scala recount; slop matters vs exact phrase") {
    import graft.sources.Tables
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("r22_proximity")(spark, d).collect()
    // independent recount: tokenize, build position lists, count NEAR/5
    // anchors per (query, doc) in plain Scala
    val toks = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> "[a-z]+".r.findAllIn(r.getString(1).toLowerCase).toArray)
      .toMap
    val queries = toks.toSeq.filter { case (id, t) => id < 10 && t.length >= 4 }
      .map { case (id, t) => (id, t(0), t(3)) }.sortBy(_._1)
    def near(doc: Array[String], t1: String, t2: String): Long = {
      val p1 = doc.zipWithIndex.collect { case (w, i) if w == t1 => i }
      val p2 = doc.zipWithIndex.collect { case (w, i) if w == t2 => i }
      p1.count(p => p2.exists(q => q != p && math.abs(q - p) <= 5)).toLong
    }
    var slopBeatsPhrase = false
    for ((qid, t1, t2) <- queries) {
      val expect = toks.toSeq
        .map { case (id, t) => (id, near(t, t1, t2)) }.filter(_._2 > 0)
        .sortBy { case (id, n) => (-n, id) }.take(10)
      val got = out.filter(_.getLong(0) == qid).sortBy(_.getInt(1))
        .map(r => (r.getLong(2), r.getLong(3))).toSeq
      assert(got == expect, s"query $qid: served $got vs recounted $expect")
      // the query's own doc must MATCH (its terms sit at distance 3) —
      // it need not make the top-10 on this small-vocab corpus
      assert(near(toks(qid), t1, t2) > 0, s"query $qid's own doc does not match")
      // and exact phrase adjacency would NOT find the own-doc anchor
      val ownDoc = toks(qid)
      val adjacent = ownDoc.sliding(2).exists(p => p(0) == t1 && p(1) == t2)
      if (!adjacent) slopBeatsPhrase = true
    }
    assert(slopBeatsPhrase,
      "fixture defect: every query's terms are adjacent — NEAR is indistinguishable from phrase")
    assert(!out.exists(_.getLong(0) == 10L), "the zero-match pair returned rows")
  }

  test("p15 length buckets: partition honesty and monotone padding savings") {
    import graft.sources.Tables
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("p15_length_buckets")(spark, d).collect()
      .sortBy(_.getInt(0))
    assert(out.map(_.getInt(0)).toSeq == (1 to 8), "buckets must be 1..8")
    val nDocs = Tables.documents(spark, d).count()
    assert(out.map(_.getLong(1)).sum == nDocs, "buckets must partition the corpus")
    // ranges ordered and non-overlapping; slot arithmetic honest
    val gmax = out.last.getLong(3)
    for (Seq(a, b) <- out.toSeq.sliding(2))
      assert(a.getLong(3) <= b.getLong(2),
        s"bucket ${a.getInt(0)} max ${a.getLong(3)} overlaps ${b.getLong(2)}")
    for (r <- out) {
      assert(r.getLong(2) <= r.getLong(3))
      assert(r.getLong(4) == r.getLong(1) * gmax, "slots_global arithmetic")
      assert(r.getLong(5) == r.getLong(1) * r.getLong(3), "slots_bucketed arithmetic")
    }
    // savings fall as buckets lengthen; the max-holding bucket saves 0;
    // overall the bucketing genuinely saves slots
    val saved = out.map(_.getLong(6)).toSeq
    assert(saved == saved.sortBy(-_), s"saved_ppm not monotone: $saved")
    assert(saved.last == 0L && saved.head > 0L)
    assert(out.map(_.getLong(5)).sum < out.map(_.getLong(4)).sum)
  }

  test("cmp1 compaction plan: conservation, thresholds, bounded bin overshoot") {
    import graft.sources.Tables
    val d = "/root/testdata/sf0.001"
    val T = graft.operators.CompactionPlan.Target
    val out = SparkEntry.queries("cmp1_compaction_plan")(spark, d).collect()
    // conservation: every manifest file planned exactly once, byte mass intact
    val totalChars = Tables.documents(spark, d)
      .agg(sum("n_chars")).collect().head.getLong(0)
    assert(out.map(_.getLong(2)).sum == totalChars, "plan loses or double-counts bytes")
    assert(out.map(r => (r.getString(0), r.getLong(1))).distinct.length == out.length)
    val (compact, keep) = out.partition(_.getString(3) == "compact")
    assert(compact.nonEmpty && keep.nonEmpty, "fixture must exercise both actions")
    assert(keep.forall(_.getLong(2) >= T), "a large file was scheduled for rewrite")
    assert(compact.forall(_.getLong(2) < T), "a target-sized file was rewritten")
    assert(compact.exists(_.getLong(5) >= 2L), "no multi-file group planned")
    // offset-binning's bounded-overshoot guarantee: every non-final bin
    // per source lands within (T - maxSmall, T + maxSmall)
    for ((src, rows) <- compact.groupBy(_.getString(0))) {
      val maxSmall = rows.map(_.getLong(2)).max
      val lastBin = rows.map(_.getLong(4)).max
      for ((bin, rs) <- rows.groupBy(_.getLong(4)) if bin != lastBin) {
        val bytes = rs.head.getLong(6)
        assert(bytes > T - maxSmall && bytes < T + maxSmall,
          s"$src bin $bin mass $bytes outside (${T - maxSmall}, ${T + maxSmall})")
      }
    }
  }

  test("d21 novelty: exact copies score zero, partial copies land mid-range, novel mass reconciles") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("d21_ngram_novelty")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // verbatim copies at +1e6: every window was first seen in the
    // original (smaller id), so the copy contributes NOTHING
    val copies = out.filter(r => r._1 >= 1000000L && r._1 < 30000000L)
    assert(copies.nonEmpty)
    assert(copies.forall(r => r._3 == 0 && r._4 == 0),
      s"an exact copy scored novel: ${copies.filter(_._3 != 0).toSeq}")
    // shifted partial copies at +3e7: the doc-unique fill windows are
    // new, the copied spans are not — strictly between the extremes
    val partials = out.filter(_._1 >= 30000000L)
    assert(partials.nonEmpty)
    assert(partials.forall(r => r._4 > 0 && r._4 < 1000000),
      s"a partial copy left mid-range: ${partials.filterNot(r => r._4 > 0 && r._4 < 1000000).toSeq}")
    // conservation: each distinct window hash is novel at EXACTLY its
    // first doc, so Σ n_novel over docs == |distinct hashes| — an
    // independent recount through the same portable hash
    import graft.operators.TextOps
    val sp0 = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val corpus = sp0
      .unionByName(sp0.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("ws")))
      .unionByName(sp0.filter(col("doc_id") % 5 === 0 && size(col("ws")) >= 48)
        .select(col("doc_id"), col("ws"),
          expr("transform(sequence(0, 7), i -> concat('x', CAST(doc_id AS STRING), 'f', CAST(i AS STRING)))").as("fill"))
        .select((col("doc_id") + 30000000L).as("doc_id"),
          expr("concat(slice(ws, 1, 12), fill, slice(ws, 31, 12))").as("ws")))
    val nHashes = corpus.filter(size(col("ws")) >= 8)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 8), i -> concat_ws(' ', slice(ws, i + 1, 8)))")).as("w"))
      .select(TextOps.phash(col("w")).as("h")).distinct().count()
    assert(out.map(_._3).sum == nHashes,
      s"novel mass ${out.map(_._3).sum} != distinct windows $nHashes")
  }

  test("s13 diversity cap: per-bucket cap respected, min-id winners, planted pairs co-bucketed") {
    val d = "/root/testdata/sf0.001"
    val kept = SparkEntry.queries("s13_lsh_diversity_sample")(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // cap: never more than 2 survivors per bucket
    val byBucket = kept.groupBy(_._2)
    assert(byBucket.forall(_._2.length <= 2),
      s"bucket over cap: ${byBucket.filter(_._2.length > 2).keys.take(3)}")
    // winners are the bucket's SMALLEST ids — recount from the shared
    // signature artifact the query serves from
    val sig = graft.operators.MinHash.signaturesArtifact(spark, d)
      .select(col("doc_id"),
        concat_ws(",", col("m0"), col("m1"), col("m2"), col("m3")).as("bucket"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expect = sig.groupBy(_._2).toSeq.flatMap { case (b, rows) =>
      rows.map(_._1).sorted.take(2).map((_, b)).toSeq
    }.toSet
    assert(kept.toSet == expect, "kept set != 2 smallest ids per bucket")
    // withDupes' verbatim copies share their original's signature, so
    // each planted (orig, orig + 1e6) pair lands in ONE bucket
    val bucketOf = sig.toMap
    val plantedOrigs = sig.map(_._1).filter(id => id < 1000000 && id % 10 == 0)
      .filter(id => bucketOf.contains(id + 1000000L))
    assert(plantedOrigs.nonEmpty)
    assert(plantedOrigs.forall(id => bucketOf(id) == bucketOf(id + 1000000L)),
      "a verbatim copy left its original's bucket")
  }

  test("s14 temperature mix: ppm mass balances, boost strictly upweights low-resource sources") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("s14_temperature_mix")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.length >= 3, "fixture needs a multi-source registry")
    // both ppm columns sum to 1e6 up to per-row rounding
    for ((col, i) <- Seq(("share_ppm", 2), ("weight_ppm", 3))) {
      val s = out.map(r => r.productElement(i).asInstanceOf[Long]).sum
      assert(math.abs(s - 1000000L) <= out.length,
        s"$col mass $s strays past rounding slack")
    }
    assert(math.abs(out.map(_._5).sum - 10000L) <= out.length)
    // α = 0.7 < 1: boost = share^(α-1) is strictly decreasing in share,
    // so sorting by n_docs must sort boost the opposite way (ties in
    // n_docs get equal boost); every below-mean source boosts > 1e6
    val byN = out.sortBy(_._2).toSeq
    for (pair <- byN.sliding(2).toSeq; a = pair.head; b = pair.last
         if pair.length == 2 && a._2 != b._2)
      assert(a._6 > b._6, s"boost not inverse to size: $a vs $b")
    val meanShare = 1000000L / out.length
    assert(out.filter(_._3 < meanShare).forall(_._6 > 1000000L),
      "a low-resource source was not upweighted")
  }

  test("s15 DSIR resample: every draw lands in its doc's interval; multiplicity floor/ceil-faithful to weight") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("s15_dsir_resample")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.length == 100, s"systematic resample must emit exactly k rows, got ${out.length}")
    assert(out.map(_._1).toSeq == (0L until 100L), "draw ids not 0..99 in order")
    // independent recount from the oracled s10 weights: rebuild the
    // cumulative intervals and stride midpoints driver-side
    val w = SparkEntry.queries("s10_dsir_weights")(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), math.max(r.getLong(3), 1L))).sortBy(_._1)
    val tw = w.map(_._3).sum
    var cum = 0L
    val intervals = w.map { case (id, src, wt) =>
      val lo = cum; cum += wt; (id, src, wt, lo, cum)
    }
    val exp = (0 until 100).map { j =>
      val p = ((2L * j + 1) * tw) / 200L
      val doc = intervals.find(iv => p >= iv._4 && p < iv._5).get
      (j.toLong, doc._1, doc._2, doc._3)
    }
    assert(out.toSeq == exp, "resample != driver recount of stride positions over intervals")
    // the multiplicity IS the resampling: each doc wins between
    // floor(k·w/W) and ceil(k·w/W) draws (integer stride positions
    // preserve exact-interval membership, so the classical systematic-
    // resampling bound holds with no slack)
    val mult = out.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    for ((id, _, wt, _, _) <- intervals) {
      val lo = (100L * wt) / tw
      val m = mult.getOrElse(id, 0L)
      assert(m >= lo && m <= lo + 1,
        s"doc $id multiplicity $m outside [$lo, ${lo + 1}] for weight $wt/$tw")
    }
  }

  test("s16 epoch sample: exact per-source quotas, dense min-hash ranks, low-resource over-representation") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("s16_epoch_sample")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val srcCounts = graft.sources.Tables.documents(spark, d)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // recompute every quota from the temperature formula: quota =
    // min(round(budget · share^0.7 / Z), n_docs) — pins the formula,
    // the cap, and that admitted == quota exactly
    val total = srcCounts.values.sum
    val zsum = srcCounts.values.map(n => math.pow(n.toDouble / total, 0.7)).sum
    def quotaOf(n: Long): Long = math.min(
      math.round((total / 5) * math.pow(n.toDouble / total, 0.7) / zsum), n)
    for ((src, rows) <- out.groupBy(_._1)) {
      val expect = quotaOf(srcCounts(src))
      assert(rows.head._2 == expect, s"$src quota ${rows.head._2} != recount $expect")
      assert(rows.length == expect, s"$src admitted ${rows.length} != quota $expect")
      assert(rows.map(_._3).sorted.toSeq == (1L to expect), s"$src ranks not dense")
    }
    // budget conservation up to per-source rounding PLUS saturation:
    // sources whose uncapped ask exceeds their size contribute all
    // they have and the epoch legitimately runs short by the overflow
    val uncappedShort = srcCounts.values.map { n =>
      math.max(0L, math.round((total / 5) * math.pow(n.toDouble / total, 0.7) / zsum) - n)
    }.sum
    assert(math.abs(out.length + uncappedShort - total / 5) <= srcCounts.size,
      s"epoch size ${out.length} (+$uncappedShort saturated) strays from budget ${total / 5}")
    // temperature α = 0.7 < 1: every below-mean source's admitted share
    // exceeds its corpus share (the boost, materialized)
    val meanShare = 1.0 / srcCounts.size
    for ((src, n) <- srcCounts if n.toDouble / total < meanShare) {
      val admitted = out.count(_._1 == src).toDouble / out.length
      assert(admitted > n.toDouble / total,
        s"low-resource $src not over-represented: $admitted vs ${n.toDouble / total}")
    }
  }

  test("d22 bloom screen: sound (exact subset of bloom) per doc; measured FPR inside the theory band") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("d22_bloom_decontam")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    // SOUNDNESS — the property that makes a Bloom screen deployable:
    // it can over-flag, never miss; n_fp >= 0 on every doc
    for ((id, nw, ex, bl, fp) <- out) {
      assert(ex <= bl, s"doc $id: exact $ex > bloom $bl — a Bloom false NEGATIVE")
      assert(fp == bl - ex && fp >= 0 && bl <= nw)
    }
    // the bench docs self-match: their windows are all inserted, so
    // exact (and hence bloom) hits cover them fully
    for ((id, nw, ex, bl, _) <- out if id < 5)
      assert(ex == nw && bl == nw, s"bench doc $id not fully flagged: $ex/$bl of $nw")
    // measured FPR over NON-matching windows vs theory: with n inserted
    // hashes, load q = 1 - (1 - 1/4096)^(3n), FPR = q^3. The filter is
    // deliberately small so this is observable; allow a wide band
    // (x3 either way) since per-corpus hash alignment varies.
    val spDocs = graft.sources.Tables.documents(spark, d)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ").as("ws"))
    val nIns = graft.operators.TextOps.d7bBenchWindows(
      graft.operators.TextOps.d7bBenchFixture(spDocs))
      .select("h").distinct().count()
    val q = 1.0 - math.pow(1.0 - 1.0 / 4096.0, 3.0 * nIns)
    val theory = math.pow(q, 3)
    val totalNonMatch = out.map(r => r._2 - r._3).sum.toDouble
    val totalFp = out.map(_._5).sum.toDouble
    val measured = totalFp / totalNonMatch
    assert(measured < theory * 3 && measured > theory / 3,
      s"measured FPR $measured vs theory $theory (n=$nIns) outside the x3 band")
  }

  test("tok10 sequence packing: offsets recount from a driver cumsum; chunk geometry conserved") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("tok10_sequence_packing")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    // offsets are the exclusive cumsum of token counts in doc_id order
    var off = 0L
    for ((id, n, start, first, last, spans) <- out.sortBy(_._1)) {
      assert(n > 0, s"zero-token doc $id emitted a row")
      assert(start == off, s"doc $id offset $start != recount $off")
      assert(first == start / 256 && last == (start + n - 1) / 256,
        s"doc $id chunk geometry ($first, $last) != recount")
      assert(spans == last - first + 1)
      off += n
    }
    // stream conservation: the last chunk index covers exactly
    // ceil(total / 256) chunks, and chunk coverage is gapless
    val total = out.map(_._2).sum
    assert(out.map(_._5).max == (total - 1) / 256,
      "last chunk != ceil(total/256) - 1")
    val covered = out.flatMap(r => r._4 to r._5).toSet
    assert(covered == (0L to (total - 1) / 256).toSet, "chunk coverage has gaps")
    // the fixture actually exercises boundary-crossing docs
    assert(out.exists(_._6 > 1), "no doc spans a chunk boundary — the spans metric is untested")
  }

  test("t20 gopher rules: each rule fires alone on its planted violator; clean prose passes all five") {
    import graft.operators.TextOps
    // one violator per rule, each clean under every OTHER rule — the
    // sf fixture never trips wordlen/symbols/alpha, so the battery's
    // teeth are proven here, through the exact projection t20 serves
    val base = "the stream is a good one and we sort it here" // 2+ stops, alpha, no symbols
    val longClean = (base + " ") * 5 + base // 55 words: passes wordcount
    val docs = Seq(
      (0L, longClean, "clean"),
      (1L, base, "short"), // 11 words < 50 -> r_wordcount only
      (2L, ("the of and in " + Seq.fill(46)("ab").mkString(" ")), "tinywords"), // mean wlen 2.06 < 3
      (3L, (longClean + " " + Seq.fill(10)("#####").mkString(" ")), "symbols"), // 50 '#' in 76 words > 1/10 (5-char words keep mean wlen >= 3)
      (4L, ("the of and in " + Seq.fill(46)("12345").mkString(" ")), "digits"), // alpha words 4/50 < 0.8
      // all-caps words are ALPHABETIC under Gopher's rule — this doc is
      // doc 0 with every filler word uppercased, and must pass all five
      (6L, longClean.split(" ").zipWithIndex.map { case (w, i) =>
        if (i % 2 == 0) w.toUpperCase else w }.mkString(" "), "caps"),
      (5L, longClean.replaceAll("\\bthe\\b", "xx").replaceAll("\\ba\\b", "yy")
        .replaceAll("\\bis\\b", "zz").replaceAll("\\band\\b", "qq"), "nostops"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.gopherRules(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(4), r.getBoolean(5), r.getBoolean(6),
        r.getBoolean(7), r.getBoolean(8), r.getBoolean(9)))
    def row(id: Long) = out.find(_._1 == id).get
    assert(row(0L) == ((0L, true, true, true, true, true, true)), s"clean doc failed: ${row(0L)}")
    // each violator fails EXACTLY its own rule (tuple: wc, wlen, sym, alpha, stops, pass)
    assert(row(1L) == ((1L, false, true, true, true, true, false)), s"wordcount: ${row(1L)}")
    assert(row(2L) == ((2L, true, false, true, true, true, false)), s"wordlen: ${row(2L)}")
    assert(row(3L) == ((3L, true, true, false, true, true, false)), s"symbols: ${row(3L)}")
    assert(row(4L) == ((4L, true, true, true, false, true, false)), s"alpha: ${row(4L)}")
    assert(row(5L) == ((5L, true, true, true, true, false, false)), s"stops: ${row(5L)}")
    // half the words are ALL-CAPS: alphabetic under [a-zA-Z] (the
    // Gopher-faithful rule), non-alphabetic under the old [a-z]
    assert(row(6L) == ((6L, true, true, true, true, true, true)), s"caps: ${row(6L)}")
  }

  test("m5 phash dedup: group recount holds, identical pixels co-hash, halves stay in 32 bits") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("m5_phash_dedup")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // both halves are non-negative and below 2^32 — the BIGINT sign bit
    // never engages on either engine
    assert(out.forall(r => r._2 >= 0 && r._2 < (1L << 32) && r._3 >= 0 && r._3 < (1L << 32)))
    // group accounting: n_copies and canon_id recount from the hashes
    val grp = out.groupBy(r => (r._2, r._3))
    for (r <- out) {
      val g = grp((r._2, r._3))
      assert(r._4 == g.length, s"n_copies ${r._4} != recount ${g.length} for doc ${r._1}")
      assert(r._5 == g.map(_._1).min, s"canon_id ${r._5} not the group min for doc ${r._1}")
    }
    // the tiny-image fixture collides enough for observable groups
    assert(out.exists(_._4 > 1), "no dhash group with >1 member — the dedup path is untested")
    // determinism + dedup semantics at the unit level: the same content
    // hash encodes to the same pixels and therefore the same dHash (the
    // full-query planted-copy case rides d1's exact-dup fixtures at the
    // oracle SFs); distinct content hashes move at least one half
    val png = Multimodal.encodePngBatch(Seq((1L, 987654321L), (2L, 987654321L), (3L, 123456789L)))
    val hs = Multimodal.dhashBatch(png).map(h => (h.h_hi, h.h_lo))
    assert(hs(0) == hs(1), "identical pixels produced different dHashes")
    assert(hs(0) != hs(2), "distinct fixture images collided at the unit level")
  }

  test("v22 matryoshka: full dim is its own truth, mean recall grows with the prefix") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("v22_matryoshka_eval")(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 40, s"4 dims x 10 queries expected, got ${out.length}")
    assert(out.forall(r => r._3 >= 0 && r._3 <= 10))
    assert(out.forall(r => math.abs(r._4 - r._3 / 10.0) < 1e-12))
    // the dim-64 prefix IS the full vector: recall 1.0 by construction —
    // anything else means the truth side and the eval side diverged
    assert(out.filter(_._1 == 64).forall(r => r._3 == 10L),
      s"full-dim rows off truth: ${out.filter(_._1 == 64).toSeq}")
    // longer prefixes carry more of the vector: mean recall must not
    // DROP as dim grows (per-query dips are legal; the mean curve is
    // the serving dial this query exists to measure)
    val avg = out.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum.toDouble / v.length }
    for (Seq(a, b) <- Seq(8, 16, 32, 64).sliding(2).toSeq)
      assert(avg(a) <= avg(b) + 1e-9, s"mean recall fell from dim $a (${avg(a)}) to dim $b (${avg(b)})")
  }

  test("v22 zero-norm prefix: NULL cosine ranks last on both sides of the contract") {
    // The NULLIF guard (oracle) and the cn2/qn2 == 0 → NULL branch
    // (engine) exist for vectors whose FIRST-k elements all quantize to
    // zero — the real corpus never plants one, so the branch was
    // untested. Fixture: 25 dense vectors; cand 12 AND query 5 get an
    // exactly-zero first-8 prefix (dim-8 norm 0, dims ≥ 16 dense).
    // Expected output is a brute-force twin with the shared NULL
    // semantics (NULL never outranks a number; ties by cand_id) —
    // the same ordering DuckDB's NULLIF + DESC NULLS LAST yields.
    val dir = tmpDir("graft-v22-zeronorm")
    val rnd = new scala.util.Random(7)
    val vecs: Map[Long, Array[Float]] = (0L until 25L).map { id =>
      id -> Array.tabulate(64) { i =>
        if ((id == 12L || id == 5L) && i < 8) 0.0f
        else rnd.nextFloat() * 2f - 1f
      }
    }.toMap
    spark.createDataFrame(
        vecs.toSeq.sortBy(_._1).map { case (id, e) => (id, e.toSeq, 0) })
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val dims = Seq(8, 16, 32, 64)
    val q = vecs.map { case (id, e) => id -> e.map(graft.functions.CosineSimilarityQ.quantize) }
    def n2(id: Long, dm: Int): Long = q(id).take(dm).map(v => v * v).sum
    assert(n2(12L, 8) == 0L && n2(5L, 8) == 0L && n2(12L, 16) > 0L,
      "fixture must actually produce zero dim-8 prefix norms")
    def top10(qid: Long, dm: Int): Seq[Long] = {
      val scored = (0L until 25L).filter(_ != qid).map { c =>
        val cos =
          if (n2(qid, dm) == 0L || n2(c, dm) == 0L) None
          else Some((0 until dm).map(i => q(qid)(i).toDouble * q(c)(i)).sum /
            (math.sqrt(n2(qid, dm).toDouble) * math.sqrt(n2(c, dm).toDouble)))
        (c, cos)
      }
      scored.sortBy { case (c, cos) => (cos.isEmpty, cos.map(-_).getOrElse(0.0), c) }
        .take(10).map(_._1)
    }
    val expected = (for (dm <- dims; qid <- 0L until 10L) yield {
      val base = top10(qid, 64).toSet
      (dm, qid, top10(qid, dm).count(base))
    }).toSet
    val got = SparkEntry.queries("v22_matryoshka_eval")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2).toInt)).toSet
    assert(got == expected,
      s"engine diverged from the NULL-semantics brute force:\n got ${got.toSeq.sorted}\n exp ${expected.toSeq.sorted}")
    // and the degenerate candidate is OUT of every dim-8 list (23
    // non-NULL competitors exist) while query 5's dim-8 list is the
    // all-NULL tie-break: first 10 candidate ids ascending
    for (qid <- 0L until 10L if qid != 5L && qid != 12L)
      assert(!top10(qid, 8).contains(12L))
    assert(top10(5L, 8) == (0L until 11L).filter(_ != 5L).take(10))
  }

  test("tok11 best-fit packing: the histogram closed form IS literal per-item BFD; geometry conserved") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("tok11_bestfit_packing")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9)))
    assert(out.length == 32 && out.map(_._1).toSeq == (1 to 32).reverse.map(_ * 8L),
      "one row per slot class, descending")
    // recompute the pool from the corpus and run LITERAL best-fit-
    // decreasing (every item individually into the smallest sufficient
    // residual) — the closed-form transition must match it bin-for-bin
    val toks = graft.sources.Tables.documents(spark, d)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.expr(
          "regexp_extract_all(lower(text), '[a-z]+', 0)")).cast("long").as("n"))
      .filter(col("n") > 0).collect().map(_.getLong(0))
    val sizesU = toks.filter(_ % 256 > 0).map(n => ((n % 256 + 7) / 8).toInt)
    assert(sizesU.toSet.size > 5, "fixture must exercise several slot classes")
    val bins = scala.collection.mutable.ArrayBuffer.empty[Int] // residuals, units
    for (s <- sizesU.sorted(Ordering[Int].reverse)) {
      val fit = bins.zipWithIndex.filter(_._1 >= s)
      if (fit.isEmpty) bins += (32 - s)
      else bins(fit.minBy(_._1)._2) -= s
    }
    val poolBins = out.head._7
    assert(bins.length.toLong == poolBins,
      s"literal BFD used ${bins.length} bins, closed form says $poolBins")
    val poolTokens = toks.filter(_ % 256 > 0).map(_ % 256).sum
    val poolItems = toks.count(_ % 256 > 0).toLong
    val fullBins = toks.map(_ / 256).sum
    val totalTokens = toks.sum
    val (fb, pb, pad, util, expo) =
      (out.head._6, out.head._7, out.head._8, out.head._9, out.head._10)
    assert(fb == fullBins && pad == 256L * pb - poolTokens && expo == poolItems - pb)
    assert(util == 15625L * totalTokens / (4L * (fullBins + pb)))
    // per-class conservation: items all accounted for, bins_cum is the
    // running sum of new_bins, and every class's placements split
    // between existing-bin fills and its own new bins
    assert(out.map(_._2).sum == poolItems, "every pool item appears in exactly one class")
    assert(out.scanLeft(0L)((acc, r) => acc + r._4).tail.toSeq == out.map(_._5).toSeq)
    for (r <- out) assert(r._3 <= r._2,
      s"class ${r._1}: placed_existing ${r._3} exceeds n_items ${r._2}")
  }

  test("m6 audio: WAV encode→decode round-trip is bit-exact; features match the formulas") {
    import graft.operators.Multimodal
    // fixture-independent pin (m2's 2×2-PNG discipline): known hashes,
    // including one near the 60-bit ceiling and the h%2 parity both
    // ways, must produce a REAL RIFF stream the JDK parser reads back
    // to exactly the generated samples
    for (h <- Seq(0L, 7L, 12345678L, (1L << 59) + 987654321L)) {
      val row = Multimodal.encodeWavBatch(Seq((42L, h))).head
      assert(new String(row.media.take(4), "US-ASCII") == "RIFF",
        "payload must be a real RIFF container")
      val f = Multimodal.decodeAudioBatch(Seq(row)).head
      val (sr, n) = Multimodal.wavParams(h)
      val vals = (0 until n).map(i => (h + 37L * i) % 256)
      assert(f.sample_rate == sr.toLong && f.n_samples == n.toLong,
        s"h=$h: container round-trip changed rate/length: $f")
      assert(f.peak_level == vals.max && f.mean_level == vals.sum.toDouble / (n * 255.0),
        s"h=$h: decoded samples differ from generated: $f")
      assert(f.duration_ms == 1000L * n / sr && f.n_windows == (n - 256L) / 128L + 1L)
    }
    // and the query end-to-end: every clip ≥ 400 samples by
    // construction, so every row holds ≥ 2 analysis windows
    val out = SparkEntry.queries("m6_audio_features")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length > 100)
    assert(out.forall(r => r.getLong(4) >= 2 && r.getLong(2) >= 400),
      "window floor violated")
  }

  test("e2e5 epoch manifest: packs exactly s16's admitted docs; classwise dominated by tok11") {
    val d = "/root/testdata/sf0.001"
    def packed(q: String) = SparkEntry.queries(q)(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(9)))
    val epoch = packed("e2e5_epoch_manifest")
    val whole = packed("tok11_bestfit_packing")
    // the epoch pool is a SUBSET of the corpus pool and each doc's slot
    // class is fixed, so every per-class count is dominated
    val wholeByClass = whole.map(r => r._1 -> r._2).toMap
    for ((s, n, _, _, _, _) <- epoch)
      assert(n <= wholeByClass(s), s"class $s: epoch has $n items, corpus ${wholeByClass(s)}")
    // headline totals recount from s16's admitted list + the raw corpus
    val ids = SparkEntry.queries("s16_epoch_sample")(spark, d).collect()
      .map(_.getLong(3)).toSet
    val toks = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.expr(
            "regexp_extract_all(lower(text), '[a-z]+', 0)")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (id, n) => ids(id) && n > 0 }.map(_._2)
    val (_, _, fullBins, poolBins, pad, expo) = epoch.head
    assert(fullBins == toks.map(_ / 256).sum, "full-bin chunk count drifted from the epoch")
    val poolItems = toks.count(_ % 256 > 0).toLong
    assert(expo == poolItems - poolBins && pad == 256L * poolBins - toks.map(_ % 256).sum)
    assert(epoch.map(_._2).sum == poolItems, "every epoch pool doc packs exactly once")
  }

  test("t21 zipf: every source fits a DECAYING rank-frequency line; r2 is a valid fit statistic") {
    val rows = SparkEntry.queries("t21_zipf_fit")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(4)))
    assert(rows.length == 20, s"expected 20 sources, got ${rows.length}")
    rows.foreach { case (src, nTerms, slope, r2) =>
      assert(nTerms >= 2 && nTerms <= 1000, s"$src: n_terms $nTerms out of range")
      assert(slope < 0, s"$src: Zipf slope must decay, got $slope")
      assert(r2 > 0 && r2 <= 1.000001, s"$src: r2 $r2 outside (0, 1]")
    }
  }

  test("t22 heaps: the growth curve is cumulative-consistent and closes on exact corpus totals") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("t22_heaps_growth")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.map(_._1).toList == (1 to 10).toList, "one row per decile, ordered")
    rows.toList.sliding(2).foreach {
      case List(a, b) =>
        assert(b._2 > a._2 && b._3 > a._3, "docs/tokens must strictly grow per decile")
        assert(b._4 >= a._4, "vocabulary never shrinks")
      case _ => ()
    }
    // the curve closes on independently recounted corpus totals
    val docs = graft.sources.Tables.documents(spark, sf)
    val toks = docs.select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
    assert(rows.last._2 == docs.count(), "final docs_cum != corpus doc count")
    assert(rows.last._3 == toks.count(), "final tokens_cum != corpus token count")
    assert(rows.last._4 == toks.distinct().count(), "final vocab_cum != corpus vocabulary")
    // beta: one fit, stamped on every row, inside [0, 1). The 31-word
    // synthetic vocabulary saturates in decile 1, so beta == 0 is the
    // CORRECT reading here — exactly the no-new-vocabulary signal the
    // operator exists to surface; a saturated curve must never fit a
    // nonzero growth exponent
    assert(rows.map(_._5).distinct.length == 1, "heaps_beta must be the same fit on every row")
    assert(rows.head._5 >= 0 && rows.head._5 < 1, s"beta ${rows.head._5} outside [0, 1)")
    if (rows.head._4 == rows.last._4)
      assert(rows.head._5 == 0.0, "saturated vocabulary must fit beta = 0")
  }
}
