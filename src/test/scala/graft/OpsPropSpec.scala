package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarityQ
import graft.operators.DedupCluster

/** Property-based invariants for the round-2 operators, with scalacheck
  * used directly (the scalatestplus bridge isn't in the offline cache).
  */
class OpsPropSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String, prop: Prop, min: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  test("crossMatches equals the one-shot batch detector restricted to cross pairs") {
    // d15's invariant generalized: for ANY corpus split into store/new,
    // the incremental screen's matches are EXACTLY nearDupPairs over
    // the whole corpus filtered to (store, new) pairs — same banding,
    // same estimate, so incremental ingestion can never drift from a
    // batch re-run. Random corpora: ~10-word docs from a 6-word
    // vocabulary (heavy overlap → real band collisions at 0.5).
    import graft.operators.MinHash
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val corpusGen = for {
      n <- Gen.chooseNum(4, 12)
      docs <- Gen.listOfN(n, Gen.listOfN(10, Gen.oneOf(vocab)).map(_.mkString(" ")))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

    val prop = Prop.forAll(corpusGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val sig = MinHash.signatures(df).localCheckpoint()
      val store = sig.filter(col("doc_id") % 2 === 0)
      val inc = sig.filter(col("doc_id") % 2 === 1)
      val got = MinHash.crossMatches(store, inc, 0.5)
        .select("doc_id", "matched_id").as[(Long, Long)].collect().toSet
      val all = MinHash.nearDupPairsFromSignatures(sig, 0.5)
        .select("doc1", "doc2").as[(Long, Long)].collect().toSet
      // pairs are (smaller, larger); cross pairs keyed as (incoming, stored)
      val expected = all.flatMap { case (a, b) =>
        Seq((a, b), (b, a)).collect {
          case (inc0, st) if inc0 % 2 == 1 && st % 2 == 0 => (inc0, st)
        }
      }
      got == expected
    }
    run("cross-matches-vs-batch", prop, 5)
  }

  test("Misra-Gries candidates contain every term above n/(k+1) on random skewed streams") {
    // t19's recall guarantee as a property, not a single planting: for
    // ANY stream and ANY partitioning, the merged per-partition MG
    // candidate set is a superset of the true heavy hitters. Streams
    // mix a few hot terms (geometric weights) with a unique-token tail
    // so the decrement path actually runs; k is small (16) to stress it.
    import graft.operators.TextOps
    val streamGen = for {
      nHot <- Gen.chooseNum(1, 5)
      hotMass <- Gen.chooseNum(50, 400)
      tail <- Gen.chooseNum(100, 2000)
      parts <- Gen.chooseNum(1, 8)
      seed <- Gen.chooseNum(0, 1000000)
    } yield (nHot, hotMass, tail, parts, seed)
    val prop = Prop.forAll(streamGen) { case (nHot, hotMass, tail, parts, seed) =>
      val rnd = new scala.util.Random(seed)
      val hot = (0 until nHot).flatMap(i =>
        Seq.fill(hotMass / (i + 1))(s"hot_$i"))
      val stream = rnd.shuffle(hot ++ (0 until tail).map(i => s"tail_$i"))
      val k = 16
      val terms = spark.createDataset(stream)(
        org.apache.spark.sql.Encoders.STRING).repartition(parts).toDF("term")
      val cand = TextOps.heavyHitterCandidates(spark, terms, k)
        .as[String].collect().toSet
      val n = stream.size
      val bound = n.toDouble / (k + 1)
      val trueHeavy = stream.groupBy(identity).view.mapValues(_.size)
        .filter(_._2 > bound).keys.toSet
      val missed = trueHeavy -- cand
      Prop(missed.isEmpty) :| s"missed heavy terms $missed (n=$n bound=$bound)" &&
        (Prop(cand.size <= parts * k) :| s"candidates ${cand.size} > P*k")
    }
    run("mg-recall", prop, 30)
  }

  test("connectedComponents matches driver-side union-find on random graphs") {
    val graphGen = for {
      n <- Gen.chooseNum(2, 10)
      m <- Gen.chooseNum(0, 12)
      edges <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n - 1L)
        b <- Gen.chooseNum(0L, n - 1L)
        if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield (n, edges.distinct)

    def unionFind(n: Int, edges: List[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }

    val prop = Prop.forAll(graphGen) { case (n, edges) =>
      val docs = (0L until n.toLong).toDF("doc_id")
      val pairs =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("doc1", "doc2")
        else edges.toDF("doc1", "doc2")
      val got = DedupCluster.connectedComponents(docs, pairs)
        .as[(Long, Long)].collect().toMap
      got == unionFind(n, edges)
    }
    run("components-vs-union-find", prop, 5)
  }

  test("star-contraction components match plain propagation on random graphs") {
    val graphGen = for {
      n <- Gen.chooseNum(2, 10)
      m <- Gen.chooseNum(0, 12)
      edges <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n - 1L)
        b <- Gen.chooseNum(0L, n - 1L)
        if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield (n, edges.distinct)
    val prop = Prop.forAll(graphGen) { case (n, edges) =>
      val docs = (0L until n.toLong).toDF("doc_id")
      val pairs =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("doc1", "doc2")
        else edges.toDF("doc1", "doc2")
      val plain = DedupCluster.connectedComponents(docs, pairs)
        .as[(Long, Long)].collect().toMap
      val star = DedupCluster.connectedComponentsStar(docs, pairs)
        .as[(Long, Long)].collect().toMap
      star == plain
    }
    run("star-vs-propagation", prop, 5)
  }

  test("star-contraction converges in O(log n) rounds on a planted chain") {
    // a 20-link path (diameter 20): plain propagation needs ~20 rounds;
    // star contraction must collapse it exponentially faster
    val n = 21L
    val docs = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val (labels, rounds) = DedupCluster.starContraction(docs, pairs)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got == (0L until n).map(_ -> 0L).toMap) // one component, min id 0
    // ceil(log2(20)) = 5 star rounds + 1 fixpoint-confirmation round,
    // with slack for the alternation; far below the 20 of propagation
    assert(rounds <= 8, s"expected O(log n) convergence, took $rounds rounds")
  }

  test("quantize matches Spark round(x*1e6, 0) on arbitrary floats") {
    val floatsGen = Gen.listOfN(64,
      Gen.oneOf(Gen.chooseNum(-4.0f, 4.0f), Gen.chooseNum(-1e-6f, 1e-6f)))
    val prop = Prop.forAll(floatsGen) { xs =>
      xs.isEmpty || {
        val sparkSide = xs.toDF("x")
          .select(round(col("x").cast("double") * 1e6, 0).cast("long"))
          .as[Long].collect().toSeq
        val jvmSide = xs.map(CosineSimilarityQ.quantize)
        sparkSide == jvmSide
      }
    }
    run("quantize-vs-round", prop, 10)
  }

  test("salted join invariant holds on a skewed toy frame") {
    // one hot key (90% of rows) + uniform tail; results must equal the
    // plain join exactly.
    val left = (1 to 200).map(i => (if (i <= 180) 1L else i.toLong, i)).toDF("k", "v")
    val right = Seq((1L, "hot"), (190L, "cold")).toDF("k", "tag")
    val plain = left.join(right, "k")
    val salted = graft.operators.SkewJoin.saltedJoin(left, right, "k", factor = 4)
    assert(salted.count() == plain.count())
    assert(salted.select("k", "v", "tag").except(plain.select("k", "v", "tag")).isEmpty)
    assert(plain.select("k", "v", "tag").except(salted.select("k", "v", "tag")).isEmpty)
  }

  test("unigram Viterbi is exactly optimal on RANDOM vocabularies, not just the corpus") {
    // tok12's CorpusPrepSpec enumeration covers the fixture's 31 fixed
    // words; this drives the same exactness claim through ADVERSARIAL
    // random inputs — tiny alphabets make repeated substrings and dense
    // (nseg, sumpf) ties the norm, exactly where a subtly-wrong
    // comparator or an off-by-one in the candidate guard would hide.
    import graft.operators.CorpusPrep
    val wordsGen = for {
      n <- Gen.chooseNum(5, 25)
      ws <- Gen.listOfN(n, for {
        len <- Gen.chooseNum(1, 10)
        cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c')) // tiny alphabet → dense ties
        f <- Gen.chooseNum(1L, 9L)
      } yield (cs.mkString, f))
    } yield ws.groupBy(_._1).map { case (w, xs) => (w, xs.map(_._2).sum) }.toSeq

    val prop = Prop.forAll(wordsGen) { ws =>
      val words = ws.toDF("word", "freq").localCheckpoint()
      val pieces = CorpusPrep.unigramPieces(words)
      val vocab = pieces.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val segs = CorpusPrep.unigramSegment(words, pieces)
        .collect().map(r => (r.getString(0), r.getSeq[String](2).toList))
      def enumerate(w: String): Seq[(Int, Long)] = {
        def go(i: Int): Seq[(Int, Long)] =
          if (i == w.length) Seq((0, 0L))
          else (1 to math.min(4, w.length - i)).flatMap { k =>
            vocab.get(w.substring(i, i + k)).toSeq.flatMap(pf =>
              go(i + k).map { case (n, s) => (n + 1, s + pf) })
          }
        go(0)
      }
      segs.length == ws.length && segs.forall { case (w, seg) =>
        seg.mkString == w && seg.forall(vocab.contains) &&
          (seg.length, seg.map(vocab).sum) ==
            enumerate(w).minBy { case (n, s) => (n, -s) }
      }
    }
    run("unigram viterbi exactness", prop, 8)
  }

  test("Md5Prefix60 is bit-identical to conv(substring(md5(x),1,15),16,10)") {
    // r17: phash's native form skips the hex-string materialization —
    // this property pins it to the composed form it replaced (and to
    // the DuckDB oracle SQL, which still computes the composed form)
    // over random unicode strings, including empty and whitespace-only.
    import graft.operators.TextOps
    val strGen = Gen.frequency(
      (8, Gen.listOf(Gen.frequency(
        (20, Gen.alphaNumChar), (4, Gen.const(' ')),
        (1, Gen.oneOf('é', 'ß', '中', '\t')))).map(_.mkString)),
      (1, Gen.const("")),
      (1, Gen.const("   ")))
    val prop = Prop.forAll(Gen.listOfN(24, strGen)) { ss =>
      val df = ss.toDF("t")
      val rows = df.select(
        TextOps.phash(col("t")).as("native"),
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("composed"))
        .collect()
      rows.forall(r => r.getLong(0) == r.getLong(1))
    }
    run("md5_prefix60 equivalence", prop, 12)
  }

  test("d13's bounded edit verdict equals the full-DP verdict on random pairs") {
    // levenshtein(a, b, max(len) div 5) >= 0 against 5·levenshtein(a, b)
    // <= max(len). Pairs are random strings (empty, non-ASCII and a
    // surrogate pair included), equal-length substitutions, and edited
    // copies whose distance lands on either side of the bound.
    import graft.operators.SortedNeighborhood
    // strings as code points; the last is a surrogate pair in UTF-16
    val char = Gen.frequency((12, Gen.oneOf("a", "b", "c", " ")),
      (2, Gen.oneOf("é", "ß", "中")), (1, Gen.const("\uD83D\uDE00")))
    val str = Gen.chooseNum(0, 40).flatMap(Gen.listOfN(_, char)).map(_.toVector)
    def edited(a: Vector[String]): Gen[Vector[String]] = Gen.chooseNum(0, 12).flatMap { n =>
      Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(0, 1000), char))
        .map(_.foldLeft(a) { case (s, (op, at, c)) =>
          val i = if (s.isEmpty) 0 else at % s.size
          op match {
            case 0 => s.patch(i, Seq(c), 0) // insert
            case 1 => s.patch(i, Nil, 1) // delete
            case _ => s.patch(i, Seq(c), 1) // substitute
          }
        })
    }
    val pair = Gen.frequency(
      (3, Gen.zip(str, str)),
      (3, str.flatMap(a => edited(a).map(a -> _))),
      (2, str.flatMap(a => Gen.listOfN(a.size, char).map(a -> _.toVector))), // equal length
      (1, str.map(Vector.empty[String] -> _)),
      (1, str.map(a => a -> a)))
    var verdicts = Set.empty[Boolean]
    val prop = Prop.forAll(Gen.listOfN(100, pair)) { ps =>
      val rows = ps.map { case (a, b) => (a.mkString, b.mkString) }.toDF("a", "b").select(
        SortedNeighborhood.withinEditBound("a", "b"),
        lit(5) * levenshtein(col("a"), col("b")) <= greatest(length(col("a")), length(col("b"))))
        .collect()
      verdicts ++= rows.map(_.getBoolean(1))
      rows.forall(r => r.getBoolean(0) == r.getBoolean(1))
    }
    run("bounded edit verdict", prop, 20)
    assert(verdicts == Set(true, false), "the pairs never reached one side of the bound")
  }
}
