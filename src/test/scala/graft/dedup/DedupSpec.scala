package graft.dedup

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")

  private def localShingles(text: String, n: Int = 3): Seq[String] = {
    val words = text.split(" ", -1)
    if (words.length < n) Seq.empty
    else words.sliding(n).map(_.mkString(" ")).toSeq.distinct
  }

  test("WordShingles fused expression equals sliding-window semantics (spans, runs of spaces, unicode)") {
    val cases = Seq("", "a", "a b", "a b c", "a b c d", "a  b  c d",
      " leading space", "trailing space ", "tabs\tstay in\twords here",
      "多字 节 词 x y", "a b c a b c a b c", "   ", "x y z")
    val df2 = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = df2.select($"doc_id", Dedup.shingles($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    for ((t, i) <- cases.zipWithIndex)
      assert(got(i.toLong) == localShingles(t), s"mismatch for '$t'")
    for (n <- 1 to 4) {
      val has = df2.select($"doc_id", Dedup.hasShingles($"text", n))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      for ((t, i) <- cases.zipWithIndex)
        assert(has(i.toLong) == localShingles(t, n).nonEmpty, s"hasShingles n=$n for '$t'")
    }
  }

  test("WordShingles fuzz: random space/rune soups equal sliding-window semantics") {
    // deterministic pseudo-random texts over an alphabet that stresses
    // the byte-span math: runs of spaces, multi-byte runes, empty words
    val alphabet = "a b  cd 日 é\t "
    val texts = (0 until 200).map { seed =>
      val len = (Hashes.mix64(seed.toLong) & 0x1f).toInt // 0..31 chars
      val sb = new StringBuilder
      var i = 0
      while (i < len) {
        val k = (Hashes.mix64(seed.toLong * 131 + i) & 0x7fffffff) % alphabet.length
        sb.append(alphabet.charAt(k.toInt))
        i += 1
      }
      sb.toString
    }
    for (n <- Seq(1, 2, 3, 5)) {
      val df2 = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = df2.select($"doc_id", Dedup.shingles($"text", n).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
      for ((t, i) <- texts.zipWithIndex)
        assert(got(i.toLong) == localShingles(t, n), s"n=$n text='$t'")
    }
  }

  test("MinHashSig expression equals the local reference signature") {
    val got = docs.limit(20)
      .select($"doc_id", MinHashSig(Dedup.shingles($"text"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val texts = docs.limit(20).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, text) <- texts) {
      val want = Hashes.minHashSig(localShingles(text).iterator, 16).toSeq
      assert(got(id) == want, s"sig mismatch for doc $id")
    }
  }

  test("SimHash64 expression equals the local reference hash") {
    val got = docs.limit(20)
      .select($"doc_id", SimHash64(split($"text", " ")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val texts = docs.limit(20).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, text) <- texts)
      assert(got(id) == Hashes.simHash64(text.split(" ", -1).iterator))
  }

  test("exact dedup keeps lowest id and counts copies") {
    val df = Seq((1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "aa"), (5L, "bb"))
      .toDF("id", "text")
    val got = Dedup.exact(df, "id", "text")
      .collect().map(r => r.getString(1) -> ((r.getLong(0), r.getLong(2)))).toMap
    assert(got == Map("aa" -> ((1L, 3L)), "bb" -> ((2L, 2L))))
  }

  test("minhash LSH pairs equal exact inverted-index pairs at threshold 0.8") {
    val lsh = Dedup.minHashPairs(docs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(lsh == exact)
  }

  test("minHashPairs' signature pass shingles each doc once") {
    val plan = Dedup.minHashSignatures(docs, "doc_id", "text", k = 64, n = 3)
      .queryExecution.optimizedPlan
    assert(SparkTestBase.exprCount(plan)(_.isInstanceOf[Dedup.WordShingles]) == 1, plan.toString)
  }

  test("adjacent duplicate rows through a real plan stay independent") {
    // the DataFrame path: duplicates sorted adjacent within one partition,
    // shingled under whole-stage codegen, results must be per-row correct
    val texts = Seq("d1 d2 d3", "d1 d2 d3", "e1 e2 e3", "d1 d2 d3", "e1 e2 e3")
    val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").coalesce(1).sortWithinPartitions("text")
      .select($"text", graft.dedup.Dedup.shingles($"text", 2).as("sh"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq)
    for ((t, sh) <- got)
      assert(sh == t.split(" ").sliding(2).map(_.mkString(" ")).toSeq, s"text '$t'")
  }

  test("simhash pairs: engine banding equals naive all-pairs hamming") {
    val texts = docs.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val fps = texts.map { case (id, t) => id -> Hashes.simHash64(t.split(" ", -1).iterator) }
    val naive = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (a, b, h)).toSet
    val got = Dedup.simHashPairs(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == naive)
  }

  test("clusters: connected components by min-label propagation (chains, not just pairs)") {
    // chain 1-2-3 (1-3 never directly paired), separate pair 7-9, singleton 5
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val comp = Dedup.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    val docs = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("doc_id")
    val verdict = Dedup.dedupByClusters(docs, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(verdict(1L) == ((1L, true)) && verdict(2L) == ((1L, false)) && verdict(3L) == ((1L, false)))
    assert(verdict(5L) == ((5L, true))) // no pairs → own cluster, survives
    assert(verdict(7L) == ((7L, true)) && verdict(9L) == ((7L, false)))
  }

  test("capped jaccardPairs: posting-list plan, no broadcast hint, equals self-join when nothing is hot") {
    val q = Dedup.jaccardPairs(docs, "doc_id", "text", 0.8, maxDf = 20)
    // the r3 shape forced broadcast() of the stop-shingle set — a set that
    // grows with the corpus (driver OOM at 100 TB); the posting-list shape
    // must carry NO hint (AQE decides) and build postings in ONE pass
    val hints = q.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, "no forced broadcast of corpus-dependent sets")
    assert(q.queryExecution.optimizedPlan.toString.contains("bounded_collect"),
      "the df cap must be enforced inside the posting-list aggregation")
    // with a cap no shingle reaches, capped == uncapped (same pairs)
    val df = Seq(
      (1L, "p q r s t"), (2L, "p q r s u"), (3L, "zz yy xx ww vv")
    ).toDF("id", "text")
    val capped = Dedup.jaccardPairs(df, "id", "text", 0.3, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = Dedup.jaccardPairs(df, "id", "text", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == uncapped && capped.nonEmpty)
    // caps at/above Int.MaxValue are semantically uncapped and must take
    // the self-join branch (same pairs, no require-crash) — the old
    // contract, preserved for Long-typed callers
    val huge = Dedup.jaccardPairs(df, "id", "text", 0.3, maxDf = Int.MaxValue.toLong + 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(huge == uncapped)
  }

  test("posting saturation: a shingle 100x over the cap yields only the planted pair (no hot fan-out)") {
    // 2000 docs all sharing one stop-shingle ("the quick brown") + unique
    // tails; two docs identical. Uncapped, the hot shingle alone would
    // expand to ~2M intra-posting pairs; with the cap its posting
    // saturates at maxDf+1 entries (O(cap) memory on whichever executor
    // owns the key) and is dropped, so the only intersections left are
    // the planted pair's own shingles.
    val docs2k = (1 to 2000).map(i =>
        (i.toLong, s"the quick brown u${i}a u${i}b u${i}c")) :+
      (9001L, "the quick brown same same2 same3") :+
      (9002L, "the quick brown same same2 same3")
    val df = spark.createDataFrame(docs2k).toDF("id", "text")
    val got = Dedup.jaccardPairs(df, "id", "text", 0.3, n = 3, maxDf = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((9001L, 9002L)))
  }

  test("jaccardPairs df-cap drops hot shingles deterministically") {
    val df = Seq(
      (1L, "x y z common common2 common3"),
      (2L, "x y z common common2 common3"),
      (3L, "a b c d e f")
    ).toDF("id", "text")
    val all = Dedup.jaccardPairs(df, "id", "text", 0.9)
    assert(all.count() == 1) // docs 1-2 identical
    // cap df at 1: every shared shingle is "hot" → no pairs survive
    val capped = Dedup.jaccardPairs(df, "id", "text", 0.9, maxDf = 1)
    assert(capped.count() == 0)
  }

  private def localWindows(text: String, k: Int): Seq[(Int, String)] = {
    val t = text.trim
    val words = if (t.isEmpty) Array.empty[String] else t.split("\\s+")
    if (words.length < k) Seq.empty
    else words.sliding(k).map(_.mkString(" ")).zipWithIndex.map(_.swap).toSeq
  }

  test("spanWindows: every k-token occurrence with position (repeats, whitespace runs, short docs)") {
    val cases = Seq(
      (1L, "a b c d e"),            // 3 windows at k=3
      (2L, "a b c a b c a b c"),    // within-doc repeats: 'a b c' at 0,3,6
      (3L, "  x   y\tz  "),         // \s+ runs + trim
      (4L, "one two"),              // shorter than k → none
      (5L, ""))                     // empty → none
    val df = cases.toDF("doc_id", "text")
    val got = Dedup.spanWindows(df, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getString(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
    for ((id, t) <- cases)
      assert(got.getOrElse(id, Seq.empty) == localWindows(t, 3), s"doc $id '$t'")
    assert(got(2L).count(_._2 == "a b c") == 3)
  }

  test("duplicatedSpans: occurrences of corpus-repeated windows, bounded postings (no corpus broadcast)") {
    val df = Seq(
      (1L, "alpha beta gamma delta one two"),
      (2L, "zz alpha beta gamma delta yy"),   // shares 'alpha beta gamma'+'beta gamma delta' with 1
      (3L, "p q r s t u v w"),                // unique
      (4L, "m m m m m m")).toDF("id", "text") // within-doc repeated window
    val spans = Dedup.duplicatedSpans(df, "id", "text", 3)
    val got = spans.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // cross-doc: 'alpha beta gamma' (doc1@0, doc2@1), 'beta gamma delta' (doc1@1, doc2@2)
    assert(got.contains((1L, 0, 2L)) && got.contains((2L, 1, 2L)))
    assert(got.contains((1L, 1, 2L)) && got.contains((2L, 2, 2L)))
    // within-doc: 'm m m' occurs 4 times in doc 4 alone
    assert(got.filter(_._1 == 4L).map(_._2) == Set(0, 1, 2, 3))
    assert(got.filter(_._1 == 4L).forall(_._3 == 4L))
    assert(!got.exists(_._1 == 3L))
    // the plan never hints a corpus-dependent broadcast and uses bounded postings
    val plan = spans.queryExecution.optimizedPlan.toString
    assert(!plan.contains("ResolvedHint"), "no broadcast hint in duplicatedSpans")
    assert(plan.contains("bounded_collect"), "bounded posting aggregate expected")
  }

  test("duplicatedSpans: a span hotter than maxOcc saturates and is dropped, cold spans survive") {
    val hot = (1 to 50).map(i => (i.toLong, s"same same same tail$i a b"))
    val cold = Seq((101L, "cold span here x1 y1"), (102L, "qq cold span here y2"))
    val df = (hot ++ cold).toDF("id", "text")
    val got = Dedup.duplicatedSpans(df, "id", "text", 3, minDup = 2, maxOcc = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((101L, 0), (102L, 1)), s"got $got") // 'cold span here'
  }

  test("spanDupStats: per-doc totals off the scan, zero for clean docs") {
    val df = Seq(
      (1L, "a b c d e"),     // 3 windows, 0 dup
      (2L, "x y z x y z x"), // 5 windows, 'x y z'@0,3 + 'y z x'@1,4 dup → 4
      (3L, "t u")).toDF("id", "text") // 0 windows
    val got = Dedup.spanDupStats(df, "id", "text", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (3L, 0L), 2L -> (5L, 4L), 3L -> (0L, 0L)))
  }

  test("decontaminate: benchmark k-gram hits per corpus doc via broadcast semi-join") {
    val bench = Seq((100L, "the eval question text here")).toDF("id", "text")
    val corpus = Seq(
      (1L, "prefix the eval question text here suffix"), // 3 overlapping 5-gram hits? no: k=5 windows of bench = 1
      (2L, "clean document nothing shared at all"),
      (3L, "the eval question text here")).toDF("id", "text") // exact copy
    val got = Dedup.decontaminate(corpus, bench, "id", "text", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bench has exactly one 5-gram; doc1 contains it once, doc3 once
    assert(got == Map(1L -> 1L, 3L -> 1L))
    val phys = Dedup.decontaminate(corpus, bench, "id", "text", 5)
      .queryExecution.sparkPlan.toString
    assert(phys.contains("BroadcastExchange") || phys.contains("Broadcast"),
      "benchmark side must broadcast")
  }

  test("incrementalDedup: exact per-batch verdicts; bloom prune present on the corpus scan") {
    val corpus = Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
      (3L, "alpha beta gamma"), (4L, "eta theta iota")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "alpha beta gamma"),  // dup of 1 AND 3
      (101L, "brand new content"), // genuinely new
      (102L, "eta theta iota")     // dup of 4
    ).toDF("doc_id", "text")
    val res = Dedup.incrementalDedup(corpus, batch, "doc_id", "text",
      expectedItems = 64)
    val got = res.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getBoolean(3))).toSeq
    assert(got == Seq(
      (100L, 2L, Some(1L), false),
      (101L, 0L, None, true),
      (102L, 1L, Some(4L), false)), s"got $got")
    // plan shape on a FILE-backed corpus (a local Seq corpus folds the
    // filter into the LocalRelation at optimize time, hiding it): the
    // bloom prune must sit on the corpus scan, before the verify join
    val phys = Dedup.incrementalDedup(docs, batch, "doc_id", "text",
      expectedItems = 64).queryExecution.sparkPlan.toString
    assert(phys.contains("might_contain"),
      "corpus scan must be bloom-pruned before the verify join")
  }

  test("removeDuplicatedSpans: one survivor per span, covered tokens cut, local replay equality") {
    val k = 3
    val docs = Seq(
      // docs 1 and 2 share the span "a b c d" (two overlapping 3-windows);
      // doc 1 owns the lexicographic-min occurrences, so doc 2 loses them
      (1L, "a b c d x y z"),
      (2L, "p q a b c d r"),
      // doc 3 repeats a span WITHIN itself: second occurrence cut
      (3L, "m n o w w m n o w w"),
      // clean doc: untouched (modulo whitespace normalization)
      (4L, "u v w x"),
      // shorter than k: no windows, fully kept
      (5L, "s t"),
      (6L, "")
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", k)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))

    // local reference: same windowing, min-(id,start) survivor, cut sets
    val local = Map(
      1L -> "a b c d x y z".split(" "), 2L -> "p q a b c d r".split(" "),
      3L -> "m n o w w m n o w w".split(" "), 4L -> "u v w x".split(" "),
      5L -> "s t".split(" "), 6L -> Array.empty[String])
    val wins = for {
      (id, ws) <- local.toSeq
      s <- 0 to ws.length - k
    } yield (ws.slice(s, s + k).mkString(" "), id, s)
    val cuts = wins.groupBy(_._1).filter(_._2.size >= 2).values.flatMap { occ =>
      occ.sortBy(o => (o._2, o._3)).drop(1)
    }
    val covered = cuts.toSeq.flatMap { case (_, id, s) => (s until s + k).map(id -> _) }
      .distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = local.toSeq.sortBy(_._1).map { case (id, ws) =>
      val cov = covered.getOrElse(id, Set.empty)
      (id, ws.length.toLong, cov.size.toLong,
        ws.zipWithIndex.collect { case (w, i) if !cov(i) => w }.mkString(" "))
    }
    assert(got.toSeq == expect, s"got ${got.toSeq}\nexpect $expect")
    // the shared span survives EXACTLY once corpus-wide
    val cleaned = got.map(_._4).mkString(" | ")
    assert("a b c d".r.findAllIn(cleaned).size == 1)
  }

  test("incrementalDedup: sharded bloom and unpruned fallback are verdict-identical") {
    val corpus = (0L until 500L).map(i => (i, s"corpus doc number $i"))
      .toDF("doc_id", "text")
    val batch = (0L until 100L).map { i =>
      (1000L + i,
        if (i % 3 == 0) s"corpus doc number $i" else s"fresh doc number $i")
    }.toDF("doc_id", "text")
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), Option(r.get(2)), r.getBoolean(3)))).toMap
    // capacity 100k at 1% ≈ 120 KB of filter → 16 KB shards force N ≈ 8
    val single = collectMap(Dedup.incrementalDedup(corpus, batch, "doc_id", "text",
      expectedItems = 100000))
    val sharded = collectMap(Dedup.incrementalDedup(corpus, batch, "doc_id", "text",
      expectedItems = 100000, shardBytes = 16L << 10))
    val fallback = collectMap(Dedup.incrementalDedup(corpus, batch, "doc_id", "text",
      expectedItems = 100000, maxBloomBytes = 0L))
    assert(sharded == single, "hash-prefix sharding must not change any verdict")
    assert(fallback == single, "the unpruned fallback must not change any verdict")
    // plan shapes on the FILE-backed corpus: sharded probe keeps the
    // prune (shard-dispatched might_contain); fallback has none
    val shardedPhys = Dedup.incrementalDedup(docs, batch, "doc_id", "text",
        expectedItems = 100000, shardBytes = 16L << 10)
      .queryExecution.sparkPlan.toString
    assert(shardedPhys.contains("might_contain") && shardedPhys.contains("pmod"),
      "sharded prune must dispatch might_contain by hash pmod")
    val fallbackPhys = Dedup.incrementalDedup(docs, batch, "doc_id", "text",
        expectedItems = 100000, maxBloomBytes = 0L)
      .queryExecution.sparkPlan.toString
    assert(!fallbackPhys.contains("might_contain"),
      "past maxBloomBytes no bloom literal may enter the plan")
  }

  test("incrementalDedup: bloom false positives die in the exact verify join") {
    // deliberately undersized bloom at 50% fpp over 100 items: false
    // positives are near-certain, the verdicts must not change
    val corpus = (0L until 500L).map(i => (i, s"corpus doc number $i"))
      .toDF("doc_id", "text")
    val batch = (0L until 100L).map { i =>
      (1000L + i,
        if (i % 2 == 0) s"corpus doc number $i" else s"fresh doc number $i")
    }.toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(corpus, batch, "doc_id", "text",
        expectedItems = 8, fpp = 0.5)
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), Option(r.get(2)), r.getBoolean(3)))).toMap
    for (i <- 0L until 100L) {
      val expect = if (i % 2 == 0) (1L, Some(i), false) else (0L, None, true)
      assert(got(1000L + i) == expect, s"batch doc $i")
    }
  }

  test("MinHashSig/SimHash64 skip NULL array elements instead of NPE-ing mid-codegen") {
    // array(lit, lit-null) produces containsNull = true input
    val df = Seq(1).toDF("x").select(
      array(lit("a"), lit(null).cast("string"), lit("b")).as("withNulls"),
      array(lit("a"), lit("b")).as("clean"))
    val r = df.select(
      MinHashSig(col("withNulls"), 8).as("m1"),
      MinHashSig(col("clean"), 8).as("m2"),
      SimHash64(col("withNulls")).as("s1"),
      SimHash64(col("clean")).as("s2")).collect()(0)
    assert(r.getSeq[Long](0) == r.getSeq[Long](1), "null elements contribute nothing")
    assert(r.getLong(2) == r.getLong(3))
  }
}
