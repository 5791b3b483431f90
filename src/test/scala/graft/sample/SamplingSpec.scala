package graft.sample

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkTestBase {
  import spark.implicits._

  private def localMd5Hex8(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"$b%02x").mkString.substring(0, 8)
  }

  test("thresholdHex: 8-hex floor(rate*2^32), 'g' above all hex at rate>=1") {
    assert(Sampling.thresholdHex(0.0) == "00000000")
    assert(Sampling.thresholdHex(0.5) == "80000000")
    assert(Sampling.thresholdHex(0.25) == "40000000")
    assert(Sampling.thresholdHex(1.0) == "g")
    assert(Sampling.thresholdHex(2.0) == "g")
    // 'g' really is above every md5 prefix (hex is 0-9a-f < 'g')
    assert("ffffffff" < "g" && "00000000" < "g")
    intercept[IllegalArgumentException](Sampling.thresholdHex(-0.1))
  }

  test("mixtureKeep matches a local replay of the lexicographic md5 contract") {
    val rates = Map("en" -> 0.5, "de" -> 0.9, "zh" -> 0.25)
    val default = 0.75
    val rows = (0L until 500L).map(i =>
      (i, Seq("en", "de", "zh", "es")((i % 4).toInt)))
    val df = rows.toDF("doc_id", "lang")
    val kept = df.filter(Sampling.mixtureKeep(col("doc_id"), col("lang"), rates, default))
      .select("doc_id").as[Long].collect().toSet
    val expected = rows.filter { case (id, lang) =>
      localMd5Hex8(id.toString) < Sampling.thresholdHex(rates.getOrElse(lang, default))
    }.map(_._1).toSet
    assert(kept == expected)
    // deterministic: a rerun keeps the identical row set
    val again = Sampling.mixtureSample(df, "doc_id", "lang", rates, default)
      .select("doc_id").as[Long].collect().toSet
    assert(again == kept)
    // rates land near targets (2^-32 resolution, 125 rows/group → ±coarse)
    val perLang = df.filter(Sampling.mixtureKeep(col("doc_id"), col("lang"), rates, default))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang("zh").toDouble / 125 < 0.45 && perLang("de").toDouble / 125 > 0.7)
  }

  test("rate edge cases: 0 keeps nothing, >=1 keeps everything") {
    val df = (0L until 100L).map(i => (i, "en")).toDF("doc_id", "lang")
    assert(Sampling.mixtureSample(df, "doc_id", "lang", Map("en" -> 0.0)).count() == 0)
    assert(Sampling.mixtureSample(df, "doc_id", "lang", Map("en" -> 1.0)).count() == 100)
    assert(Sampling.mixtureSample(df, "doc_id", "lang", Map.empty, default = 1.0).count() == 100)
  }

  test("contentSplit: duplicated content lands on one side (no train/val leakage)") {
    val df = Seq(
      (1L, "the same document text"),
      (2L, "the same document text"), // exact copy of 1
      (3L, "a different document")).toDF("doc_id", "text")
    val split = df.select(col("doc_id"),
      Sampling.contentSplit(col("text"), 0.2).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split(1L) == split(2L), "copies must share a split")
    assert(Set("train", "val").contains(split(3L)))
    // boundary semantics: top valFrac of hash space is val
    val frac = (0L until 2000L).map(i => Tuple1(s"doc $i")).toDF("text")
      .select(Sampling.contentSplit(col("text"), 0.2).as("s"))
      .filter(col("s") === "val").count().toDouble / 2000
    assert(frac > 0.15 && frac < 0.25, s"val fraction $frac far from 0.2")
  }

  test("the keep-predicate is a pure projection: no shuffle, no RNG, survives any partitioning") {
    val df = (0L until 200L).map(i => (i, if (i % 2 == 0) "en" else "de")).toDF("doc_id", "lang")
    val sampled = Sampling.mixtureSample(df, "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.5))
    assert(!sampled.queryExecution.executedPlan.toString.contains("Exchange"),
      "sampling must not shuffle")
    val a = sampled.select("doc_id").as[Long].collect().toSet
    val b = Sampling.mixtureSample(df.repartition(13), "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.5)).select("doc_id").as[Long].collect().toSet
    assert(a == b, "verdicts must not depend on partitioning")
  }

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString
  }

  test("capPerGroup: exactly the k smallest-hash rows per group, local window replay") {
    // skewed groups: 'hot' 150 rows, 'warm' 20, 'tiny' 3 (< k)
    val rows = (0L until 150L).map(i => ("hot", i)) ++
      (200L until 220L).map(i => ("warm", i)) ++
      (300L until 303L).map(i => ("tiny", i))
    val df = rows.toDF("source", "doc_id")
    val k = 7
    val got = Sampling.capPerGroup(df, "source", "doc_id", k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      rs.sortBy { case (_, id) => md5Hex(id.toString).take(16) + ":" + id }
        .take(k).map { case (_, id) => (g, id) }
    }.toSet
    assert(got == want)
    assert(got.count(_._1 == "hot") == k && got.count(_._1 == "tiny") == 3)
  }

  test("capPerGroup: string id columns round-trip intact (incl. ids containing colons)") {
    val rows = Seq(
      ("d1", "http://a/x:1"), ("d1", "http://a/y:2"), ("d1", "http://a/z"),
      ("d2", "u:v:w"), ("d2", "plain"))
    val df = rows.toDF("domain", "url")
    val got = Sampling.capPerGroup(df, "domain", "url", 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      rs.map(_._2).sortBy(u => md5Hex(u).take(16) + ":" + u).take(2).map((g, _))
    }.toSet
    assert(got == want, s"got $got")
    assert(got.forall { case (_, u) => rows.exists(_._2 == u) },
      "every returned id must be an original, untruncated value")
  }

  test("capPerGroup: verdicts independent of partitioning; aggregation plan, no Window") {
    val df = (0L until 500L).map(i => (s"s${i % 5}", i)).toDF("source", "doc_id")
    val a = Sampling.capPerGroup(df.repartition(1), "source", "doc_id", 9)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b = Sampling.capPerGroup(df.repartition(11), "source", "doc_id", 9)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == b, "kept set must not depend on partitioning/merge order")
    val plan = Sampling.capPerGroup(df, "source", "doc_id", 9)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("top_k_smallest") && !plan.contains("Window"),
      "per-group cap must be the bounded aggregation, never a window")
  }

  test("packSequences: two-level cumsum equals the global running sum; bins and offsets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // sparse, unordered, NEGATIVE ids across several buckets; token
    // counts chosen so docs straddle bin boundaries
    val docs = Seq(
      (-205L, 3L), (-12L, 10L), (7L, 120L), (8L, 0L), (130L, 500L),
      (131L, 40L), (299L, 777L), (1000L, 1L)
    ).toDF("doc_id", "nt").repartition(5)
    val got = graft.sample.Sampling.packSequences(docs, "doc_id", col("nt"),
        budget = 256L, bucketSize = 100L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // local replay: plain global running sum in id order
    val local = Seq((-205L, 3L), (-12L, 10L), (7L, 120L), (8L, 0L), (130L, 500L),
      (131L, 40L), (299L, 777L), (1000L, 1L)).sortBy(_._1)
    var cum = 0L
    val expect = local.map { case (id, n) =>
      val prev = cum; cum += n
      val first = prev / 256L
      val last = if (n > 0) (prev + n - 1) / 256L else first
      (id, n, prev, first, last, prev % 256L)
    }
    assert(got.toSeq == expect, s"got ${got.toSeq}\nexpect $expect")
    // a 500-token doc at offset 133 must span bins 0..2 of 256
    val straddler = got.find(_._1 == 130L).get
    assert(straddler._4 < straddler._5, "big doc must straddle bins")
    // partitioning invariance
    val again = graft.sample.Sampling.packSequences(docs.repartition(1),
        "doc_id", col("nt"), budget = 256L, bucketSize = 100L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(again.toSeq == expect)
  }

  test("a null group key is rejected by name, not an NPE in the key sort") {
    import graft.sample.Sampling
    val contract = "group keys must be non-null"
    def rejects(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(contract), e.getMessage)
    }
    rejects(Sampling.temperatureThresholds(Seq("en" -> 10L, (null: String) -> 5L), 8L))
    rejects(Sampling.mixtureKeep(col("id"), col("g"), Map("en" -> 0.5, (null: String) -> 0.1)))
    rejects(Sampling.mixtureKeepHex(col("id"), col("g"), Map("en" -> "80000000", (null: String) -> "g")))
    // a null ROW group is fine: it equals no key and takes the default
    val df = Seq((1L, Option("en")), (2L, Option.empty[String])).toDF("id", "g")
    assert(df.filter(Sampling.mixtureKeep(col("id"), col("g"), Map("en" -> 0.0))).count() == 1)
  }

  test("temperature thresholds: flatten the head, cap at always-keep, exact integer replay") {
    import graft.sample.Sampling
    val counts = Seq("en" -> 800L, "de" -> 100L, "fr" -> 100L, "ta" -> 4L)
    val thr = Sampling.temperatureThresholds(counts, targetTotal = 500L)
    // hand replay: w = isqrt(n) = 28,10,10,2 → sw = 50
    // en: 500·28·2^32/(800·50) = 0.35·2^32; de/fr: 500·10·2^32/(100·50) = 2^32 → 'g'
    // ta: 500·2·2^32/(4·50) = 5·2^32 → 'g' (tail keeps everything)
    assert(thr("en") == f"${(BigInt(500) * 28 * 4294967296L / (800L * 50)).toLong}%08x")
    assert(thr("de") == "g" && thr("fr") == "g" && thr("ta") == "g")
    // head rate strictly below 1, tail at 1: the τ=1/2 flattening
    assert(BigInt(thr("en"), 16) < BigInt(4294967296L))
    // expected en sample ≈ 500·28/50 = 280 of 800 (rate 0.35)
    val rate = BigInt(thr("en"), 16).toDouble / 4294967296.0
    assert(math.abs(rate - 0.35) < 1e-9)
    // keep-predicate verdicts are partitioning-invariant and match the
    // threshold exactly (string-hex comparison == numeric comparison)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (1 to 400).map(i => (i.toLong, if (i % 4 == 0) "de" else "en"))
      .toDF("doc_id", "lang")
    val kept = docs.filter(Sampling.mixtureKeepHex(col("doc_id"), col("lang"), thr))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    kept.foreach { case (id, lang) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      assert(lang == "de" || h < thr("en"), s"doc $id kept above threshold")
    }
    assert(kept.count(_._2 == "de") == 100, "always-keep group keeps everything")
    val enKept = kept.count(_._2 == "en")
    assert(enKept > 60 && enKept < 150, s"en kept $enKept of 300 at rate 0.35")
  }
}
