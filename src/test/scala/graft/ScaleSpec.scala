package graft

import graft.operators.Scale
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew/partitioning utilities: salted join and salted aggregation must be
  * result-identical to their plain forms. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedJoin equals plain join on skewed data") {
    // one hot key (90% of rows) + uniform tail
    val big = ((1 to 900).map(i => (1L, s"v$i")) ++ (1 to 100).map(i => (i.toLong + 1, s"w$i")))
      .toDF("k", "payload")
    val dim = (1 to 101).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
    val plain = big.join(dim, Seq("k")).select("k", "payload", "name")
      .collect().map(_.toSeq).toSet
    val salted = Scale.saltedJoin(big, dim, "k", saltBuckets = 8)
      .select("k", "payload", "name").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(plain.size == 1000)
  }

  test("saltedJoin preserves left-join misses") {
    val big = Seq((1L, "a"), (2L, "b"), (99L, "miss")).toDF("k", "p")
    val dim = Seq((1L, "x"), (2L, "y")).toDF("k", "n")
    val got = Scale.saltedJoin(big, dim, "k", 4, "left")
      .select("k", "p", "n").collect().map(_.toSeq).toSet
    assert(got == Set(Seq(1L, "a", "x"), Seq(2L, "b", "y"), Seq(99L, "miss", null)))
  }

  test("ntileByQuantiles approximates exact NTILE within boundary tolerance") {
    Tables.register(spark, TestSpark.sf0001)
    val monetary = spark.sql(
      "SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary " +
        "FROM orders GROUP BY o_custkey")
    val exact = spark.sql(
      "SELECT o_custkey, NTILE(4) OVER (ORDER BY monetary, o_custkey) AS nt FROM " +
        "(SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary " +
        "FROM orders GROUP BY o_custkey) t")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val approx = Scale.ntileByQuantiles(monetary, "monetary", 4, "nt")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(approx.values.toSet == Set(1, 2, 3, 4), "all buckets populated")
    // bucket assignment may differ by at most one at quantile boundaries
    // (.toSeq matters: Map.keys is a Set and Set.map would dedup the drifts)
    val drift = exact.keys.toSeq.map(k => math.abs(exact(k) - approx(k)))
    assert(drift.max <= 1, s"max drift ${drift.max}")
    assert(drift.count(_ == 0).toDouble / exact.size > 0.9, "≥90% exact agreement")
  }

  test("hashStratifiedMix is deterministic, quota-accurate and a subset of its input") {
    import org.apache.spark.sql.functions.{col => c}
    val docs = Tables.table(spark, TestSpark.sf01, "documents")
    val quotas = Map("de" -> 9000, "en" -> 5000, "es" -> 2500, "fr" -> 10000, "zh" -> 0)
    val once = Scale.hashStratifiedMix(docs, "lang", "doc_id", quotas)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Scale.hashStratifiedMix(docs, "lang", "doc_id", quotas)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(once === again, "same keys must survive on every run")
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(once.subsetOf(all))
    // quota accuracy: fr keeps everything, zh keeps nothing, en ≈ 50%
    val perLang = Scale.hashStratifiedMix(docs, "lang", "doc_id", quotas)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang("fr") === totals("fr"), "10000 bp keeps the whole stratum")
    assert(!perLang.contains("zh"), "0 bp drops the whole stratum")
    val enShare = perLang("en").toDouble / totals("en")
    assert(enShare > 0.4 && enShare < 0.6, s"en share $enShare should be ≈ 0.5")
    // unmapped strata are dropped too
    val dropped = Scale.hashStratifiedMix(docs, "lang", "doc_id", Map("en" -> 10000))
      .filter(c("lang") =!= "en").count()
    assert(dropped === 0L)
  }

  test("ntileByQuantiles handles FLOAT and SHORT value columns (boundary types)") {
    // percentile_approx returns boundaries typed like the input column;
    // the former match covered Double/BigDecimal/Long/Integer only and
    // threw MatchError on a float/short column (round-6 verdict hygiene)
    val f = Seq(1.0f, 2.0f, 3.0f, 4.0f, 5.0f, 6.0f, 7.0f, 8.0f).toDF("v")
    val fb = Scale.ntileByQuantiles(f, "v", 4, "nt").collect().map(_.getInt(1)).toSeq
    assert(fb.toSet == Set(1, 2, 3, 4))
    val s = Seq[Short](1, 2, 3, 4, 5, 6, 7, 8).toDF("v")
    val sb = Scale.ntileByQuantiles(s, "v", 4, "nt").collect().map(_.getInt(1)).toSeq
    assert(sb.toSet == Set(1, 2, 3, 4))
  }

  test("ntileExact equals window NTILE on a unique total order, with no Window node") {
    Tables.register(spark, TestSpark.sf0001)
    val monetary = spark.sql(
      "SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS monetary " +
        "FROM orders GROUP BY o_custkey")
    val exact = spark.sql(
      "SELECT o_custkey, NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS nt FROM " +
        "(SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS monetary " +
        "FROM orders GROUP BY o_custkey) t")
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val dist = Scale.ntileExact(monetary,
      Seq(col("monetary").desc, col("o_custkey")), 4, "nt", partitions = 7)
    assert(dist.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap == exact)
    // the scale property: the scoring plan carries no Window operator at all
    assert(!dist.queryExecution.executedPlan.toString.contains("Window"),
      "ntileExact must not plan a window")
  }

  test("groupedPrefixSum equals the window running sum, with no Window node (q179)") {
    Tables.register(spark, TestSpark.sf0001)
    // low-cardinality group (lang) + unique tie-break — the exact shape
    // the operator exists for; 7 partitions force groups to span
    // partition boundaries so the boundary-carry path is exercised
    val docs = spark.sql(
      "SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS v FROM documents")
    val want = spark.sql(
      "SELECT lang, doc_id, SUM(CAST(n_chars AS BIGINT)) OVER " +
        "(PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum " +
        "FROM documents")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = Scale.groupedPrefixSum(docs, "lang", Seq(col("doc_id")), "v",
      "cum", partitions = 7)
    assert(got.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap == want)
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "groupedPrefixSum must not plan a window")
  }

  test("groupedPrefixSum edge cases: single group, empty frame, more partitions than rows") {
    // one group spanning every partition — the pure carry-chain path
    val one = (1L to 20L).map(i => ("g", i, i)).toDF("g", "id", "v")
    val got = Scale.groupedPrefixSum(one, "g", Seq(col("id")), "v", "cum", partitions = 6)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(got == (1L to 20L).map(i => i -> i * (i + 1) / 2).toMap)
    // empty input
    val empty = Seq.empty[(String, Long, Long)].toDF("g", "id", "v")
    assert(Scale.groupedPrefixSum(empty, "g", Seq(col("id")), "v", partitions = 4).count() == 0)
    // more partitions than rows (some partitions empty mid-chain)
    val tiny = Seq(("a", 1L, 5L), ("a", 2L, 7L), ("b", 3L, 11L)).toDF("g", "id", "v")
    val got2 = Scale.groupedPrefixSum(tiny, "g", Seq(col("id")), "v", "cum", partitions = 8)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got2 == Map(("a", 1L) -> 5L, ("a", 2L) -> 12L, ("b", 3L) -> 11L))
  }

  test("ntileExact edge cases: fewer rows than buckets, uneven division") {
    val tiny = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("v", "id")
    // N=3 < n=5: buckets 1..3, one row each (window NTILE convention)
    val few = Scale.ntileExact(tiny, Seq(col("v"), col("id")), 5, "nt", partitions = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(few == Map(10L -> 1L, 20L -> 2L, 30L -> 3L))
    // N=10, n=4: sizes 3,3,2,2
    val ten = (1L to 10L).map(i => (i, i)).toDF("v", "id")
    val sizes = Scale.ntileExact(ten, Seq(col("v"), col("id")), 4, "nt", partitions = 3)
      .groupBy("nt").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1L -> 3L, 2L -> 3L, 3L -> 2L, 4L -> 2L))
  }

  test("streaming dedup emits each key once (stateful flatMapGroupsWithState)") {
    import graft.streaming.StreamOps
    // duplicate-heavy stream: same user ids appear many times
    val events = StreamOps.eventsStream(spark, TestSpark.sf0001)
    val deduped = StreamOps.runAppend(spark,
      StreamOps.streamingDedup(events, "user_id"), "dedup_stream")
    val keys = deduped.select("k").collect().map(_.getString(0))
    assert(keys.length == keys.distinct.length, "no key emitted twice")
    val batchDistinct = Tables.table(spark, TestSpark.sf0001, "events")
      .select("user_id").distinct().count()
    assert(keys.length == batchDistinct)
  }

  test("hashSplit is deterministic, disjoint, and near the requested ratio") {
    val docs = Tables.table(spark, TestSpark.sf01, "documents")
    val s1 = Scale.hashSplit(docs, "doc_id", 80)
    val s2 = Scale.hashSplit(docs, "doc_id", 80)
    val c1 = s1.groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val c2 = s2.groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c1 == c2, "same split on every run")
    val total = c1.values.sum.toDouble
    assert(math.abs(c1("train") / total - 0.8) < 0.05, s"ratio ${c1("train") / total}")
    // a key never appears in both splits
    val overlap = s1.filter(col("split") === "train").select("doc_id")
      .intersect(s1.filter(col("split") === "test").select("doc_id")).count()
    assert(overlap == 0)
  }

  test("hashSplit md5 method matches the portable md5-prefix definition") {
    val docs = Tables.table(spark, TestSpark.sf01, "documents")
    val m = Scale.hashSplit(docs, "doc_id", 80, method = "md5")
    // the split column must equal the hand-computed md5-prefix rule
    val mismatch = m.withColumn("__expect",
      when(pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
        lit(100)) < 80, lit("train")).otherwise(lit("test")))
      .filter(col("split") =!= col("__expect")).count()
    assert(mismatch == 0)
    // same invariants as the xxhash64 default: deterministic, ~ratio
    val c = m.groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = c.values.sum.toDouble
    assert(math.abs(c("train") / total - 0.8) < 0.05, s"ratio ${c("train") / total}")
    // JVM-side cross-check on one key: first 8 md5 hex chars as unsigned int
    val d42 = java.security.MessageDigest.getInstance("MD5").digest("42".getBytes("UTF-8"))
    val hex = d42.map("%02x".format(_)).mkString.substring(0, 8)
    val expect42 = if (java.lang.Long.parseLong(hex, 16) % 100 < 80) "train" else "test"
    val got42 = m.filter(col("doc_id") === 42L).select("split").head().getString(0)
    assert(got42 == expect42)
  }

  test("packSequences: budget respected, every doc packed once, deterministic") {
    val docs = Tables.table(spark, TestSpark.sf01, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val packed = Scale.packSequences(docs, "doc_id", "n_tokens", budgetTokens = 512L, nShards = 4)
    val rows = packed.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every document appears exactly once
    assert(rows.map(_._1).distinct.length == docs.count())
    // no pack exceeds the budget unless it is a single oversized document
    val toks = docs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(t => (t._2, t._3)).foreach { case (k, members) =>
      val fill = members.map(m => toks(m._1)).sum
      assert(fill <= 512L || members.length == 1, s"pack $k over budget: $fill")
    }
    // deterministic across runs
    val again = Scale.packSequences(docs, "doc_id", "n_tokens", 512L, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSet == again.toSet)
    // hand case: one shard, docs of 300/300/600/100 tokens, budget 512
    // → packs [300], [300], [600 oversized alone], [100]? No: greedy keeps
    // filling — 300, then 300 overflows → new pack; 600 overflows → own
    // pack; 100 overflows 600's pack → new pack
    import spark.implicits._
    val tiny = Seq((0L, 300L), (1L, 300L), (2L, 600L), (3L, 100L)).toDF("doc_id", "n")
    val got = Scale.packSequences(tiny, "doc_id", "n", 512L, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("weightedMix respects weights and is reproducible") {
    val docs = Tables.table(spark, TestSpark.sf01, "documents")
    val n = docs.count().toDouble
    val mixA = Scale.weightedMix(Seq((docs, 0.5), (docs, 0.1)), seed = 7L)
    val mixB = Scale.weightedMix(Seq((docs, 0.5), (docs, 0.1)), seed = 7L)
    assert(mixA.count() == mixB.count(), "seeded sampling reproduces")
    assert(math.abs(mixA.count() / n - 0.6) < 0.1, s"weight sum off: ${mixA.count() / n}")
  }

  test("stratifiedSample applies per-stratum fractions") {
    val docs = Tables.table(spark, TestSpark.sf01, "documents")
    val fracs = Map("en" -> 0.5, "de" -> 0.1)
    val sampled = Scale.stratifiedSample(docs, "lang", fracs, seed = 7L)
    val base = docs.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = sampled.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet.subsetOf(fracs.keySet), "unlisted strata drop to zero")
    fracs.foreach { case (k, f) =>
      val ratio = got.getOrElse(k, 0L).toDouble / base(k)
      assert(math.abs(ratio - f) < 0.15, s"$k ratio $ratio vs $f")
    }
  }
}
