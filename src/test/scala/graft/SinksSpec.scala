package graft

import graft.sources.{Sinks, Sources}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partitioned/sized writes round-trip and prune correctly. */
class SinksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("partitioned parquet round-trips and prunes on the partition column") {
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Sinks.writePartitionedParquet(docs, dir, Seq("lang"))
    // directory layout: one subdir per language
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(subdirs.exists(_.startsWith("lang=")))
    val back = Sources.parquet(spark, dir)
    assert(back.count() == docs.count())
    // partition pruning: the filtered plan must only touch the en partition
    val filtered = back.filter(col("lang") === "en")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(filtered.count() == docs.filter(col("lang") === "en").count())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("json source round-trips content exactly") {
    import spark.implicits._
    val rows = Seq((1L, "plain"), (2L, "uniçode \"quoted\""), (3L, "tab\tand\nnewline"))
    val df = rows.toDF("id", "s")
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    df.write.mode("overwrite").json(dir)
    val back = Sources.json(spark, dir)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("s"))).toSet
    assert(back === rows.toSet)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("sorted parquet layout: files cover disjoint ascending ranges") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sorted").toString
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    Sinks.writeSortedParquet(docs, s"$tmp/docs", Seq("doc_id"), targetFiles = 4)
    val files = new java.io.File(s"$tmp/docs").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    assert(files.length >= 2, "range partitioning produced multiple files")
    // per-file [min,max] ranges must not overlap — that is what lets a
    // selective reader skip whole files/row groups via footer stats
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("doc_id"), max("doc_id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: $hi >= $lo2")
      case _ =>
    }
    // round-trip completeness
    assert(spark.read.parquet(s"$tmp/docs").count() == docs.count())
  }

  test("manifest-pruned read: selective range touches fewer files, same answer") {
    import graft.sources.SkipStats
    val tmp = java.nio.file.Files.createTempDirectory("graft_skip").toString
    val docs = Tables.table(spark, TestSpark.sf01, "documents")
    Sinks.writeSortedParquet(docs, s"$tmp/docs", Seq("doc_id"), targetFiles = 8)
    // narrow range: ~one file's worth of ids out of 8 range-partitioned
    // files (2 if the range straddles a sampled boundary)
    val (pruned, stats) = Sinks.readRangeSkipping(spark, s"$tmp/docs", "doc_id",
      lo = BigDecimal(100), hi = BigDecimal(140))
    assert(stats.filesTotal == 8 && stats.filesRead <= 2 && stats.filesRead >= 1,
      s"expected <=2 of 8 files, got $stats")
    val expect = docs.filter(col("doc_id").between(100, 140))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pruned.select("doc_id").collect().map(_.getLong(0)).toSet == expect)
    // a range outside the data reads zero files and returns zero rows
    val (empty, noneStats) = Sinks.readRangeSkipping(spark, s"$tmp/docs", "doc_id",
      lo = BigDecimal(10000000), hi = BigDecimal(20000000))
    assert(noneStats.filesRead == 0 && empty.count() == 0)
    // full range reads everything — pruning never loses data
    val (all, allStats) = Sinks.readRangeSkipping(spark, s"$tmp/docs", "doc_id",
      lo = BigDecimal(0), hi = BigDecimal(10000000))
    assert(allStats.filesRead == 8 && all.count() == docs.count())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("jsonl shards: every shard respects the record cap, content round-trips via explicit schema") {
    import spark.implicits._
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
      .select("doc_id", "lang", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    Sinks.writeJsonlShards(docs, dir, maxRecordsPerShard = 100)
    val shards = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json"))
    assert(shards.length >= 5, s"500 docs / cap 100 needs >= 5 shards, got ${shards.length}")
    shards.foreach { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath).size
      assert(lines <= 100, s"${f.getName} has $lines > 100 lines")
    }
    // explicit-schema re-read (the production ingest path — no inference pass)
    val back = Sources.jsonl(spark, dir, docs.schema)
    assert(back.schema == docs.schema)
    val pair = back.select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(pair == docs.select("doc_id", "text").as[(Long, String)].collect().toSet)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("q203 release shards reload to EXACTLY the admitted 3-gate set (round-trip)") {
    // the release artifact's contract (round 12): what the gate ensemble
    // admits is what the written corpus contains — no more, no less, and
    // byte-identical text through the JSON encode/decode. The manifest
    // oracle hashes aggregate signatures; this spec pins the per-ROW set
    // equality behind them. sf0.01 = the oracle SF (r12 measured: 96
    // admitted docs — the band must be non-hollow for the entry to prove
    // anything).
    import spark.implicits._
    val dir = TestSpark.sf01
    val d = Tables.table(spark, dir, "documents")
    val admitted = SparkEntry.gateDecisions(spark, dir)
      .filter(col("n_gates") === 3)
      .join(d.select("doc_id", "text"), Seq("doc_id"))
      .select("doc_id", "lang", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_q203rt").toString
    Sinks.writeJsonlShards(admitted, out, maxRecordsPerShard = 64)
    val back = Sources.jsonl(spark, out, admitted.schema)
    val a = admitted.as[(Long, String, String)].collect().toSet
    val b = back.as[(Long, String, String)].collect().toSet
    assert(a.nonEmpty, "ship band is EMPTY at the oracle SF — the release entry is hollow")
    assert(b == a, s"reloaded shards != admitted set: ${(b -- a).take(3)} extra, ${(a -- b).take(3)} missing")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("gate ensemble: shared-token-frame decisions equal the per-gate text-form composition (r18)") {
    // r18 optimization: gateDecisions tokenizes ONCE and feeds all three
    // gates from a cut (doc_id, lang, tokens) frame. This pins its output
    // row-for-row against the pre-r18 composition — each gate computed
    // independently from raw text via the operators the standalone
    // entries (q174/q170/q188) hash-prove.
    val dir = TestSpark.sf01
    val d = Tables.table(spark, dir, "documents")
    val span = operators.TextDedup.spanRemovalStats(d, "doc_id", "text")
      .select(col("doc_id"), (col("kept_bp") >= SparkEntry.SpanKeepBp).cast("long").as("g_span"))
    val ppl = SparkEntry.pplScoresAll(spark, dir)
      .withColumn("ppl_bp", expr("(bits_total * 10000) DIV n_bigrams"))
      .select(col("doc_id"), (col("ppl_bp") <= SparkEntry.PplGateBp).cast("long").as("g_ppl"))
    val nb = SparkEntry.nbScoresAll(spark, dir)
      .select(col("doc_id"), (col("pred_label") === col("lang")).cast("long").as("g_nb"))
    val want = d.select("doc_id", "lang")
      .join(span, Seq("doc_id"), "left")
      .join(ppl, Seq("doc_id"), "left")
      .join(nb, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        (coalesce(col("g_span"), lit(0L)) + coalesce(col("g_ppl"), lit(0L))
          + coalesce(col("g_nb"), lit(0L))).as("n_gates"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val got = SparkEntry.gateDecisions(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(want.nonEmpty && got == want,
      s"shared-token gateDecisions diverged: ${(got -- want).take(3)} extra, ${(want -- got).take(3)} missing")
  }

  test("orc sink/source round-trips exactly, with predicate pushdown in the scan") {
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    Sinks.writeOrc(docs, s"$dir/docs")
    val back = Sources.orc(spark, s"$dir/docs")
    assert(back.count() == docs.count())
    val filtered = back.filter(col("doc_id") < 100).select("doc_id")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("LessThan(doc_id,100)"),
      s"ORC scan must push the predicate:\n$plan")
    assert(filtered.count() == 100)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("textLines reads one row per line, or one row per file with wholeFile") {
    val dir = java.nio.file.Files.createTempDirectory("graft_text").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.txt"),
      "line one\nline two\nline three".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.txt"),
      "solo".getBytes("UTF-8"))
    assert(Sources.textLines(spark, dir).count() == 4)
    val whole = Sources.textLines(spark, dir, wholeFile = true)
    assert(whole.count() == 2)
    assert(whole.collect().map(_.getString(0)).toSet ==
      Set("line one\nline two\nline three", "solo"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("zValue interleaves quantized bits") {
    import spark.implicits._
    // 2-bit quantization over [0,3]×[0,3]: z(x=2=b10, y=1=b01)
    // = x0<<0 | y0<<1 | x1<<2 | y1<<3 = 0 | 2 | 4 | 0 = 6
    val df = Seq((2L, 1L)).toDF("x", "y")
    val z = df.select(Sinks.zValue(Seq(col("x"), col("y")),
      mins = Seq(0.0, 0.0), maxs = Seq(3.0, 3.0), bits = 2)).head().getLong(0)
    assert(z == 6L, s"z=$z")
    // ordering property: points close in both dims get close z-values
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L)).toDF("x", "y")
    val zs = pts.select(Sinks.zValue(Seq(col("x"), col("y")),
      Seq(0.0, 0.0), Seq(3.0, 3.0), bits = 2)).as[Long].collect()
    assert(zs(3) == 15L, "corner (3,3) maxes out")
    assert(zs(0) == 0L)
  }

  test("z-ordered layout prunes files on BOTH indexed columns, same answers") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val docs = Tables.table(spark, TestSpark.sf01, "documents")
      // second independent-ish dimension so the 2-D claim is real
      .withColumn("rev_id", lit(5000L) - col("doc_id") * 3 % 5000)
    Sinks.writeZOrderedParquet(docs, s"$tmp/docs", Seq("doc_id", "rev_id"), targetFiles = 16)
    def probe(c: String, lo: Long, hi: Long) = {
      val (df, stats) = Sinks.readRangeSkipping(spark, s"$tmp/docs", c,
        BigDecimal(lo), BigDecimal(hi))
      val got = df.select("doc_id").collect().map(_.getLong(0)).toSet
      val expect = docs.filter(col(c).between(lo, hi))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == expect, s"$c pruned read must equal the full scan")
      stats
    }
    val s1 = probe("doc_id", 100, 300)
    val s2 = probe("rev_id", 100, 300)
    // a single-column sort prunes only its leading column; z-order must
    // prune meaningfully on EACH of the two indexed dimensions
    assert(s1.filesTotal == 16 && s1.filesRead < 16, s"doc_id: $s1")
    assert(s2.filesTotal == 16 && s2.filesRead < 16, s"rev_id: $s2")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }
}
