package graft

/** t1-style smoke entry: boots a session, runs the flagship query, and
  * exercises the Runner path with hostile inputs (LLM prose, non-SELECT).
  * Mirrors what the driver's smoke check does, runnable locally. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session(8)
    spark.sparkContext.setLogLevel("ERROR")

    val flagship = SparkEntry.entry(spark)
    println(s"[smoke] entry rows=${flagship.count()}")
    flagship.show(5, truncate = false)

    Tables.register(spark, "/root/testdata/sf0.001")
    // prose-prefixed LLM output (the error_query.sql:26-46 failure shape)
    val prose = "Here is the query you asked for:\n" +
      "SELECT c_custkey FROM customer ORDER BY c_custkey"
    Runner.run(spark, prose) match {
      case Right(df) => println(s"[smoke] prose-prefixed → rows=${df.count()} (expect 100 via injected LIMIT)")
      case Left(e)   => println(s"[smoke] prose-prefixed FAILED: ${e.message}")
    }
    // non-SELECT must be rejected as a value, not a throw
    Runner.run(spark, "DROP TABLE customer") match {
      case Right(_) => println("[smoke] DROP accepted — BUG")
      case Left(e)  => println(s"[smoke] DROP rejected: ${e.message}")
    }
    // bad SQL → error-as-value (db_utils.py:180-182)
    println(s"[smoke] bad SQL → empty=${Runner.runOrEmpty(spark, "SELECT nope FROM nowhere").isEmpty}")

    // NL front-end with stubbed completion, end to end (app.py:283-302 loop)
    val fe = new LlmFrontend(new Catalog(spark), "postgresql",
      _ => "```sql\nSELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment ORDER BY n DESC, c_mktsegment\n```")
    Ask(spark, fe, "customers per segment") match {
      case Right(df) => println(s"[smoke] Ask → rows=${df.count()}")
      case Left(e)   => println(s"[smoke] Ask FAILED: ${e.message}")
    }

    // streaming hourly window over the closed events input
    val streamed = graft.streaming.StreamOps.runToCompletion(spark,
      graft.streaming.StreamOps.hourlyByType(
        graft.streaming.StreamOps.eventsStream(spark, "/root/testdata/sf0.001")),
      "smoke_stream")
    println(s"[smoke] streaming hourly buckets=${streamed.count()}")

    // engine facade: run → describe → CSV export → read it back via Sources.csv
    val engine = Engine.wrap(spark)
    engine.run("SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment ORDER BY n DESC, c_mktsegment") match {
      case Right(df) =>
        val p = java.nio.file.Files.createTempFile("graft_smoke", ".csv").toString
        engine.exportCsv(df, p)
        val back = graft.sources.Sources.csv(spark, p)
        println(s"[smoke] engine facade → ${engine.describeResult(df)}; csv round-trip rows=${back.count()}")
      case Left(e) => println(s"[smoke] engine facade FAILED: ${e.message}")
    }

    // salted join on a synthetic hot key equals the plain join
    import spark.implicits._
    val big = ((1 to 500).map(_ => (1L, "hot")) ++ (2 to 50).map(i => (i.toLong, "cold"))).toDF("k", "v")
    val dim = (1 to 50).map(i => (i.toLong, s"d$i")).toDF("k", "name")
    val plainN = big.join(dim, Seq("k")).count()
    val saltedN = graft.operators.Scale.saltedJoin(big, dim, "k", 8).count()
    println(s"[smoke] salted join rows=$saltedN plain=$plainN match=${saltedN == plainN}")

    // partitioned sink round-trip with partition pruning
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val outDir = java.nio.file.Files.createTempDirectory("graft_smoke_part").toString
    graft.sources.Sinks.writePartitionedParquet(docs, outDir, Seq("lang"))
    val back = graft.sources.Sources.parquet(spark, outDir)
    val en = back.filter(org.apache.spark.sql.functions.col("lang") === "en").count()
    println(s"[smoke] partitioned sink: total=${back.count()} en-partition=$en dirs=" +
      new java.io.File(outDir).listFiles().count(f => f.isDirectory && f.getName.startsWith("lang=")))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir))

    // OpenAI-shaped client against a canned transport (zero network):
    // request wire shape → fenced-SQL response → sanitize → execute
    val canned: LlmClient.Transport = (_, _, _) =>
      """{"choices":[{"message":{"role":"assistant","content":"```sql\nSELECT r_name FROM region ORDER BY r_name\n```"}}]}"""
    val client = new LlmClient("http://offline.test/v1", "smoke-model", "sk-smoke", transport = canned)
    Ask(spark, LlmFrontend.withClient(new Catalog(spark), "postgresql", client), "list regions") match {
      case Right(df) => println(s"[smoke] llm client fixture → rows=${df.count()}")
      case Left(e)   => println(s"[smoke] llm client fixture FAILED: ${e.message}")
    }

    // credential store round-trip (both tiers) in a temp home
    val store = new graft.sources.CredentialStore(
      java.nio.file.Files.createTempDirectory("graft_smoke_home"),
      java.nio.file.Files.createTempDirectory("graft_smoke_cfg"))
    val cfg = Map("db_type" -> "postgresql", "host" -> "h", "port" -> "5432",
      "user" -> "u", "password" -> "pw", "database" -> "d")
    store.saveCredentials(cfg); store.saveTestDbCredentials(cfg)
    println(s"[smoke] credentials: personal=${store.loadCredentials() == cfg} " +
      s"encrypted=${store.loadTestDbCredentials().contains(cfg)} " +
      s"jdbcUrl=${store.loadDbConfig().map(_.jdbcUrl).getOrElse("NONE")}")

    // manifest-pruned range read off the sorted sink
    val sortedDir = java.nio.file.Files.createTempDirectory("graft_smoke_sorted").toString + "/docs"
    graft.sources.Sinks.writeSortedParquet(docs, sortedDir, Seq("doc_id"), targetFiles = 4)
    val (pruned, stats) = graft.sources.Sinks.readRangeSkipping(spark, sortedDir, "doc_id",
      BigDecimal(0), BigDecimal(20))
    println(s"[smoke] skipping read: filesRead=${stats.filesRead}/${stats.filesTotal} rows=${pruned.count()}")

    spark.stop()
  }
}
