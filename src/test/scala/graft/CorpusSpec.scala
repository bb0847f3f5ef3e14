package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query must execute on sf0.001 and respect the corpus
  * determinism rules (SURVEY.md §2.3). The value-level check is the DuckDB
  * oracle (tools/oracle_check.py / the driver's t2 gate); this spec is the
  * fast structural regression. */
class CorpusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("ids are unique and SparkEntry exposes every corpus query") {
    val ids = Corpus.queries.map(_.id)
    assert(ids.distinct.length == ids.length)
    ids.foreach(id => assert(SparkEntry.queries.contains(id), s"missing $id"))
    val oracled = SparkEntry.entries.filter(_.oracle.isDefined).map(_.id).toSet
    ids.foreach(id => assert(oracled.contains(id), s"no oracle for $id"))
  }

  test("entry ids are unique stable identifiers (no Spark session)") {
    // the table is a Seq, which keeps both copies of a repeated id
    val ids = SparkEntry.entries.map(_.id)
    assert(ids.diff(ids.distinct).isEmpty, s"duplicate entry ids: ${ids.diff(ids.distinct)}")
    ids.foreach(id => assert(id.matches("q\\d+[a-z0-9_]*"), s"$id is not a stable identifier"))
  }

  test("driver contract shape: entry returns rows, keys are stable identifiers") {
    assert(SparkEntry.queries.keys.forall(_.matches("q\\d+[a-z0-9_]*")))
    assert(SparkEntry.queries.size >= 50)
  }

  test("dual-text queries differ only where engines share no spelling") {
    val duals = Corpus.queries.filter(_.duckSqlOverride.isDefined).map(_.id)
    // q60: array membership spelling; q61: Spark PIVOT vs DuckDB FILTER;
    // q78: DATEDIFF(end,start) vs date_diff('day',start,end);
    // q86: collect+sort+join vs string_agg ORDER BY; q87: posexplode vs
    // lateral index join; q99/q100: integer division (Spark DIV vs
    // DuckDB //, whose HUGEINT-typed result also needs a CAST);
    // q103: array_* vs list_* toolkit (+ position 0-vs-NULL on absent);
    // q104: regexp_extract_all group-index arg + empty-slice '' vs NULL;
    // q110: date_add/datediff vs date + n / date_diff('day', …);
    // q115: integer division (Spark DIV vs DuckDB //);
    // q119: add_months vs date + INTERVAL n MONTH;
    // q120: LATERAL VIEW explode(sequence) vs unnest(generate_series)
    //       (DuckDB's generate_series table function rejects lateral args);
    // q121: CAST(… AS STRING) vs CAST(… AS VARCHAR);
    // q122: IGNORE NULLS outside (Spark) vs inside (DuckDB) the parens;
    // q123: integer division (Spark DIV vs DuckDB // + HUGEINT CAST);
    // q127/q128/q130: split/size/slice/array_join/explode(sequence)/
    //   lambda transform vs the DuckDB list_* + unnest spellings, DIV vs
    //   // (with CASTs where DuckDB's SUM/window-SUM yields HUGEINT);
    // q133: posexplode vs lateral index join, DIV vs // + HUGEINT CASTs;
    // q134: explode(sequence)/date_format vs unnest(generate_series)/
    //   strftime (q135 shares one text: percentile_disc WITHIN GROUP,
    //   FLOOR and the integer fences spell identically in both engines)
    // (q129/q132/q138 left the SQL corpus in round 10 — they are tier-E
    //  DataFrame programs now, oracles beside them in SparkEntry)
    assert(duals.toSet == Set("q05_multi_agg", "q22_datediff", "q60_math_regex",
      "q61_pivot", "q78_retention", "q86_listagg", "q87_posexplode",
      "q99_source_stats", "q100_pct_of_total", "q103_array_funcs",
      "q104_regexp_all", "q110_date_funcs", "q115_doclen_hist",
      "q119_add_months", "q120_chunk_overlap", "q121_stratified_k",
      "q122_ignore_nulls", "q123_share_in_region",
      "q127_boilerplate_strip", "q128_df_quality",
      "q130_vocab_coverage", "q133_centroid_drift",
      "q134_gap_fill",
      // q137: integer division + list spellings (q139 duals only on
      // explode vs unnest)
      "q137_ttr_bands", "q139_token_len",
      // q158: split/size/array_distinct/DIV vs list spellings (the
      //   percentile_disc WITHIN GROUP half is shared, q114/q135);
      // q159: explode/sort_array/transform-CAST/array_join vs
      //   unnest/list_sort/array_to_string (DuckDB renders integer
      //   lists directly; Spark's array_join needs element CASTs);
      // q160: conv(substr(md5)) vs '0x'-cast 32-bit key (q132/q138
      //   equivalence) + STRING vs VARCHAR + DIV vs //
      "q158_quality_gate", "q159_inverted_postings",
      // q169: STRING vs VARCHAR + DIV vs // (q121/q160 class)
      "q160_weighted_sample", "q169_temperature_mix"))
  }

  test("every query text ends with a LIMIT or is single-row") {
    Corpus.queries.foreach { q =>
      val hasLimit = "(?i)\\blimit\\b".r.findFirstIn(q.sparkSql).isDefined
      assert(hasLimit || q.id == "q20_percentile_emul" && q.sparkSql.contains("LIMIT 7500"),
        s"${q.id} lacks a LIMIT")
    }
  }

  Corpus.queries.foreach { q =>
    test(s"${q.id} executes on sf0.001") {
      Tables.register(spark, TestSpark.sf0001)
      val df = spark.sql(q.sparkSql)
      val n = df.count()
      assert(n <= 100 || q.id == "q20_percentile_emul")
      assert(df.columns.nonEmpty)
      // q29 (NOT IN) may legitimately return 0 rows; everything else must not
      if (q.id != "q29_not_in_anti") assert(n > 0, s"${q.id} returned 0 rows")
    }
  }

  test("no oracle-gated query emits DECIMAL or floating-point columns") {
    // The driver's comparator renders the DuckDB oracle through pandas,
    // which floats DECIMAL/HUGEINT ("123.40" → "123.4") while the Spark
    // parquet dump stays exact — so a DECIMAL/float column in a hashed
    // output is a guaranteed future hash mismatch (round-1 lesson,
    // CORRECTNESS_r01.json: 13 queries failed on exactly this).
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    Tables.register(spark, TestSpark.sf0001)
    SparkEntry.entries.collect { case Entry(name, build, Some(_)) => name -> build }.foreach { case (name, fn) =>
      val schema = fn(spark, TestSpark.sf0001).schema  // analysis only for batch entries
      schema.fields.foreach { f =>
        val bad = f.dataType match {
          case _: DecimalType | DoubleType | FloatType => true
          case _ => false
        }
        assert(!bad, s"$name.${f.name} is ${f.dataType} — hashed outputs must be int/string/date/timestamp")
      }
    }
    // the streaming entries (q51/q65) execute eagerly and leave their
    // memory-sink temp views behind — drop them so CatalogSpec's exact
    // table-set assertion is order-independent
    spark.catalog.listTables().collect()
      .filter(_.name.matches("q\\d+_mem_\\d+"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }
}
