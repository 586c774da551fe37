package graft

import graft.core.MergeKey
import graft.functions._
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator from SURVEY §2 (or one of the
  * LLM-pipeline extensions) over the driver's parquet test tables; each
  * `oracleSql` entry is the DuckDB-equivalent SQL the driver hash-compares
  * against at sf0.01. Column names and value rounding are deliberately
  * identical on both sides.
  */
object SparkEntry {

  // layout_pruned_scan fixture: one curve-layout write per (JVM, sf dir),
  // deleted on JVM exit — see the query's comment
  private val layoutScanCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, graft.functions.Layout.GridBounds2d)]()

  private def layoutScanFixture(s: SparkSession, dir: String)
      : (String, graft.functions.Layout.GridBounds2d) =
    layoutScanCache.computeIfAbsent(dir, _ => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      val out = java.nio.file.Files.createTempDirectory("graft_layout_scan")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        val stream = java.nio.file.Files.walk(out)
        try stream.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        finally stream.close()
      }))
      val bounds = Layout.layoutWrite2d(li, "l_partkey", "l_suppkey",
        bits = 16, prefixBits = 6, out.toString)
      (out.toString, bounds)
    })

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    // events.ts is INT64 TIMESTAMP(NANOS) parquet, which Spark only reads as
    // a long (nanosAsLong). Truncate to µs timestamp_ntz — the same ns→µs
    // truncation DuckDB applies, keeping oracle values bit-identical.
    if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else df
  }

  /** [[graft.functions.FanOut]] applied AT THE QUERY LEVEL, for the scans
    * whose downstream is a genuinely expensive per-row kernel (regex
    * scrubbing, md5 families, PQ distance math). The test tables are
    * single-row-group parquet, so those kernels otherwise run on ONE core
    * at any SPARK_GRAFT_CPUS; one small exchange of the scan unlocks them
    * (guide §2.5: unsplittable input → repartition after the read). NOT
    * applied blanket at [[t]]: an interleaved min-of-3 A/B measured the
    * blanket form at 1.49× the subset total — shuffle-bound queries and
    * the ingest fixtures pay the extra payload exchange, wider tiny-task
    * stages, and 32-file batch writes for kernels too cheap to matter.
    * Only the measured winners opt in (interleaved min-of-3 vs control:
    * doc_pii_scrub 0.48×, doc_gopher_gate 0.67×, s1_merge_key_hex 0.77×,
    * ann_ivfpq_exhaustive 0.83×; the explode+aggregate operators —
    * unigram-LM family, NB classifier, tf-idf — measured 1.7–2.6× WORSE
    * widened, their bounded partial-agg hash tables multiplying per
    * partition, and were left alone).
    */
  private def fanOut(df: DataFrame): DataFrame = graft.functions.FanOut(df)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Deterministic synthetic URL per document for the doc_url_* queries —
    * engine-portable SQL (CASE/concat/%/CAST AS STRING are identical in
    * Spark SQL and DuckDB) run VERBATIM by both engines, so the fixture
    * itself cannot drift. Arms cover: scheme case variance, www prefix,
    * 50 hosts × 4 TLDs, default port :443 (stripped) vs :8080 (kept),
    * duplicate slashes, trailing slash, tracking + content query params,
    * fragments.
    */
  private val urlInjectSql: String =
    """CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' WHEN doc_id % 3 = 1 THEN 'https' ELSE 'http' END
      | || '://' || CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END
      | || 'w' || CAST(doc_id % 50 AS STRING) || '.example.'
      | || CASE WHEN doc_id % 4 = 0 THEN 'com' WHEN doc_id % 4 = 1 THEN 'org'
      |         WHEN doc_id % 4 = 2 THEN 'net' ELSE 'io' END
      | || CASE WHEN doc_id % 5 = 0 THEN ':443' WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END
      | || '/cat' || CAST(doc_id % 7 AS STRING)
      | || CASE WHEN doc_id % 2 = 0 THEN '//x' ELSE '/x' END
      | || '/item' || CAST(doc_id % 13 AS STRING)
      | || CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END
      | || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_medium=rss&id=' || CAST(doc_id AS STRING)
      |         WHEN doc_id % 3 = 1 THEN '?id=' || CAST(doc_id AS STRING) || '&gclid=abc'
      |         ELSE '' END
      | || CASE WHEN doc_id % 9 = 0 THEN '#frag' ELSE '' END"""
      // single line: this fragment is interpolated into oracle strings that
      // get stripMargin'd again, which would eat a leading '|' of '||'
      .stripMargin.replace("\n", " ")

  /** Hosts the doc_url_host_stats gate blocks (post-normalization names). */
  private val urlBlocklist: Seq[String] =
    Seq("w3.example.org", "w11.example.io", "w20.example.com")

  /** Non-Latin snippets for text_script_profile, rotated by doc_id%4 so
    * every script range gets nonzero counts somewhere in the corpus. One
    * literal, parsed byte-identically by both engines.
    */
  private val scriptInjectSql: String =
    """text || CASE WHEN doc_id % 4 = 0 THEN ' Привет мир'
      |  WHEN doc_id % 4 = 1 THEN ' Γειά σου κόσμε'
      |  WHEN doc_id % 4 = 2 THEN ' 你好世界 こんにちは 안녕하세요'
      |  ELSE ' مرحبا بالعالم' END"""
      .stripMargin.replace("\n", " ")

  /** Decomposed/precomposed Unicode mix for doc_nfc_normalize — raw
    * combining marks (U+0301/U+0308/U+030A) next to their precomposed
    * forms, plus an ASCII tail that must pass through the fast path
    * untouched. One literal, parsed byte-identically by both engines.
    */
  private val nfcInjectSql: String =
    "text || ' Café über éü Ångström ascii tail'"

  /** Multi-line page fixture for doc_gopher_gate — deterministic arms add
    * bullet lines, an ellipsis ending, symbol noise, and a stopword-rich
    * line (even ids only, so the ≥2-stop-words rule bites on odd ids,
    * whose word-soup body carries only "the"). Shared VERBATIM with the
    * oracle.
    */
  private val gopherInjectSql: String =
    """text || chr(10)
      | || CASE WHEN doc_id % 4 = 0 THEN '- first bullet item' || chr(10) || '- second bullet item' || chr(10) ELSE '' END
      | || CASE WHEN doc_id % 5 = 0 THEN 'this part trails off into more...' || chr(10) ELSE '' END
      | || CASE WHEN doc_id % 7 = 0 THEN '### 404 ### noise #' || chr(10) ELSE '' END
      | || CASE WHEN doc_id % 2 = 0 THEN 'all of the words that we have come with and be counted' || chr(10) ELSE '' END
      | || 'closing line for page ' || CAST(doc_id AS STRING)"""
      .stripMargin.replace("\n", " ")

  /** Multi-line page fixture for doc_c4_clean — every C4 rule has an arm:
    * a no-terminal-punctuation heading, a well-formed sentence, a
    * javascript line, a <5-word line, a lorem-ipsum page poison, a
    * curly-brace page poison, the word-soup body with a terminal period,
    * and a final line that is a proper question only for doc_id%4==0
    * (which is what pushes those pages to the ≥3-sentence floor). Shared
    * VERBATIM with the oracle.
    */
  private val c4InjectSql: String =
    """'Heading Without Terminal Punctuation' || chr(10)
      | || 'This is a well formed sentence for page ' || CAST(doc_id AS STRING) || '.' || chr(10)
      | || CASE WHEN doc_id % 3 = 0 THEN 'Please enable javascript support to view this page properly.' || chr(10) ELSE '' END
      | || CASE WHEN doc_id % 5 = 0 THEN 'Too short a line.' || chr(10) ELSE '' END
      | || CASE WHEN doc_id % 11 = 0 THEN 'This page quotes lorem ipsum dolor sit amet somewhere.' || chr(10) ELSE '' END
      | || CASE WHEN doc_id % 13 = 0 THEN 'var config = { enabled: true };' || chr(10) ELSE '' END
      | || text || '.' || chr(10)
      | || CASE WHEN doc_id % 4 = 0 THEN 'Does this final line ask a proper question?' ELSE 'Trailing fragment' END"""
      .stripMargin.replace("\n", " ")

  /** Deterministic HTML wrapper per document for doc_html_strip —
    * engine-portable SQL run verbatim by both engines. Covers: script with
    * a stray `<` inside, style, comment, heading/paragraph tags, entities
    * (incl. `&amp;` ordered last in the decode chain), a conditional
    * anchor (outlink) and a self-closing tag, multiline whitespace.
    */
  private val htmlInjectSql: String =
    ("'<html><head><script type=\"text/javascript\">var x = 1 < 2;</script>" +
      "<style>.c { color: red }</style></head><body><!-- id ' || CAST(doc_id AS STRING) || ' -->" +
      "<h1>Title ' || CAST(doc_id AS STRING) || '</h1>\n<p class=\"lead\">' || text || '</p>' || " +
      "CASE WHEN doc_id % 2 = 0 THEN '<a href=\"/x?id=' || CAST(doc_id AS STRING) || " +
      "'\">link</a> &amp; &lt;tag&gt; &nbsp;&#39;q&#39;' ELSE '<br/>' END || '</body></html>'")

  // ---- events-as-changestream scaffolding for the merge-operator queries ----
  // The events table plays the role of a CDC feed: user_id is the merge key,
  // event_id the monotone version, event_type='error' marks tombstones.
  private val MergePivot = 5000L

  private def eventsBase(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("user_id"), col("event_id"), col("ts"),
      col("event_type"), col("value"))

  private def mergeTarget(s: SparkSession, dir: String, verCol: String): DataFrame =
    Dedup.latestByKey(
      eventsBase(s, dir).filter(col("event_id") < MergePivot)
        .withColumn(verCol, col("event_id")),
      col("user_id"), Seq(col(verCol)))

  private def mergeChanges(s: SparkSession, dir: String, verCol: String): DataFrame =
    eventsBase(s, dir).filter(col("event_id") >= MergePivot)
      .withColumn(verCol, col("event_id"))

  private val mergeOutCols = Seq("user_id", "event_id", "event_type", "value")

  /** Ingest-fixture scaffolding: runs `body` against a fresh temp corpus
    * directory and returns the corpus's (doc_id, split), ordered. The
    * emitted projection is small, so it is localized first and the
    * directory, with its `__gatestate` side files, is deleted NOW instead
    * of orphaning one temp tree per execution under min-of-N bench or
    * repeated verify runs.
    */
  private def withTempCorpus(s: SparkSession, prefix: String)
                            (body: String => Unit): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    try {
      body(tmp)
      graft.core.Checkpoints.localize(
        s.read.parquet(tmp).select(col("doc_id"), col("split")))
        .orderBy(col("doc_id"))
    } finally for (d <- Seq(tmp, tmp + "__gatestate")) {
      val root = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(root)) {
        val walk = java.nio.file.Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally walk.close()
      }
    }
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ================= analytics over the TPC-H-ish tables =================

    // A*: grouped aggregation pipeline (partial aggregation + single shuffle)
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).cast("long").as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // selective aggregation over joined facts: no broadcast hints on inputs
    // whose size scales with the fact tables (orders, customer) — AQE picks
    // broadcast at small SF from runtime stats and shuffle-hash at 100 TB,
    // where a forced broadcast would OOM driver and executors alike
    "q3_shipping_priority" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-06-01"))
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-06-01"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // multi-way join: region → nation → (customer, supplier) → orders → lineitem
    "q5_local_supplier" -> ((s, dir) => {
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1999-01-01"))
      val l = t(s, dir, "lineitem")
      // customer scales with the fact tables — no hint (AQE decides);
      // supplier/nation/region are true dims, safe to broadcast at any SF
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // selective scan + scalar aggregate (filter pushdown to parquet)
    "q6_revenue_forecast" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01")
          && col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
    }),

    // window ranking (§2.6): top-3 customers per market segment
    "q_top_customers_per_segment" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("c_mktsegment"), col("rnk"), col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_mktsegment"), col("rnk"))
    }),

    // time-bucketed streaming-style aggregation (runs identically under
    // readStream + watermark; batch form here for the oracle)
    "q_events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          round(sum(col("value")), 4).as("sum_value"),
          countDistinct(col("user_id")).cast("long").as("n_users"))
        .orderBy(col("hour"), col("event_type"))
    }),

    // running aggregate over an ordered per-key window (§2.6)
    "q_events_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("running_value", round(sum(col("value")).over(w), 4))
        .select(col("event_id"), col("user_id"), col("running_value"))
        .orderBy(col("event_id"))
    }),

    // join + group + top-k: revenue lost to returned items per customer
    "q10_returned_items" -> ((s, dir) => {
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      // orders/customer scale with the facts — AQE decides those joins
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("c_custkey") === col("o_custkey"))
        .join(broadcast(n), col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // conditional aggregation over a joined pair (CASE inside SUM)
    "q12_priority_shipping" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
      val o = t(s, dir, "orders")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .cast("long").as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .cast("long").as("low_line_count"))
        .orderBy(col("l_linestatus"))
    }),

    // ratio-of-conditional-sums with a broadcast dimension join
    "q14_promo_revenue" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1997-07-01"))
      // part cardinality scales with SF — leave the join strategy to AQE
      val p = t(s, dir, "part")
      l.join(p, col("l_partkey") === col("p_partkey"))
        .agg(round(
          sum(when(col("p_type").startsWith("PROMO"),
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) * 100.0 /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("promo_revenue_pct"))
    }),

    // yearly revenue share of one supplier nation (ratio of conditional sums
    // per group — the q8 market-share shape)
    "q8_market_share" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      // orders is a fact table — forcing its broadcast would OOM at scale
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("n_nationkey") === col("s_nationkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(
          sum(when(col("n_name") === "NATION_7",
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // semi-join (EXISTS): orders with at least one late lineitem
    "q4_order_priority" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
      val l = t(s, dir, "lineitem")
      o.join(l, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("long").as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // anti-join + outer aggregation: order-count distribution per customer
    "q13_customer_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).cast("long").as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).cast("long").as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // correlated-aggregate join: lineitems below 20% of the part's avg qty
    "q17_small_quantity" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      // the per-partkey aggregate is ∝ part cardinality — shuffle join it
      val avgQty = l.groupBy(col("l_partkey").as("ap_partkey"))
        .agg((avg(col("l_quantity")) * 0.2).as("avg20"))
      l.join(avgQty, col("l_partkey") === col("ap_partkey"))
        .filter(col("l_quantity") < col("avg20"))
        .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
    }),

    // group-having + join back: customers with any order above a threshold
    "q18_large_orders" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val big = l.groupBy(col("l_orderkey").as("big_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 150)
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      // `big` is ∝ qualifying orders and customer ∝ SF — AQE decides both
      o.join(big, col("o_orderkey") === col("big_orderkey"))
        .join(c, col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), round(col("sum_qty"), 2).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    // correlated max-per-group subquery (TPC-H q2 shape, adapted to the
    // reduced schema: lineitem's distinct (part, supplier) pairs stand in
    // for partsupp, s_acctbal for supply cost): for each size-10 part, the
    // EUROPE supplier(s) with the region-wide best account balance. The
    // correlation is the classic aggregate-then-join-back — one shuffle on
    // partkey for the max, one equi-join back, no per-row subquery.
    "q2_best_supplier" -> ((s, dir) => {
      val ps = t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey")).distinct()
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "EUROPE")
      val supEu = t(s, dir, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      // `ps` is ∝ lineitem's key diversity — shuffle join; supEu is a dim.
      // Best-supplier-per-part as a rank window (ties kept, matching the
      // oracle's max-equality join): ONE shuffle on l_partkey instead of the
      // classic aggregate + join-back pair.
      val cand = ps.join(broadcast(supEu), col("l_suppkey") === col("s_suppkey"))
      cand.withColumn("bal_rank", rank().over(
          Window.partitionBy(col("l_partkey")).orderBy(col("s_acctbal").desc)))
        .filter(col("bal_rank") === 1)
        .join(t(s, dir, "part").filter(col("p_size") === 10),
          col("l_partkey") === col("p_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"), col("p_type"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    }),

    // two-sided dimension correlation (TPC-H q7): the SAME nation table
    // joins twice under different roles (supplier's vs customer's nation) —
    // both arms broadcast, facts shuffle once on their join keys
    "q7_nation_volume" -> ((s, dir) => {
      val picked = Seq("NATION_1", "NATION_2")
      val n1 = t(s, dir, "nation").filter(col("n_name").isin(picked: _*))
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").filter(col("n_name").isin(picked: _*))
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
        .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // wide multi-join with a computed measure (TPC-H q9, p_retailprice as
    // the cost proxy — the reduced schema has no partsupp): profit per
    // supplier nation per order year over a name-sliced part subset
    "q9_product_profit" -> ((s, dir) => {
      val p = t(s, dir, "part").filter(col("p_name").like("%bolt%"))
      t(s, dir, "lineitem")
        .join(p, col("l_partkey") === col("p_partkey")) // sliced but ∝ SF — AQE decides
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) -
          col("p_retailprice") * lit(0.1) * col("l_quantity")), 2).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // HAVING against a scalar aggregate of the same grouped frame (TPC-H
    // q11): per-part value within one nation, kept only above a fraction of
    // the nation-wide total. The total is a one-row aggregate attached via
    // a constant-key broadcast hash join — no driver collect, no BNLJ.
    "q11_important_parts" -> ((s, dir) => {
      val n = t(s, dir, "nation").filter(col("n_name") === "NATION_3")
      val supN = t(s, dir, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      val grouped = t(s, dir, "lineitem")
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice")).as("value0"))
      val total = grouped.agg((sum(col("value0")) * lit(0.001)).as("threshold"))
        .withColumn("jk", lit(1))
      grouped.withColumn("jk", lit(1))
        .join(broadcast(total), "jk")
        .filter(col("value0") > col("threshold"))
        .select(col("l_partkey"), round(col("value0"), 2).as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    // argmax via scalar subquery (TPC-H q15): quarterly revenue per
    // supplier, suppliers tied at the maximum — max attached the same
    // constant-key broadcast way, equality on identically-rounded values
    "q15_top_supplier" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1997-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("total_revenue"))
      val maxRev = rev.agg(max(col("total_revenue")).as("max_rev")).withColumn("jk", lit(1))
      rev.withColumn("jk", lit(1))
        .join(broadcast(maxRev), "jk")
        .filter(col("total_revenue") === col("max_rev"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // NOT IN as a broadcast anti-join + count distinct (TPC-H q16):
    // supplier diversity per part attribute, excluding flagged suppliers
    "q16_part_supplier_counts" -> ((s, dir) => {
      val p = t(s, dir, "part").filter(col("p_brand") =!= "Brand#1" &&
        col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45))
      val flagged = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("bad_suppkey"))
      t(s, dir, "lineitem")
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(broadcast(flagged), col("l_suppkey") === col("bad_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).cast("long").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    // OR-of-ANDs predicate across both join sides (TPC-H q19): stays one
    // hash equi-join on partkey with the disjunction as a post-join filter
    // Catalyst can partially push to both scans (brand/size to part,
    // quantity bounds to lineitem)
    "q19_or_predicate_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    }),

    // nested IN chain as aggregate + semi join (TPC-H q20): suppliers who
    // moved real volume of a name-sliced part family
    "q20_volume_suppliers" -> ((s, dir) => {
      val p = t(s, dir, "part").filter(col("p_name").like("small%")).select(col("p_partkey"))
      val qty = t(s, dir, "lineitem")
        .join(p, col("l_partkey") === col("p_partkey")) // sliced part ∝ SF — AQE decides
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("tot_qty"))
        .filter(col("tot_qty") > 2000)
      t(s, dir, "supplier")
        .join(qty, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .orderBy(col("s_suppkey"))
    }),

    // EXISTS + NOT EXISTS against the same fact (TPC-H q21, returnflag
    // standing in for the missing commit/receipt dates): the sole supplier
    // whose line was returned on a multi-supplier finalized order. Both
    // subqueries are hash joins on orderkey with the inequality as the
    // join residual — semi and anti respectively, no row expansion
    "q21_waiting_suppliers" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val l1 = l.filter(col("l_returnflag") === "R")
      val others = l.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
      val othersR = l.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
      l1.join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .join(others, col("k2") === col("l_orderkey") && col("s2") =!= col("l_suppkey"), "left_semi")
        .join(othersR, col("k3") === col("l_orderkey") && col("s3") =!= col("l_suppkey"), "left_anti")
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).cast("long").as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // anti join + scalar aggregate threshold (TPC-H q22): well-funded
    // customers who never ordered, bucketed by a nation-derived code
    "q22_idle_customers" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val avgBal = c.filter(col("c_acctbal") > 0)
        .agg(avg(col("c_acctbal")).as("avg_bal")).withColumn("jk", lit(1))
      c.withColumn("jk", lit(1))
        .join(broadcast(avgBal), "jk")
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(t(s, dir, "orders").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy((col("c_nationkey") % 5).cast("long").as("cntrycode"))
        .agg(count(lit(1)).cast("long").as("numcust"),
          round(sum(col("c_acctbal")), 2).as("totacctbal"))
        .orderBy(col("cntrycode"))
    }),

    // set semantics (INTERSECT/EXCEPT over user keys) via one conditional
    // aggregation: a single shuffle on user_id classifies every user, where
    // the literal intersect+except form scanned events four times and
    // shuffled twice per set operator
    "setop_users" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.groupBy(col("user_id"))
        .agg(max(when(col("event_id") < 5000, 1).otherwise(0)).as("has_early"),
          max(when(col("event_id") >= 5000, 1).otherwise(0)).as("has_late"))
        .filter(col("has_early") === 1)
        .withColumn("kind",
          when(col("has_late") === 1, "both").otherwise("only_early"))
        .groupBy(col("kind")).agg(count(lit(1)).cast("long").as("n_users"))
        .orderBy(col("kind"))
    }),

    // exact distribution statistics per group (stddev, exact median)
    "q_value_stats" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          round(stddev_samp(col("value")), 4).as("sd_value"),
          round(expr("percentile(value, 0.5)"), 4).as("median_value"),
          round(min(col("value")), 4).as("min_value"),
          round(max(col("value")), 4).as("max_value"))
        .orderBy(col("event_type"))
    }),

    // event-time RANGE frame: trailing-1-hour rolling sum/count per user —
    // the true time-based frame (not N-rows), evaluated by the engine's
    // sliding-frame machinery over one key exchange
    "q_events_rolling_1h" -> ((s, dir) => {
      t(s, dir, "events")
        .selectExpr("user_id", "event_id",
          "round(sum(value) OVER (PARTITION BY user_id ORDER BY ts " +
            "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 4) AS sum_1h",
          "count(*) OVER (PARTITION BY user_id ORDER BY ts " +
            "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS n_1h")
        .select(col("user_id"), col("event_id"), col("sum_1h"),
          col("n_1h").cast("long").as("n_1h"))
        .orderBy(col("event_id"))
    }),

    // ordered conversion funnel (view → click → purchase, each step
    // strictly after the previous): per step one pushed filter + one
    // key-min aggregation + one key join; intermediates shrink
    // monotonically down the funnel — no window over raw events
    "q_events_funnel" -> ((s, dir) => {
      val steps = Seq(
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase"))
      Funnel.ordered(t(s, dir, "events"), "user_id", "ts", steps)
        .withColumn("furthest", Funnel.furthest(steps.map(_._1)))
        .orderBy(col("user_id"))
    }),

    // cohort retention: users grouped by first-activity week, retention[k]
    // = distinct users active k weeks later / cohort size — the classic
    // product-analytics table; two key-grouped aggs + one bounded
    // (cohort, k) agg, no window over raw events
    "q_events_retention" -> ((s, dir) => {
      val act = t(s, dir, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
        .distinct()
      val firstW = act.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
      val joined = act.join(firstW, "user_id")
        .withColumn("k",
          (datediff(col("week").cast("date"), col("cohort_week").cast("date")) / 7)
            .cast("long"))
      val ret = joined.groupBy(col("cohort_week"), col("k"))
        .agg(countDistinct(col("user_id")).cast("long").as("active"))
      val sizes = firstW.groupBy(col("cohort_week"))
        .agg(count(lit(1)).cast("long").as("cohort_size"))
      ret.join(sizes, "cohort_week")
        .withColumn("retention",
          round(col("active") * lit(1.0) / col("cohort_size"), 4))
        .select(col("cohort_week").cast("date").as("cohort_week"), col("k"),
          col("active"), col("cohort_size"), col("retention"))
        .orderBy(col("cohort_week"), col("k"))
    }),

    // windowed funnel: same steps, but each conversion must land within 24
    // hours of the previous step — the strict-conversion-window report
    "q_events_funnel_windowed" -> ((s, dir) => {
      val steps = Seq(
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase"))
      Funnel.ordered(t(s, dir, "events"), "user_id", "ts", steps,
        maxGap = Some(expr("INTERVAL 24 HOURS")))
        .withColumn("furthest", Funnel.furthest(steps.map(_._1)))
        .orderBy(col("user_id"))
    }),

    // robust outlier detection: median absolute deviation (the robust
    // z-score). Two bounded per-group percentile aggregations broadcast
    // back; both med and mad are ROUNDED before reuse so the two engines
    // agree on every boundary decision.
    "q_events_mad_outliers" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val med = ev.groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("absdev", abs(col("value") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(round(expr("percentile(absdev, 0.5)"), 4).as("mad"))
      dev.join(broadcast(mad), "event_type")
        .filter(col("mad") > 0)
        .withColumn("robust_z",
          round(abs(col("value") - col("med")) / (lit(1.4826) * col("mad")), 4))
        .filter(col("robust_z") > lit(3.5))
        .select(col("event_id"), col("event_type"),
          round(col("value"), 4).as("value"), col("robust_z"))
        .orderBy(col("event_id"))
    }),

    // robust-stats outlier clipping (winsorization): per-group exact
    // p05/p95 bounds — a bounded |groups|-row broadcast — clip map-side.
    // Bounds are ROUNDED before clipping so both engines make identical
    // boundary decisions.
    "q_events_winsorize" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val bounds = ev.groupBy(col("event_type")).agg(
        round(expr("percentile(value, 0.05)"), 4).as("p_lo"),
        round(expr("percentile(value, 0.95)"), 4).as("p_hi"))
      ev.join(broadcast(bounds), "event_type")
        .select(col("event_id"), col("event_type"),
          round(greatest(least(col("value"), col("p_hi")), col("p_lo")), 4)
            .as("value_clipped"),
          (col("value") < col("p_lo") || col("value") > col("p_hi")).as("clipped"))
        .orderBy(col("event_id"))
    }),

    // gap-based sessionization (30-min inactivity): lag + cumulative flag —
    // the batch twin of the mapGroupsWithState streaming path
    "q_events_sessions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val flagged = t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_seconds(col("ts").cast("timestamp")) -
              unix_seconds(col("prev_ts").cast("timestamp")) > 1800, 1L).otherwise(0L))
        .withColumn("session_seq",
          sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      flagged.groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          round(sum(col("value")), 4).as("session_value"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          max(col("n_events")).as("max_session_events"),
          round(max(col("session_value")), 4).as("max_session_value"))
        .orderBy(col("user_id"))
    }),

    // ===================== CDC operators (SURVEY §2.4) =====================

    // M1: dedup-latest (reduceExpr) — row_number dialect
    "m1_dedup_latest" -> ((s, dir) => {
      Dedup.latestByKey(eventsBase(s, dir), col("user_id"),
        Seq(col("ts")), Seq(col("event_id")))
        .orderBy(col("user_id"))
    }),

    // M1 WITH-TIES fidelity variant: rank() keeps same-version ties
    "m1_dedup_with_ties" -> ((s, dir) => {
      Dedup.latestByKeyWithTies(eventsBase(s, dir), col("user_id"),
        Seq(date_trunc("day", col("ts"))))
        .select(col("user_id"), col("event_id"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // M2: CDC merge, hard-delete dialect (MSSQL change tracking)
    "m2_merge_mssql_ct" -> ((s, dir) => {
      val target = mergeTarget(s, dir, "SYS_CHANGE_VERSION")
      val changes = mergeChanges(s, dir, "SYS_CHANGE_VERSION")
        .withColumn("SYS_CHANGE_OPERATION",
          when(col("event_type") === "error", "D").otherwise("U"))
      val latest = Dedup.latestByKey(changes, col("user_id"), Seq(col("SYS_CHANGE_VERSION")))
      CdcMerge.applyChanges(target, latest, "user_id", MsSqlCtDialect)
        .select(mergeOutCols.map(col): _*)
        .orderBy(col("user_id"))
    }),

    // K2 via the SQL surface: the MergeSqlBuilder statement is parsed by
    // Spark and EXECUTED by MergeSqlExecutor against temp views — same
    // fixtures and oracle as m2, so the SQL text path is hash-checked too
    "m2_merge_sql_executed" -> ((s, dir) => {
      val target = mergeTarget(s, dir, "SYS_CHANGE_VERSION")
      val changes = mergeChanges(s, dir, "SYS_CHANGE_VERSION")
        .withColumn("SYS_CHANGE_OPERATION",
          when(col("event_type") === "error", "D").otherwise("U"))
      target.createOrReplaceTempView("__m2_sql_target")
      changes.createOrReplaceTempView("__m2_sql_staged")
      val sql = MergeSqlBuilder.mssqlCt("__m2_sql_target",
        MergeSqlBuilder.dedupSubquery("__m2_sql_staged", "user_id", "SYS_CHANGE_VERSION"),
        target.columns.toSeq :+ MsSqlCtDialect.operationColumn, keyCol = "user_id")
      MergeSqlExecutor.merged(s, sql)
        .select(mergeOutCols.map(col): _*)
        .orderBy(col("user_id"))
    }),

    // M3: CDC merge, soft-delete dialect (Synapse Link)
    "m3_merge_synapse_softdelete" -> ((s, dir) => {
      val target = mergeTarget(s, dir, "versionnumber")
      val changes = mergeChanges(s, dir, "versionnumber")
        .withColumn("IsDelete", col("event_type") === "error")
      val latest = Dedup.latestByKey(changes, col("user_id"), Seq(col("versionnumber")))
      CdcMerge.applyChanges(target, latest, "user_id", SynapseLinkDialect)
        .select(mergeOutCols.map(col): _*)
        .orderBy(col("user_id"))
    }),

    // M4: upsert dialect (blob sources, no deletes)
    "m4_merge_upsert_blob" -> ((s, dir) => {
      val target = mergeTarget(s, dir, "createdon")
      val latest = Dedup.latestByKey(mergeChanges(s, dir, "createdon"),
        col("user_id"), Seq(col("createdon")))
      CdcMerge.applyChanges(target, latest, "user_id", UpsertBlobDialect)
        .select(mergeOutCols.map(col): _*)
        .orderBy(col("user_id"))
    }),

    // M6+: incremental materialized-view maintenance (IVM) — the per-type
    // count/sum view over the merged state, updated from the change batch
    // by delta propagation (only touched keys recomputed, O(batch) not
    // O(table)). Oracle aggregates the FULL merge result — the folded view
    // must be indistinguishable from recomputing.
    "m6_incremental_agg" -> ((s, dir) => {
      val target = mergeTarget(s, dir, "SYS_CHANGE_VERSION")
      val changes = mergeChanges(s, dir, "SYS_CHANGE_VERSION")
        .withColumn("SYS_CHANGE_OPERATION",
          when(col("event_type") === "error", "D").otherwise("U"))
      val latest = Dedup.latestByKey(changes, col("user_id"),
        Seq(col("SYS_CHANGE_VERSION")))
      val view = IncrementalAgg.bootstrap(target, Seq("event_type"), "value")
      IncrementalAgg.maintain(view, target, latest, "user_id", MsSqlCtDialect,
        Seq("event_type"), "value")
        .select(col("event_type"), col("cnt").cast("long").as("cnt"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // M6+ non-invertible IVM: min/max can't delta-subtract, so the view
    // maintains by recomputing ONLY the affected groups from the
    // post-merge state (every other group's row passes through) — the
    // standard IVM split next to m6_incremental_agg's delta propagation
    "m6_incremental_minmax" -> ((s, dir) => {
      val target = mergeTarget(s, dir, "SYS_CHANGE_VERSION")
      val changes = mergeChanges(s, dir, "SYS_CHANGE_VERSION")
        .withColumn("SYS_CHANGE_OPERATION",
          when(col("event_type") === "error", "D").otherwise("U"))
      val latest = Dedup.latestByKey(changes, col("user_id"),
        Seq(col("SYS_CHANGE_VERSION")))
      val view = target.groupBy(col("event_type"))
        .agg(round(min(col("value")), 4).as("min_value"),
          round(max(col("value")), 4).as("max_value"),
          count(lit(1)).as("cnt"))
      IncrementalAgg.maintainByGroupRecompute(view, target, latest, "user_id",
        MsSqlCtDialect, Seq("event_type"), Seq(
          "min_value" -> round(min(col("value")), 4),
          "max_value" -> round(max(col("value")), 4),
          "cnt" -> count(lit(1))))
        .select(col("event_type"), col("min_value"), col("max_value"),
          col("cnt").cast("long").as("cnt"))
        .orderBy(col("event_type"))
    }),

    // M5+: type-2 history build — the history-preserving companion to the
    // type-1 merges above. events replays as the CDC feed (user_id key,
    // event_id version, event_type the tracked state, 'error' rows as
    // tombstones); one key exchange, three chained windows (Scd2.scala).
    "m5_scd2_history" -> ((s, dir) => {
      Scd2.buildHistory(eventsBase(s, dir), "user_id", "event_id",
        tracked = Seq("event_type"), isDelete = col("event_type") === "error")
        .orderBy(col("user_id"), col("valid_from"))
    }),

    // M5+ day-2 path: history built from the pre-pivot stream, then the
    // post-pivot batch folded in INCREMENTALLY (only touched keys rebuilt).
    // Hash-checked against the SAME full-history oracle as m5_scd2_history
    // — the incremental path must be indistinguishable from a full rebuild.
    "m5_scd2_incremental" -> ((s, dir) => {
      val pre = eventsBase(s, dir).filter(col("event_id") < MergePivot)
      val post = eventsBase(s, dir).filter(col("event_id") >= MergePivot)
      val h0 = Scd2.buildHistory(pre, "user_id", "event_id",
        tracked = Seq("event_type"), isDelete = col("event_type") === "error")
      Scd2.applyChanges(h0, post, "user_id", "event_id",
        tracked = Seq("event_type"), isDelete = col("event_type") === "error")
        .orderBy(col("user_id"), col("valid_from"))
    }),

    // M5+ temporal join (consumption side of the history): each post-pivot
    // event enriched with the event_type state its user held AT THAT
    // EVENT'S version — key equi-join + interval filter, no range join
    "m5_scd2_temporal_join" -> ((s, dir) => {
      val h = Scd2.buildHistory(
        eventsBase(s, dir).filter(col("event_id") < MergePivot),
        "user_id", "event_id",
        tracked = Seq("event_type"), isDelete = col("event_type") === "error")
        .withColumnRenamed("event_type", "state_at_fact")
      val facts = eventsBase(s, dir).filter(col("event_id") >= MergePivot)
        .select(col("user_id"), col("event_id"), col("event_type"))
      Scd2.asOfJoin(facts, h, "user_id", col("event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("state_at_fact"), col("valid_from"))
        .orderBy(col("event_id"))
    }),

    // M5+ temporal join, hot-key-bounded: history intervals exploded to
    // coarse version buckets, facts join on (key, bucket) BEFORE the
    // interval filter — candidates per fact are bounded by per-bucket
    // occupancy, not the key's full interval count. Same oracle as the
    // plain temporal join: the bucketing is a pure candidate prefilter.
    "m5_scd2_temporal_join_bucketed" -> ((s, dir) => {
      val h = Scd2.buildHistory(
        eventsBase(s, dir).filter(col("event_id") < MergePivot),
        "user_id", "event_id",
        tracked = Seq("event_type"), isDelete = col("event_type") === "error")
        .withColumnRenamed("event_type", "state_at_fact")
      val facts = eventsBase(s, dir).filter(col("event_id") >= MergePivot)
        .select(col("user_id"), col("event_id"), col("event_type"))
      Scd2.asOfJoinBucketed(facts, h, "user_id", col("event_id"),
        bucketWidth = 1L << 12)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("state_at_fact"), col("valid_from"))
        .orderBy(col("event_id"))
    }),

    // M5+ temporal join with the bucket width AUTO-derived from the
    // history's interval-length distribution (approx median of closed
    // lengths, scalar-attached — no caller-supplied tuning knob, no
    // driver collect). Same oracle again: width choice only moves the
    // candidate prefilter, never the answer.
    "m5_scd2_temporal_join_auto" -> ((s, dir) => {
      val h = Scd2.buildHistory(
        eventsBase(s, dir).filter(col("event_id") < MergePivot),
        "user_id", "event_id",
        tracked = Seq("event_type"), isDelete = col("event_type") === "error")
        .withColumnRenamed("event_type", "state_at_fact")
      val facts = eventsBase(s, dir).filter(col("event_id") >= MergePivot)
        .select(col("user_id"), col("event_id"), col("event_type"))
      Scd2.asOfJoinBucketedAuto(facts, h, "user_id", col("event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("state_at_fact"), col("valid_from"))
        .orderBy(col("event_id"))
    }),

    // M5+ point-in-time lookup: the dimension state each key held at the
    // merge pivot version — what an as-of fact join would read.
    "m5_scd2_asof" -> ((s, dir) => {
      val h = Scd2.buildHistory(eventsBase(s, dir), "user_id", "event_id",
        tracked = Seq("event_type"), isDelete = col("event_type") === "error")
      Scd2.asOf(h, lit(MergePivot))
        .select(col("user_id"), col("event_type"), col("valid_from"))
        .orderBy(col("user_id"))
    }),

    // M7/B2: backfill-overwrite dedup + tombstone filter + swap source
    "b2_backfill_overwrite_dedup" -> ((s, dir) => {
      val full = eventsBase(s, dir)
        .withColumn("IsDelete", col("event_type") === "error")
      Dedup.latestByKey(full, col("user_id"), Seq(col("event_id")))
        .filter(!coalesce(col("IsDelete"), lit(false)))
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy(col("user_id"))
    }),

    // ============== scan enrichment / projection (§2.1, §2.3) ==============

    // S1: MSSQL-dialect merge key (lowercase-hex SHA-256 of '#'-joined PKs)
    "s1_merge_key_hex" -> ((s, dir) => {
      fanOut(t(s, dir, "lineitem"))
        .select(col("l_orderkey"), col("l_linenumber"),
          MergeKey.mergeKeyHex(Seq(col("l_orderkey"), col("l_linenumber")))
            .as("ARCANE_MERGE_KEY"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // S6: blob-dialect merge key (Base64 SHA-256)
    "s6_merge_key_base64" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          MergeKey.mergeKeyBase64(Seq(col("event_id"))).as("ARCANE_MERGE_KEY"))
        .orderBy(col("event_id"))
    }),

    // P1/P2: column include-filtering (prunes into the parquet scan)
    "p1_field_filter" -> ((s, dir) => {
      FieldFilter.include(t(s, dir, "orders"),
        Seq("o_orderkey", "o_totalprice"), essential = Seq("o_orderdate"))
        .orderBy(col("o_orderkey"))
    }),

    // S3: deterministic shard assignment for partitioned backfill reads
    "s3_shard_assignment" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy((col("l_orderkey") % 8).cast("long").as("shard"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("shard"))
    }),

    // S7: JSON pointer extraction over a semi-structured column
    "s7_json_pointer" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k", graft.sources.JsonShape.extractString(col("props"), "/k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          sum(col("k")).cast("long").as("sum_k"),
          round(avg(col("k")), 4).as("avg_k"))
        .orderBy(col("event_type"))
    }),

    // ================= LLM-pipeline operators (SURVEY §7.5) ================

    // exact dedup: one survivor per identical text (hash-grouped)
    "dedup_exact" -> ((s, dir) => {
      Dedup.exactByColumns(t(s, dir, "documents"),
        Seq(sha2(col("text"), 256)), col("doc_id"))
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // fingerprint dedup: md5 of normalized text, survivor + duplicate count
    "dedup_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(TextFunctions.fingerprint(col("text")).as("fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).cast("long").as("n_dups"))
        .orderBy(col("keep_id"))
    }),

    // quality-aware dedup survivor: best-quality doc per fingerprint cluster
    "dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("fingerprint", TextFunctions.fingerprint(col("text")))
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
      // highest quality wins; doc_id ascending breaks ties (desc of -doc_id)
      Dedup.latestByKey(docs, col("fingerprint"),
        Seq(col("quality")), Seq(-col("doc_id")))
        .select(col("fingerprint"), col("doc_id"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // MinHash + LSH near-dup pairs, verified with exact Jaccard (char-5
    // shingles, fused hash expression — shingle strings never materialize)
    "dedup_minhash_lsh" -> ((s, dir) => {
      MinHashLsh.nearDupPairsHashed(t(s, dir, "documents"), "doc_id",
        TextFunctions.shingleHashes(col("text"), 5),
        numHashes = 64, bands = 16, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // incremental-ingest dedup: keep only incoming documents (doc_id >=
    // 250 here) with NO near-dup in the existing corpus (doc_id < 250) —
    // banded LSH ACROSS the two frames, so a new crawl never re-pairs
    // the existing corpus with itself
    "dedup_against_corpus" -> ((s, dir) => {
      // both halves feed five plan branches (two signature passes, two
      // verify-stage shingle recomputes, the final anti-join) — materialize
      // the slim split once so no branch re-derives it from the raw scan
      // (at scale, existing vs incoming arrive as separate tables already
      // materialized; the one-scan split is a bench-fixture shape)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .localCheckpoint()
      MinHashLsh.dedupAgainst(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "doc_id", TextFunctions.shingleHashes(col("text"), 5),
        numHashes = 64, bands = 16, threshold = 0.8)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // near-dup CLUSTERS: the pairwise detections transitive-closed via
    // min-label connected components — each doc labeled with its cluster's
    // smallest id (the survivor a cluster-canonical dedup keeps)
    "dedup_minhash_clusters" -> ((s, dir) => {
      val pairs = MinHashLsh.nearDupPairsHashed(t(s, dir, "documents"), "doc_id",
        TextFunctions.shingleHashes(col("text"), 5),
        numHashes = 64, bands = 16, threshold = 0.8)
      ConnectedComponents.minLabel(pairs)
        .select(col("id").as("doc_id"), col("comp").as("cluster_rep"))
        .orderBy(col("doc_id"))
    }),

    // near-dup cluster dedup with the QUALITY-RANKED survivor (RefinedWeb-
    // style): transitive clusters from the same funnel as
    // dedup_minhash_clusters, then per cluster keep the LONGEST document
    // (ties → smaller id) — vs keep-first, which can drop a long original
    // in favor of a lower-id fragment
    "dedup_cluster_keep_best" -> ((s, dir) => {
      MinHashLsh.dedupClustersKeepBest(t(s, dir, "documents"), "doc_id",
          TextFunctions.shingleHashes(col("text"), 5),
          keep = col("n_chars"), numHashes = 64, bands = 16, threshold = 0.8)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // SimHash near-dup pairs via pigeonhole chunk join. Hash family is the
    // SQL-expressible md5Hash60 so the DuckDB oracle replays the ENTIRE
    // funnel bit-for-bit — bigram hash → 64-bit majority-vote fingerprint →
    // hamming <= 8 pairs (oracle joins all-pairs; Spark side keeps the
    // pigeonhole equi-join, so candidate completeness is what's checked).
    // The fused xxhash64-family kernel stays the pure-Spark scale path
    // (WordNgramHashesExpr, pinned by SimHashSpec).
    "dedup_simhash" -> ((s, dir) => {
      SimHash.nearDupPairsHashed(t(s, dir, "documents"), "doc_id",
        TextFunctions.wordBigramHashes60(col("text")), maxDist = 8)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // MOSS-style partial-overlap detection: winnowed fingerprints,
    // inverted-index join, containment-style overlap ratio. Fingerprints
    // use the SQL-expressible md5Hash60 winnowing so the DuckDB oracle
    // replays the whole path — k-gram hash → window-min thinning →
    // posting-list join → df-cap → overlap filter (WinnowExpr's fused
    // rolling-hash family stays the pure-Spark scale path, WinnowSpec).
    "dedup_winnow" -> ((s, dir) => {
      WinnowOverlap.pairsFromFingerprints(t(s, dir, "documents"), "doc_id",
        TextFunctions.winnowedFingerprints60(col("text"), k = 5, w = 8),
        minShared = 3, maxDocFreq = 50L)
        // this corpus's background similarity puts unrelated pairs at
        // overlap ~0.55; genuine shared-passage pairs sit >= 0.8. The tight
        // df cap (50) cuts the boilerplate posting lists that background
        // similarity would otherwise square (Σ df² join cost)
        .filter(col("overlap") >= 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // exact n-gram Jaccard pairs via inverted-index join (hashed word
    // 3-grams — posting lists of 8-byte keys, gram strings never shuffle);
    // stop-gram guard on: grams in >100 documents are excluded from the
    // posting-list join (mirrored in the oracle SQL)
    "dedup_ngram_jaccard" -> ((s, dir) => {
      NgramJaccard.pairs(t(s, dir, "documents"), "doc_id",
        TextFunctions.wordNgramHashes(col("text"), 3), threshold = 0.8,
        maxDocFreq = 100L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // text quality/statistics battery — ONE fused pass per document
    // (TextStatsExpr struct; ratios/score derive arithmetically from the
    // counts, identical values to the composed regexp forms)
    "text_stats" -> ((s, dir) => {
      val st = TextFunctions.textStats(col("text"))
      val nChars = st.getField("n_chars")
      val nTokens = st.getField("n_tokens")
      val punctRaw = when(nChars === 0, lit(0.0))
        .otherwise(st.getField("n_punct").cast("double") / nChars)
      val digitRaw = when(nChars === 0, lit(0.0))
        .otherwise(st.getField("n_digit").cast("double") / nChars)
      val meanRaw = when(nTokens === 0, lit(0.0))
        .otherwise(st.getField("n_nonws").cast("double") / nTokens)
      val lenOk = when(nChars.between(20, 20000), lit(1.0)).otherwise(lit(0.0))
      val punctOk = when(punctRaw < 0.2, lit(1.0)).otherwise(lit(0.0))
      val tokOk = when(meanRaw.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.0))
      t(s, dir, "documents").select(
        col("doc_id"),
        nTokens.cast("long").as("n_tokens"),
        st.getField("n_bpe").cast("long").as("n_bpe_tokens"),
        round(punctRaw, 4).as("punct_ratio"),
        round(digitRaw, 4).as("digit_ratio"),
        round(meanRaw, 4).as("mean_token_len"),
        round((lenOk + punctOk + tokOk) / 3.0, 4).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition quality signals (Rae et al. 2021 A1.1) —
    // ONE fused pass per document (RepetitionStatsExpr), map-side: no
    // explode, no shuffle, so the cost at 100 TB is one text scan
    "doc_repetition_stats" -> ((s, dir) => {
      val st = TextFunctions.repetitionStats(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        st.getField("word_cnt").cast("long").as("word_cnt"),
        round(st.getField("dup_word_frac"), 4).as("dup_word_frac"),
        round(st.getField("top2_frac"), 4).as("top2_frac"),
        round(st.getField("top3_frac"), 4).as("top3_frac"),
        round(st.getField("top4_frac"), 4).as("top4_frac"),
        round(st.getField("dup5_frac"), 4).as("dup5_frac"),
        st.getField("line_cnt").cast("long").as("line_cnt"),
        round(st.getField("dup_line_frac"), 4).as("dup_line_frac"),
        round(st.getField("dup_line_char_frac"), 4).as("dup_line_char_frac"))
        .orderBy(col("doc_id"))
    }),

    // Gopher repetition gate (Rae et al. 2021 table A1): drop documents
    // where any repetition signal exceeds its cap — the fused stats struct
    // is computed ONCE per row (repetitionGateOn over the projected
    // struct), map-side, no shuffle. Output keeps only integer columns so
    // the oracle compare is float-free.
    "doc_repetition_filter" -> ((s, dir) => {
      // fused boolean gate (ONE kernel pass in the filter); the struct is
      // projected only for the survivors — filtering on the struct alias
      // instead would multi-evaluate the kernel per conjunct (see
      // RepetitionGateExpr)
      val st = TextFunctions.repetitionStats(col("text"))
      t(s, dir, "documents")
        .filter(CorpusPipeline.repetitionGate(col("text")))
        .select(col("doc_id"),
          st.getField("word_cnt").cast("long").as("word_cnt"),
          st.getField("line_cnt").cast("long").as("line_cnt"))
        .orderBy(col("doc_id"))
    }),

    // stopword-lexicon language ID
    "text_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_id"))
        .orderBy(col("doc_id"))
    }),

    // deterministic hash-bucket train/val/test assignment: reproducible and
    // partition-independent (md5 bucket of doc_id, not rand()), so growing
    // the corpus never moves an existing document across splits
    "doc_split_assign" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        Sampling.assignSplit(col("doc_id"),
          Seq("test" -> 0.05, "val" -> 0.05)).as("split"))
        .orderBy(col("doc_id"))
    }),

    // leakage-safe split: hash the near-dup CLUSTER representative, not the
    // document id, so every member of a dup cluster lands in the same
    // split — per-doc hashing puts near-copies of a training doc in the
    // eval set (the classic split-contamination trap). Singletons fall
    // back to their own id; the cluster funnel is the dedup_minhash_
    // clusters one, the split the doc_split_assign one — composed.
    "doc_split_leakage_safe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = MinHashLsh.nearDupPairsHashed(docs, "doc_id",
        TextFunctions.shingleHashes(col("text"), 5),
        numHashes = 64, bands = 16, threshold = 0.8)
      val reps = ConnectedComponents.minLabel(pairs)
        .select(col("id").as("doc_id"), col("comp").as("rep"))
      docs.select(col("doc_id")).join(reps, Seq("doc_id"), "left")
        .withColumn("cluster_rep", coalesce(col("rep"), col("doc_id")))
        .select(col("doc_id"), col("cluster_rep"),
          Sampling.assignSplit(col("cluster_rep"),
            Seq("test" -> 0.05, "val" -> 0.05)).as("split"))
        .orderBy(col("doc_id"))
    }),

    // deterministic corpus shuffle: md5 order is a pseudorandom
    // permutation of the corpus, split into independent shard streams
    // with in-shard positions — the pre-training layout step (shard
    // files written in parallel, each internally shuffled)
    "doc_shuffle_shards" -> ((s, dir) => {
      Sampling.shuffleAssign(t(s, dir, "documents"), col("doc_id"), shards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("doc_id"))
    }),

    // corpus card (the "datasheet for datasets" artifact): one row per
    // source with volume, token mass, length, language spread, and
    // exact-dup rate — ONE scan, one grouped aggregation
    "corpus_card" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(TextFunctions.tokenCount(lower(col("text")))).cast("long").as("n_tokens"),
          round(avg(col("n_chars")), 2).as("mean_chars"),
          countDistinct(col("lang")).cast("long").as("n_langs"),
          (count(lit(1)) - countDistinct(md5(col("text")))).cast("long").as("dup_docs"),
          round(countDistinct(md5(col("text"))) / count(lit(1)).cast("double"), 4)
            .as("uniq_frac"))
        .orderBy(col("source"))
    }),

    // SFT pair construction: split each document at 70% of its tokens into
    // (prompt, completion) and render the chat-template text — the
    // fine-tuning-data assembly step; pure map-side array arithmetic
    "doc_prompt_completion" -> ((s, dir) => {
      val toks = split(trim(col("text")), "[ \\t\\n\\f\\r]+")
      val n = size(toks)
      val cut = ceil(n * lit(0.7)).cast("int")
      t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          array_join(slice(toks, lit(1), cut), " ").as("prompt"),
          array_join(slice(toks, cut + 1, greatest(n - cut, lit(0))), " ").as("completion"),
          cut.cast("long").as("n_prompt"),
          (n - cut).cast("long").as("n_completion"))
        .withColumn("sft_text",
          concat(lit("Instruction:\n"), col("prompt"),
            lit("\nResponse:\n"), col("completion")))
        .orderBy(col("doc_id"))
    }),

    // weighted sampling without replacement (Efraimidis–Spirakis): longer
    // documents proportionally more likely, deterministic md5 draws, the
    // global top-k is TakeOrdered (per-partition heaps) not a full sort
    "doc_sample_weighted" -> ((s, dir) => {
      Sampling.weightedSample(t(s, dir, "documents"),
        col("doc_id"), col("n_chars").cast("double"), k = 50)
        .select(col("doc_id"), col("n_chars"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // distributed zipWithIndex: dense 0..n−1 ids with NO global sort —
    // per-shard window positions + an exclusive prefix sum over the
    // bounded shard counts; ids depend only on key md5, so reruns and
    // repartitions reproduce them (monotonically_increasing_id does not)
    "doc_dense_ids" -> ((s, dir) => {
      Sampling.denseIds(t(s, dir, "documents"), col("doc_id"), shards = 8)
        .select(col("doc_id"), col("shard"), col("pos"), col("dense_id"))
        .orderBy(col("doc_id"))
    }),

    // contrastive negative-pair sampling: k deterministic pseudo-random
    // negatives per anchor (md5 draw over the other n−1 rows, no RNG
    // state), negatives' payload fetched by an 8-byte-key equi-join —
    // the training-pair generator for embedding/contrastive objectives
    "pairs_negative_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.negativePairs(docs, "doc_id", k = 2)
        .join(docs.select(col("doc_id").as("neg_id"), col("source").as("neg_source")),
          "neg_id")
        .select(col("anchor_id"), col("pair_idx"), col("neg_id"), col("neg_source"))
        .orderBy(col("anchor_id"), col("pair_idx"))
    }),

    // per-source mixture weighting: one map-side deterministic filter
    // re-weights a multi-source corpus toward a target mixture
    "doc_mixture_sample" -> ((s, dir) => {
      Sampling.mixtureSample(t(s, dir, "documents"), col("doc_id"), col("source"),
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultRate = 0.1)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // token-BUDGETED mixture: per-source keep rates derived from a token
    // budget and target mixture weights over the MEASURED per-source BPE
    // token totals (rate = min(1, budget·w/tokens)) — how real mixtures are
    // specified ("500B tokens, 50/30/20"). Base-byte vocab here so the
    // DuckDB oracle measures the identical totals with strlen and replays
    // the whole budget → rate → hash-threshold pipeline; trained-merge
    // budgeting is spec-pinned (SamplingSpec/CorpusPipelineSpec).
    "doc_mixture_budget" -> ((s, dir) => {
      Sampling.mixtureSampleByBudget(t(s, dir, "documents"),
        col("doc_id"), col("source"),
        Bpe.tokenCount(col("text"), BpeVocab.bytes).cast("long"),
        weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
        tokenBudget = 20000L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // temperature-scaled mixture (multilingual-sampling rule): per-source
    // weights ∝ sqrt(share) at T=2, budget-derived keep rates, the same
    // deterministic hash filter; T=2 keeps the whole weight derivation on
    // correctly-rounded ops (sqrt + IEEE mul/div) so the oracle replays
    // it bit-for-bit
    "doc_mixture_temperature" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("source").isin("src0", "src1", "src2"))
      val tok = Bpe.tokenCount(col("text"), BpeVocab.bytes).cast("long")
      val totals = Sampling.tokensBySource(docs, col("source"), tok)
      val weights = Sampling.temperatureWeights(totals, temperature = 2.0)
      val rates = Sampling.mixtureWeights(totals, weights, tokenBudget = 20000L)
      Sampling.mixtureSample(docs, col("doc_id"), col("source"), rates,
        defaultRate = 0.0)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // C4-style quality gate: length band + punctuation sanity + token-shape
    // sanity + digit-ratio cap, all map-side over the fused stats struct
    "doc_quality_filter" -> ((s, dir) => {
      // fused boolean gate in the filter (one stats pass); stats + langid
      // are re-projected only for the survivors — filtering on projected
      // struct fields would multi-evaluate the kernel per conjunct after
      // pushdown (see QualityGateExpr)
      val st = TextFunctions.textStats(col("text"))
      t(s, dir, "documents")
        .filter(CorpusPipeline.qualityGate(col("text"), 20, 20000, 0.2, 0.25,
          2.0, 12.0) && TextFunctions.langId(col("text")) =!= "und")
        .select(col("doc_id"), st.getField("n_tokens").cast("long").as("n_tokens"),
          TextFunctions.langId(col("text")).as("lang_id"))
        .orderBy(col("doc_id"))
    }),

    // backward as-of join: each click enriched with the user's latest view
    // at or before it — union + running-last window, one shuffle, no
    // range-pair expansion (inner-asof via the null filter)
    "asof_click_view" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
          col("value").as("view_value"))
      AsofJoin.asofBackward(clicks, views, Seq("user_id"), "ts", "ts",
          Seq("view_id", "view_value"))
        .filter(col("asof_view_id").isNotNull)
        .select(col("click_id"), col("user_id"),
          col("asof_view_id").as("view_id"),
          round(col("asof_view_value"), 2).as("view_value"))
        .orderBy(col("click_id"))
    }),

    // forward as-of with tolerance: next view at-or-after each click, but
    // only within 2 hours (DuckDB ASOF >= + interval filter is the oracle)
    "asof_forward_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
      AsofJoin.asofForward(clicks, views, Seq("user_id"), "ts", "ts",
          Seq("view_id"), tolerance = Some(expr("INTERVAL 2 HOURS")))
        .filter(col("asof_view_id").isNotNull)
        .select(col("click_id"), col("user_id"), col("asof_view_id").as("view_id"))
        .orderBy(col("click_id"))
    }),

    // nearest as-of: closer of the backward/forward matches, ties backward
    // (oracle: two DuckDB ASOF joins + interval-delta CASE)
    "asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
      AsofJoin.asofNearest(clicks, views, Seq("user_id"), "ts", "ts",
          Seq("view_id"))
        .filter(col("asof_view_id").isNotNull)
        .select(col("click_id"), col("user_id"), col("asof_view_id").as("view_id"))
        .orderBy(col("click_id"))
    }),

    // band/range join via window-sized bins: each error paired with the
    // same user's events in the preceding 30 minutes — equi-join on
    // (user, bin), exact interval filter on candidates, no BNLJ/cartesian
    "range_error_context" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          col("ts").as("error_ts"))
      val context = ev.select(col("user_id"), col("ts"),
        col("event_id").as("ctx_id"), col("event_type").as("ctx_type"))
      RangeJoin.precedingWindow(errors, context, Seq("user_id"),
          "error_ts", "ts", windowSec = 1800L)
        .select(col("error_id"), col("ctx_id"), col("ctx_type"))
        .orderBy(col("error_id"), col("ctx_id"))
    }),

    // per-source corpus audit (mixture reporting): one partial-agg pass
    "corpus_source_stats" -> ((s, dir) => {
      val st = TextFunctions.textStats(col("text"))
      t(s, dir, "documents")
        .select(col("source"), col("lang"),
          st.getField("n_tokens").cast("long").as("__tok"),
          st.getField("n_chars").cast("long").as("__chars"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("__tok")).as("n_tokens"),
          sum(col("__chars")).as("n_chars"),
          countDistinct(col("lang")).cast("long").as("n_langs"))
        .orderBy(col("source"))
    }),

    // balanced eval sets: deterministic top-N per language in md5-hash
    // order — partition-independent, reproducible stratified sampling
    "doc_sample_stratified" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(Sampling.hashKey(col("doc_id")), col("doc_id"))
      t(s, dir, "documents")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 10)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // the one-call corpus-preparation chain: quality gate → fingerprint
    // dedup → split → decontaminate → mixture (minhash stage off so the
    // whole composition stays exactly oracle-expressible)
    "corpus_prepare" -> ((s, dir) => {
      CorpusPipeline.prepare(t(s, dir, "documents"),
        CorpusPipeline.Config(
          nearDupThreshold = None,
          mixtureRates = Map("src0" -> 1.0, "src1" -> 0.5),
          defaultRate = 0.8))
        .select(col("doc_id"), col("split")).orderBy(col("doc_id"))
    }),

    // benchmark decontamination: drop train-split docs with near-dup n-gram
    // overlap (Jaccard >= 0.8) against the held-out test split — the
    // bipartite posting-list funnel, never train × test
    "doc_decontaminate" -> ((s, dir) => {
      // materialize the slim split corpus ONCE: the bipartite funnel reads
      // train/test from four plan branches (both gram explodes, the in-plan
      // df-cap id scans, the final anti-join), and without this each branch
      // re-runs scan + split-assign through FanOut's full-text exchange
      val withSplit = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("split",
          Sampling.assignSplit(col("doc_id"), Seq("test" -> 0.05, "val" -> 0.05)))
        .localCheckpoint()
      val train = withSplit.filter(col("split") === "train")
      val testDocs = withSplit.filter(col("split") === "test")
      val contaminated = NgramJaccard.bipartitePairs(train, testDocs, "doc_id",
          TextFunctions.wordNgramHashes(col("text"), 3), threshold = 0.8,
          maxDocFreq = 100L)
        .select(col("id_left").as("doc_id")).distinct()
      train.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // GPT-3-style EXACT-overlap decontamination (Brown et al. 2020 app. C):
    // a train doc sharing ANY 13-gram with a test doc is dropped — vs
    // doc_decontaminate's near-dup Jaccard threshold. Posting-list
    // semi-join on md5Hash60 13-gram hashes (8-byte keys shuffle, gram
    // strings never move); the oracle joins the same grams as strings.
    "doc_decontaminate_exact" -> ((s, dir) => {
      // same single materialization as doc_decontaminate: both gram explodes
      // and the anti-join otherwise re-derive the split from the raw scan
      val withSplit = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("split",
          Sampling.assignSplit(col("doc_id"), Seq("test" -> 0.05, "val" -> 0.05)))
        .localCheckpoint()
      val train = withSplit.filter(col("split") === "train")
      val testDocs = withSplit.filter(col("split") === "test")
      val contaminated = NgramJaccard.exactOverlapIds(train, testDocs, "doc_id",
        TextFunctions.wordNgramHashes60(col("text"), 13))
      train.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // SEMANTIC decontamination: a train doc whose EMBEDDING sits at cosine
    // >= 0.4 to any test doc is dropped — catches paraphrased/reformatted
    // test material that shares no n-gram with its source (the gap the two
    // lexical decontamination queries above can't see). Same deterministic
    // md5 split as doc_decontaminate; candidates from the bipartite
    // hyperplane-LSH bucket join (cross-side collisions only, no cartesian,
    // the frozen test side never self-pairs), exact cosine verify on
    // candidates, then one anti-join.
    "doc_decontaminate_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn("split",
          Sampling.assignSplit(col("vec_id"), Seq("test" -> 0.05, "val" -> 0.05)))
      val train = emb.filter(col("split") === "train")
      val testSet = emb.filter(col("split") === "test")
      VectorSimilarity.decontaminateByEmbedding(train, testSet,
          minCosine = 0.4, dim = 64)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),

    // PII scrubbing (redaction before tokenization): the corpus itself is
    // clean, so deterministic synthetic PII is appended per row — every
    // row exercises all four classes — then scrubbed; per-class counts
    // over the raw text. Map-side regexp chain, RE2-compatible patterns
    // so the oracle replays the scrub verbatim.
    "doc_pii_scrub" -> ((s, dir) => {
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10.0."),
        pmod(col("doc_id"), lit(200L)).cast("string"),
        lit(".77 ssn 987-65-4321 tel +1 (555) 123-4567"))
      fanOut(t(s, dir, "documents"))
        .select(col("doc_id"), TextFunctions.scrubPii(injected).as("scrubbed"),
          TextFunctions.piiCounts(injected).as("pii"))
        .select(col("doc_id"), col("scrubbed"), col("pii.n_email"),
          col("pii.n_ssn"), col("pii.n_ip"), col("pii.n_phone"))
        .orderBy(col("doc_id"))
    }),

    // context chunking for embedding/RAG prep: 32-token windows with
    // 8-token overlap, map-side explode — no shuffle before the sink
    "doc_chunks" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextFunctions.tokenChunks(col("text"), 32, 8))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // sequence packing: chunk the corpus, then lay the chunks out as 8
    // sharded token streams cut every 256 tokens (GPT-style
    // concatenate-and-split; a bin = one training sequence). Shard = md5
    // bucket, order = (doc, chunk) — deterministic and engine-portable,
    // so the oracle reproduces the exact bins
    "doc_pack_sequences" -> ((s, dir) => {
      val chunks = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextFunctions.tokenChunks(col("text"), 32, 8))
            .as(Seq("chunk_idx", "chunk")))
      Packing.packOffsets(chunks,
          tokens = size(split(col("chunk"), " ")),
          maxTokens = 256L,
          orderBy = Seq(col("doc_id"), col("chunk_idx")),
          shardKey = col("doc_id"), shards = 8)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("shard").cast("long").as("shard"), col("bin"),
          col("bin_offset").cast("long").as("bin_offset"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // BPE token budget (bytes vocabulary): the merge-table tokenizer's byte
    // foundation is oracle-checkable — zero merges means token count ==
    // UTF-8 length, which DuckDB computes as strlen. Trained-merge behavior
    // (compression, round-trip, known merge sequences) is pinned in BpeSpec.
    "text_bpe_count_base" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          Bpe.tokenCount(col("text"), BpeVocab.bytes).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // BPE-budgeted context chunking through the full encode -> window-slice
    // -> decode path. Restricted to single-byte (printable-ASCII) docs so
    // the DuckDB oracle can express the same windows with substr; multi-byte
    // and trained-merge chunking is spec-pinned (reconstruction-exact).
    "doc_chunks_bpe" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(col("text").rlike("^[ -~]*$") && length(col("text")) > 0)
        .select(col("doc_id"),
          posexplode(Bpe.tokenChunks(col("text"), BpeVocab.bytes, 32, 8))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // character-distribution entropy (gibberish / encoded-blob signal):
    // fused map-side pass — the composed explode → groupBy form would
    // shuffle |corpus chars| rows for a per-row-computable value
    "text_char_entropy" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(TextFunctions.charEntropy(col("text")), 4).as("entropy_bits"))
        .orderBy(col("doc_id"))
    }),

    // unigram-LM quality score: mean log2 token probability under the
    // corpus's own unigram distribution (CCNet-style perplexity proxy,
    // model-free) — bounded broadcast vocab, map-side scoring join
    "doc_unigram_logprob" -> ((s, dir) => {
      UnigramLm.score(t(s, dir, "documents"), "doc_id", col("text"))
        .orderBy(col("doc_id"))
    }),

    // exact-substring duplication (Lee et al. 2021, splice-free variant):
    // per-doc coverage by 8-token spans whose text occurs elsewhere in
    // the corpus (union of intervals, overlaps counted once) — posting
    // list on 8-byte span hashes, all-integer coverage math
    "doc_span_dup_stats" -> ((s, dir) => {
      SpanDedup.coverageStats(t(s, dir, "documents"), "doc_id", col("text"), k = 8)
        .orderBy(col("doc_id"))
    }),

    // the paper's actual edit: cleaned text with every duplicated span
    // occurrence removed except the corpus-wide first, word-aligned
    "doc_span_splice" -> ((s, dir) => {
      SpanDedup.spliceDuplicates(t(s, dir, "documents"), "doc_id", col("text"), k = 8)
        .orderBy(col("doc_id"))
    }),

    // the document-level gate on that coverage: drop docs that are
    // mostly (>= 50%) duplicated-span text
    "doc_span_dedup" -> ((s, dir) => {
      SpanDedup.dropHighOverlap(t(s, dir, "documents"), "doc_id", col("text"),
        k = 8, maxFrac = 0.5)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // DSIR importance score (Xie et al. 2023): how target-like each
    // document's hashed-unigram distribution is (target = lang 'en'),
    // log2 ratio of Laplace-smoothed 4096-bucket histograms — bounded
    // estimator state at any corpus size, two map-side passes
    "doc_dsir_weight" -> ((s, dir) => {
      Dsir.score(t(s, dir, "documents"), "doc_id", col("text"),
        col("lang") === "en")
        .orderBy(col("doc_id"))
    }),

    // DSIR selection: deterministic Gumbel-top-k resampling over the
    // importance score — samples w/o replacement ∝ exp(score), with an
    // md5-derived (engine-portable) Gumbel variate instead of rand()
    "doc_dsir_sample" -> ((s, dir) => {
      Dsir.resample(t(s, dir, "documents"), "doc_id", col("text"),
        col("lang") === "en", k = 200)
        .orderBy(col("doc_id"))
    }),

    // interpolated bigram LM score: order-sensitive perplexity proxy
    // (a bag-of-words shuffle keeps its unigram score but collapses
    // here) — two bounded top-64k tables, bigrams from an array-level
    // self-zip, no window shuffle
    "doc_bigram_logprob" -> ((s, dir) => {
      UnigramLm.scoreBigram(t(s, dir, "documents"), "doc_id", col("text"))
        .orderBy(col("doc_id"))
    }),

    // CCNet-style quality tiers: equal-count head/middle/tail thirds of
    // the corpus by unigram-LM score (ntile over the ROUNDED score +
    // doc_id — deterministic, engine-independent ordering)
    "doc_ppl_buckets" -> ((s, dir) => {
      UnigramLm.buckets(t(s, dir, "documents"), "doc_id", col("text"))
        .orderBy(col("doc_id"))
    }),

    // line-level boilerplate removal (CCNet/RefinedWeb line dedup). The
    // synthetic docs carry no newlines, so the query deterministically
    // re-lines them first (literal ' the ' -> \n, identical in both
    // engines) to exercise the operator's full funnel non-degenerately —
    // 8 hot lines strip at sf0.01 with df cap 2; LineDedupSpec pins the
    // operator on genuinely multi-line fixtures
    "doc_strip_boilerplate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), regexp_replace(col("text"), " the ", "\n").as("text"))
      LineDedup.stripBoilerplate(docs, "doc_id", col("text"), maxDocFreq = 2L)
        .orderBy(col("doc_id"))
    }),

    // corpus token histogram (vocabulary building): explode + partial-agg
    // count, top 100 with total tie-order; split on the pinned whitespace
    // class (RE2 \s — no \x0B) so the oracle's regexp_split_to_array
    // replays the tokenization exactly
    "text_token_histogram" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(trim(lower(col("text"))), "[ \\t\\n\\f\\r]+")).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("n").desc, col("token")).limit(100)
    }),

    // Misra–Gries heavy hitters with exact recount — the scale path for
    // "tokens with frequency > N/k" over corpora whose full histogram can't
    // shuffle (SURVEY §2.5 vocabulary-build class). Bounded map-side
    // summaries merge to ≤capacity candidates (a guaranteed superset of
    // every token with freq > N/capacity); the candidates are broadcast
    // back for an exact recount, so the MG *estimate* never reaches the
    // output and plain GROUP BY/HAVING oracles the result. capacity=30 is
    // deliberately below the corpus vocabulary so the decrement path runs.
    "text_heavy_hitters" -> ((s, dir) => {
      val cap = 30
      val toks = t(s, dir, "documents")
        .select(explode(split(trim(lower(col("text"))), "[ \\t\\n\\f\\r]+")).as("token"))
        .filter(col("token") =!= "")
      val summary = toks.agg(
        TextFunctions.misraGries(col("token"), cap).as("mg"),
        count(lit(1)).as("n_total"))
      val cands = summary
        .select(explode(col("mg")).as("e"), col("n_total"))
        .select(col("e.token").as("token"), col("n_total"))
      toks.join(broadcast(cands), Seq("token"))
        .groupBy(col("token"), col("n_total"))
        .agg(count(lit(1)).cast("long").as("n"))
        .filter(col("n") > col("n_total") / lit(cap.toDouble))
        .select(col("token"), col("n"))
        .orderBy(col("n").desc, col("token"))
    }),

    // TF-IDF topic profile: top-3 terms per document, idf = ln(N/df) —
    // the standard cluster-labeling / mixture-audit feature. Term-keyed df
    // join (vocabulary never broadcasts), 1-row corpus scalar, one window.
    "text_tfidf_topterms" -> ((s, dir) => {
      Retrieval.tfidfTopTerms(t(s, dir, "documents"), "doc_id", col("text"), k = 3)
        .orderBy(col("doc_id"), col("score").desc, col("term"))
    }),

    // BM25 retrieval for a fixed query-term bag — the ranking half of
    // retrieval-style decontamination. The explode stream is filtered to
    // the query terms BEFORE any shuffle: per-query cost ∝ postings, not
    // corpus size; doc length is the fused map-side token counter.
    "text_bm25_search" -> ((s, dir) => {
      Retrieval.bm25Rank(t(s, dir, "documents"), "doc_id", col("text"),
        queryTerms = Seq("data", "model", "training"), topK = 20)
    }),

    // distribution drift between two corpus snapshots (PSI, Laplace-smoothed
    // buckets): the "did the distribution move" audit next to corpus_diff's
    // row-level "which rows changed". Each side collapses to ≤K bucket
    // counts map-side before the sides meet — O(K) join/window regardless
    // of corpus size. Even/odd doc_id plays the two snapshots.
    "corpus_drift_psi" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("doc_id") % 2 === 0)
      val cur = docs.filter(col("doc_id") % 2 =!= 0)
      val edges = Seq(100.0, 250.0, 500.0, 1000.0, 2000.0, 4000.0)
      val num = Drift.psiNumeric(ref, cur, col("n_chars"), edges)
        .select(lit("n_chars").as("feature"), col("bucket").cast("string").as("bucket"),
          col("ref_n"), col("cur_n"), col("psi_term"), col("psi_total"))
      val cat = Drift.psiCategorical(ref, cur, col("lang"))
        .select(lit("lang").as("feature"), col("bucket"),
          col("ref_n"), col("cur_n"), col("psi_term"), col("psi_total"))
      num.unionByName(cat).orderBy(col("feature"), col("bucket"))
    }),

    // retrieval evaluation harness: MRR / precision@10 / binary NDCG@10 of
    // the BM25 ranking against a deterministic gold set (docs containing
    // ALL query terms) — one broadcast join + two 1-row aggs, ideal-DCG
    // series computed in-plan from |gold|
    "retrieval_eval_metrics" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val terms = Seq("data", "model", "training")
      val ranked = Retrieval.bm25Rank(docs, "doc_id", col("text"), terms, topK = 20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      // gold relevance: strongly-topical docs (≥5 query-term occurrences —
      // the fixture's vocabulary never co-occurs all three terms, so a
      // distinct-term gold would be empty; 33 docs qualify at sf0.01)
      val gold = docs
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "[ \\t\\n\\f\\r]+")).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("nh"))
        .filter(col("nh") >= 5).select(col("doc_id"))
      Retrieval.evalMetrics(ranked, gold, "doc_id", "rank", k = 10)
    }),

    // index-once/query-many retrieval: the SAME ranking as text_bm25_search
    // but answered from the materialized inverted index (postings +
    // lengths + scalars) — the corpus text is never re-tokenized at query
    // time; hash-checked against the same oracle as the scan-time path
    "text_index_search" -> ((s, dir) => {
      val idx = Retrieval.buildIndex(t(s, dir, "documents"), "doc_id", col("text"))
      Retrieval.bm25FromIndex(idx, "doc_id", Seq("data", "model", "training"), topK = 20)
    }),

    // hybrid retrieval: BM25 lexical shortlist + embedding-cosine semantic
    // shortlist (query = vector 0, the embedding twin of the term bag),
    // fused by reciprocal rank — no score calibration across modalities.
    // Both shortlists are top-50 (bounded), so fusion cost is independent
    // of corpus size; the corpus-scale work is inside the two retrievers.
    "retrieval_rrf_fusion" -> ((s, dir) => {
      val lex = Retrieval.bm25Rank(t(s, dir, "documents"), "doc_id", col("text"),
        queryTerms = Seq("data", "model", "training"), topK = 50)
      val emb = t(s, dir, "embeddings")
      // the query vector as a GLOBAL AGGREGATE (not a filtered scan): the
      // broadcast side is ≤1 row BY CONSTRUCTION, which is what the plan
      // posture sweep's scalar-attach exemption requires
      val qv = emb.filter(col("vec_id") === 0).agg(min(col("embedding")).as("__qv"))
      val sem = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv)) // 1-row query-vector broadcast
        .select(col("vec_id").as("doc_id"),
          (round(VectorSimilarity.cosine(col("embedding"), col("__qv")), 6) + lit(0.0)).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(50)
      Retrieval.rrfFuse(Seq(lex, sem), "doc_id", "score", k0 = 60, topK = 20)
    }),

    // fixed-iteration PageRank over the order graph (customer↔supplier,
    // both directions so no vertex dangles structurally) — the link-graph
    // importance signal of web-corpus curation. Per iteration: one shuffle
    // join + one agg; degree-weighted edges persist once. Ordering is on
    // the ROUNDED rank so both engines break the top-100 boundary on the
    // same total order.
    "graph_pagerank" -> ((s, dir) => {
      // vertex ids are packed LONGS (customer = 2k, supplier = 2k+1): an
      // 8-byte key shuffles and joins ~2.5× faster than a prefixed string
      // (measured on this graph); the display label is computed on the 100
      // output rows only, after the limit
      val pairs = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("p"))
        .distinct()
      // both directions in ONE pass over pairs (explode of a 2-element
      // array) — a self-union would evaluate the join+distinct twice
      val edges = pairs.select(explode(array(
          struct(col("c").as("src"), col("p").as("dst")),
          struct(col("p").as("src"), col("c").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val disp = when(col("v") % 2 === 0, concat(lit("c"), (col("v") / 2).cast("long")))
        .otherwise(concat(lit("s"), ((col("v") - 1) / 2).cast("long")))
      PageRank.run(edges, "src", "dst", iterations = 3)
        .select(col("v"), (round(col("rank"), 4) + lit(0.0)).as("rank"))
        .orderBy(col("rank").desc, col("v"))
        .limit(100)
        .select(disp.as("v"), col("rank"))
    }),

    // per-label embedding centroids (class prototypes / mean-pooling) via
    // the mergeable vector-mean aggregate: state = ONE dim-length buffer
    // per label, map-side partials — the posexplode row×dimension shuffle
    // never exists. Oracle replays it positionally. The centroid leaves
    // the query as a formatted-string scalar ("%.4f" per dimension,
    // comma-joined): array-typed result columns are unsortable/unhashable
    // in the comparison harness, and the string pins every dimension's
    // rounded value just as strongly.
    "vec_label_centroids" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .groupBy(col("label").cast("long").as("label"))
        .agg(VectorSimilarity.vectorMean(col("embedding")).as("c"),
          count(lit(1)).as("n"))
        .select(col("label"),
          concat_ws(",", transform(col("c"),
            x => format_string("%.4f", round(x, 4) + lit(0.0)))).as("centroid"),
          col("n"))
        .orderBy(col("label"))
    }),

    // declarative data-quality audit (Deequ-shape, Schelter 2018): N
    // expectations = ONE scan + ONE 1-row aggregation, no per-expectation
    // job. The lang_en_frac expectation deliberately fails (0.436 < 0.5)
    // so the pass=false path is oracle-exercised too.
    "corpus_expectations" -> ((s, dir) => {
      Expectations.audit(t(s, dir, "documents"), Seq(
        Expectations.completeness("text"),
        Expectations.uniqueness("doc_id"),
        Expectations.inRange("n_chars", 20, 10000, atLeast = 0.99),
        Expectations.satisfies("lang_en_frac", "lang", col("lang") === "en",
          atLeast = 0.5)))
        .orderBy(col("metric"))
    }),

    // brute-force cosine top-k (exact ANN baseline)
    "knn_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VectorSimilarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // scalar-quantized (int8) ANN by inner product — the 4×-compression
    // quantization tier below PQ's 32×. Unlike IVF/LSH/PQ this path is
    // deterministic arithmetic end to end (calibrate → encode → decode →
    // dot → rank), so it is the ONE quantized-ANN family member with a
    // full hash-matching oracle: DuckDB replays the quantization loss
    // exactly, not just within a recall bound.
    "ann_sq8_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VectorSimilarity.sq8TopK(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy(col("query_id"), col("rnk"))
    }),

    // IVF-bucketed approximate top-k (scale path; rows-only check).
    // nprobe=32 of 64 cells: the synthetic embeddings are near-uniform, so
    // recall tracks the probed fraction almost linearly (0.40 at nprobe=4,
    // 0.94 at 32, measured sf0.1) — a real clustered corpus reaches the
    // same recall at a far smaller fraction; the per-round bench log
    // records recall@5 at exactly these settings
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VectorSimilarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        nprobe = 32, maxCentroids = 64)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // random-hyperplane LSH approximate top-k (rows-only check)
    "ann_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VectorSimilarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        nbits = 4, dim = 64, tables = 16)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // product-quantized approximate top-k (rows-only check, like IVF/LSH):
    // 256 B vectors → 8 B codes (the memory-scale ANN path), ADC-scored
    // against the query batch, exact-re-ranked within the shortlist.
    // Recall floor lives in AnnRecallSpec; Bench logs it per round.
    "ann_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding").cast("array<float>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val model = ProductQuantization.train(emb, "vec_id", "embedding", dim = 64)
      ProductQuantization.topK(emb, queries, k = 5, model, "vec_id", "embedding")
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // exhaustive-probe IVF-PQ: with nprobe = ALL cells and the re-rank
    // shortlist unbounded, the approximate path degenerates to exact top-k
    // BY CONSTRUCTION — the whole routing/encode/ADC/re-rank plumbing runs
    // end-to-end against the same hash-matching oracle as knn_cosine_topk
    // (the approximate contracts stay covered by the rows-only ann_*
    // queries and the AnnRecallSpec floors)
    "ann_ivfpq_exhaustive" -> ((s, dir) => {
      // the 10 query vectors come off the un-repartitioned scan (a pruned
      // single-partition read); fanOut floors parallelism only for the
      // corpus frame the train/encode/ADC kernels sweep (r18 advice: the
      // old placement paid a full round-robin shuffle just to collect 10
      // rows)
      val qArr = t(s, dir, "embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding").cast("array<float>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      val emb = fanOut(t(s, dir, "embeddings"))
      val model = ProductQuantization.train(emb, "vec_id", "embedding", dim = 64)
      val coarse = VectorSimilarity.trainCoarseCodebook(emb, maxCentroids = 64)
      ProductQuantization.ivfPqTopK(emb, qArr, k = 5, model, coarse,
        nprobe = coarse.length, idCol = "vec_id", vecCol = "embedding",
        shortlist = Int.MaxValue)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // exhaustive-probe IVF: nprobe = EVERY cell, so each query meets each
    // corpus vector exactly once (single-assign cells partition the
    // corpus) and the routing/cell-join/rank plumbing degenerates to exact
    // top-k by construction — hash-matched against the same exact-kNN
    // oracle as knn_cosine_topk, pinning the full IVF candidate path
    // while the production-setting ann_ivf_topk stays
    // approximate-by-contract (recall floor in AnnRecallSpec + bench log)
    "ann_ivf_exhaustive" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VectorSimilarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        nprobe = 64, maxCentroids = 64)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // exhaustive-probe LSH: multiprobe at the full Hamming radius probes
    // every bucket of every table, so the banded join sees all
    // (query, corpus) pairs and the funnel is exact by construction —
    // pinning the hyperplane-banding/equi-join/dedup/rank plumbing with a
    // hash oracle (two tables so the cross-table dropDuplicates is
    // exercised, not just one table's trivial path)
    "ann_lsh_exhaustive" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VectorSimilarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        nbits = 4, dim = 64, tables = 2, probeHamming = 4)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("query_id"), col("rnk"))
    }),

    // exact cosine threshold self-join (embedding near-dup detection)
    "vec_threshold_join" -> ((s, dir) => {
      VectorSimilarity.thresholdJoin(
        t(s, dir, "embeddings").filter(col("vec_id") < 500), minCosine = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // LSH-prefiltered threshold join: same exact answer as the cartesian
    // form (miss probability ~9e-8 per qualifying pair at these params), but
    // candidates come from a bucket equi-join — the 100 TB path; shares
    // vec_threshold_join's exact-join oracle
    "vec_threshold_lsh" -> ((s, dir) => {
      VectorSimilarity.thresholdJoinLsh(
        t(s, dir, "embeddings").filter(col("vec_id") < 500), minCosine = 0.4,
        dim = 64)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // embedding-cosine near-dup dedup: keep-first survivors after dropping
    // every vector with a >= 0.4-cosine neighbor of smaller id; candidates
    // from the LSH bucket join (miss prob ~9e-8/pair), exact-verified —
    // shares the exact self-join oracle. Same 500-vector slice as
    // vec_threshold_lsh: 0.4 is a LOW threshold (p^nbits = 0.4 per table),
    // so exactness-grade LSH needs wide buckets — at dedup-typical
    // thresholds (>= 0.9) the buckets sharpen and the same operator runs
    // corpus-scale (see thresholdJoinLsh recall math)
    "dedup_embedding" -> ((s, dir) => {
      VectorSimilarity.dedupByEmbedding(
        t(s, dir, "embeddings").filter(col("vec_id") < 500),
        minCosine = 0.4, dim = 64)
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    // SemDeDup semantic dedup (Abbas et al. 2023): nearest-seed clusters
    // (k deterministic md5-sampled seed documents, broadcast argmax),
    // then within-cluster drop of anything with an earlier-ranked
    // (more-atypical) neighbor at cosine >= 0.35 — cluster-local exact
    // pairs instead of corpus-quadratic; full funnel replayed by DuckDB
    "dedup_semantic" -> ((s, dir) => {
      // window = 256 opts into the O(n·window) block-banded scale bound
      // (the API default is the unwindowed paper form); the oracle replays
      // the same window
      VectorSimilarity.semDedup(t(s, dir, "embeddings"), k = 16, minCosine = 0.35,
          window = 256)
        .select(col("vec_id"), col("cluster_id"))
        .orderBy(col("vec_id"))
    }),

    // semantic clustering as corpus ANALYSIS: profile each embedding
    // cluster against document metadata (size, language mix, length) —
    // the topic-browse view a curation team reads before deciding
    // mixture weights; one broadcast argmax + one equi-join + one agg
    "corpus_cluster_profile" -> ((s, dir) => {
      val clusters = VectorSimilarity
        .semanticClusters(t(s, dir, "embeddings"), k = 16)
        .select(col("vec_id").as("doc_id"), col("cluster_id"))
      t(s, dir, "documents").join(clusters, "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang") === "en", lit(1L)).otherwise(lit(0L))).as("n_en"),
          round(avg(col("n_chars")), 2).as("avg_chars"))
        .orderBy(col("cluster_id"))
    }),

    // multimodal: opaque binary payload + typed metadata plumbing —
    // metadata-only reads stay decode-free (length() is a built-in; no
    // mapPartitions stage for Catalyst to be blind to)
    "mm_media_meta" -> ((s, dir) => {
      val media = Multimodal.synthesizeMedia(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.payloadMeta(media)
        .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"))
        .orderBy(col("media_id"))
    }),

    // multimodal: REAL javax.imageio decode — synthesized grayscale PNGs
    // (geometry + pixels derive arithmetically from doc_id, PNG is
    // lossless) flow through the partition-mapped decode stage; the oracle
    // replays every decoded statistic from doc_id alone
    "mm_media_features" -> ((s, dir) => {
      val media = Multimodal.synthesizeImages(t(s, dir, "documents"), "doc_id")
      Multimodal.imageFeatures(media)
        .select(col("media_id"), col("width"), col("height"), col("channels"),
          round(col("px_mean"), 4).as("px_mean"), col("px_min"), col("px_max"))
        .orderBy(col("media_id"))
    }),

    // multimodal: REAL javax.sound.sampled decode — synthesized RIFF/WAVE
    // PCM16 fixtures (sample count + values derive arithmetically from
    // doc_id, PCM is lossless) flow through the partition-mapped audio
    // decode stage; the oracle replays every decoded statistic from doc_id
    "mm_audio_features" -> ((s, dir) => {
      val media = Multimodal.synthesizeAudio(t(s, dir, "documents"), "doc_id")
      Multimodal.audioFeatures(media)
        .select(col("media_id"), col("n_bytes"), col("sample_rate"),
          col("channels"), col("n_samples"), col("duration_ms"),
          round(col("rms"), 4).as("rms"), col("peak"), col("zero_crossings"))
        .orderBy(col("media_id"))
    }),

    // HTML → visible text: the corpus is plain text, so each doc is
    // wrapped in deterministic markup (script/style/comment blocks, tags,
    // entities, conditional anchor — inject SQL shared VERBATIM with the
    // oracle) and stripped back; outlink count comes off the raw markup.
    // Map-side regexp chain, no shuffle before the sink.
    "doc_html_strip" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("html", expr(htmlInjectSql))
        .select(col("doc_id"),
          HtmlStrip.stripHtml(col("html")).as("clean"),
          HtmlStrip.linkCount(col("html")).as("n_links"))
        .orderBy(col("doc_id"))
    }),

    // incremental-ingest dedup with a Bloom prefilter: the standing corpus
    // (80% of docs by the doc_id%5 split) is summarized into a Bloom
    // filter over normalized-text fingerprints; incoming docs (the other
    // 20%) probe its broadcast map-side, and only might-contain candidates
    // enter the exact anti-join — the result is bit-identical to the plain
    // anti-join (the filter only removes work), so the oracle replays it as
    // NOT EXISTS. The filter's no-false-negative / fpp contracts are pinned
    // in BloomDedupSpec.
    "dedup_incremental_bloom" -> ((s, dir) => {
      val fp = t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.md5Hash60(TextFunctions.normalized(col("text"))).as("fp"))
      val corpus = fp.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
      val incoming = fp.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      val filter = BloomDedup.buildLong(corpus, col("fp"),
        expectedItems = math.max(corpus.count(), 1L), fpp = 0.01)
      BloomDedup.newKeysExact(incoming, corpus, "fp",
        BloomDedup.broadcastFilter(s, filter))
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"))
    }),

    // URL canonicalization (RefinedWeb provenance step): the corpus carries
    // no URLs, so a deterministic synthetic URL per doc — engine-portable
    // CASE/concat SQL shared VERBATIM with the oracle — exercises every
    // normalization arm: case-folding, www/default-port stripping,
    // duplicate-slash collapse, trailing slash, kept :8080, tracking
    // params, fragments. Map-side codegen chain, no shuffle before the sink.
    "doc_url_normalize" -> ((s, dir) => {
      val u = col("url")
      t(s, dir, "documents")
        .withColumn("url", expr(urlInjectSql))
        .select(col("doc_id"),
          UrlFunctions.normalizeUrl(u).as("url_norm"),
          UrlFunctions.urlHost(u).as("host"),
          UrlFunctions.urlTld(UrlFunctions.urlHost(u)).as("tld"),
          UrlFunctions.pathDepth(u).as("path_depth"),
          UrlFunctions.trackingParamCount(u).as("n_tracking"))
        .orderBy(col("doc_id"))
    }),

    // host-level corpus analytics + blocklist gate: docs and distinct
    // canonical URLs per registered host (the URL-level dedup count), and
    // the block flag a crawl filter applies — one bounded agg over
    // |hosts| rows
    "doc_url_host_stats" -> ((s, dir) => {
      val u = col("url")
      t(s, dir, "documents")
        .withColumn("url", expr(urlInjectSql))
        .select(UrlFunctions.normalizeUrl(u).as("url_norm"),
          UrlFunctions.urlHost(u).as("host"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url_norm")).as("n_urls"))
        .withColumn("blocked",
          when(col("host").isin(urlBlocklist: _*), lit(1L)).otherwise(lit(0L)))
        .orderBy(col("host"))
    }),

    // Multi-column data layout (OPTIMIZE ZORDER BY analog): scale the two
    // hottest filter columns onto a 2^16 grid (exact integer min-max, the
    // bounds attach via the scalar-broadcast idiom), Morton-interleave,
    // then bucket by the key's top 6 bits — the deterministic stand-in for
    // repartitionByRange(zkey) (whose sampled boundaries aren't
    // replayable). The per-bucket bounding box over BOTH dimensions is the
    // point: under z-order every bucket sits inside an aligned 2^13-wide
    // tile per dimension, so a 100 TB table laid out this way min/max-
    // prunes on either column. The aggregate pins every row's full
    // interleave (count + min/max/sum of the key + the bbox).
    "layout_zorder" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
      val bounds = li.agg(
          min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
          min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
        .select(col("pmin"), greatest(col("pmax") - col("pmin"), lit(1L)).as("pspan"),
          col("smin"), greatest(col("smax") - col("smin"), lit(1L)).as("sspan"))
      li.crossJoin(broadcast(bounds))
        .withColumn("zx", expr(Layout.scaledSql("l_partkey", "pmin", "pspan", 16, duck = false)))
        .withColumn("zy", expr(Layout.scaledSql("l_suppkey", "smin", "sspan", 16, duck = false)))
        .withColumn("zkey", Layout.zOrderKey(16, col("zx"), col("zy")))
        .withColumn("bucket", shiftright(col("zkey"), 26))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("zkey").as("z_min"), max("zkey").as("z_max"), sum("zkey").as("z_sum"),
          min("zx").as("x_min"), max("zx").as("x_max"),
          min("zy").as("y_min"), max("zy").as("y_max"))
        .orderBy("bucket")
    }),

    // Hilbert variant of the layout key — unit-step curve, tighter blobs
    // than Morton for range scans; the fused per-row walk runs inside
    // whole-stage codegen, and the oracle replays it with a recursive CTE
    // generated from the same algorithm
    "layout_hilbert" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
      val bounds = li.agg(
          min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
          min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
        .select(col("pmin"), greatest(col("pmax") - col("pmin"), lit(1L)).as("pspan"),
          col("smin"), greatest(col("smax") - col("smin"), lit(1L)).as("sspan"))
      li.crossJoin(broadcast(bounds))
        .withColumn("zx", expr(Layout.scaledSql("l_partkey", "pmin", "pspan", 16, duck = false)))
        .withColumn("zy", expr(Layout.scaledSql("l_suppkey", "smin", "sspan", 16, duck = false)))
        .withColumn("hkey", Layout.hilbertKey(16, col("zx"), col("zy")))
        .withColumn("bucket", shiftright(col("hkey"), 26))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("hkey").as("h_min"), max("hkey").as("h_max"), sum("hkey").as("h_sum"),
          min("zx").as("x_min"), max("zx").as("x_max"),
          min("zy").as("y_min"), max("zy").as("y_max"))
        .orderBy("bucket")
    }),

    // the composed file-skipping path e2e: lineitem written under the
    // Morton layout, a range predicate on the SECOND curve dimension
    // routed through bucket routing + parquet-footer min/max, scanning
    // only surviving files. Pruning is lossless by construction (the
    // require below additionally proves files were SKIPPED, not just
    // selected), so the oracle replays the plain filtered aggregate.
    "layout_pruned_scan" -> ((s, dir) => {
      // the layout fixture is written ONCE per JVM and sf dir (the curve
      // write is the fixture, the pruned READ is the operator under test);
      // per-invocation temp dirs would leak a lineitem-sized parquet copy
      // every bench repeat and bill the write into the read's clock
      val (out, bounds) = layoutScanFixture(s, dir)
      val (scanned, stats) = Layout.prunedRangeScan2d(s, out, bounds,
        bits = 16, prefixBits = 6, "l_partkey", "l_suppkey",
        dim = 1, lo = 5L, hi = 20L)
      require(stats.filesAfterFooters < stats.filesTotal,
        s"pruned scan must skip files, got $stats")
      scanned.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_orderkey")).cast("long").as("sum_ok"))
        .orderBy(col("l_suppkey"))
    }),

    // salted skew join: events (user_id is the skewed fact key) against a
    // per-user dimension built as an aggregate — the salt is INVISIBLE in
    // the result (it only spreads hot keys over `factor` tasks), so the
    // oracle replays the plain join + aggregation
    "q_skew_salted_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val userDim = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(avg(col("value")), 4).as("avg_value"))
      SkewJoin.saltedJoin(
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("value")),
        userDim, key = "user_id", rowId = "event_id", factor = 8)
        .select(col("event_id"), col("user_id"),
          round(col("value"), 4).as("value"), col("n_events"), col("avg_value"))
        .orderBy(col("event_id"))
    }),

    // the WEB-corpus composition: raw crawl payloads (markup-wrapped text +
    // synthetic URLs, both inject SQLs shared verbatim) through
    // strip → NFC → blocklist → canonical-URL dedup → quality gate →
    // fingerprint dedup → split, one prepare() call — the oracle replays
    // every stage
    "corpus_prepare_web" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text", expr(htmlInjectSql))
        .withColumn("url", expr(urlInjectSql))
      CorpusPipeline.prepare(docs, CorpusPipeline.Config(
        stripHtml = true, nfcNormalize = true,
        urlCol = Some("url"), blockedHosts = urlBlocklist,
        nearDupThreshold = None, decontamThreshold = None))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // day-2 incremental composition, one call: the new batch (doc_id%5==0)
    // runs the in-batch prepare chain (gates, fingerprint dedup, splits),
    // then EXACT Bloom-prefiltered dedup against the standing corpus
    // (doc_id%5!=0), then the bipartite near-dup funnel against it. Both
    // against-corpus stages are exact-or-verified, so the whole composition
    // replays in SQL; the audit frame's contract is pinned in
    // CorpusPipelineSpec.
    "corpus_prepare_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val standing = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
      val incoming = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      val (accepted, _, release) = CorpusPipeline.prepareIncrementalManaged(
        incoming, standing,
        CorpusPipeline.Config(nearDupThreshold = None, decontamThreshold = None))
      val out =
        try graft.core.Checkpoints.localize(
          accepted.select(col("doc_id"), col("split")))
        finally release()
      out.orderBy(col("doc_id"))
    }),

    // streaming-ingest LIFECYCLE, content-checked like schema_evolution/m2:
    // two micro-batches through CorpusIngestSink against a fresh target —
    // batch 1 seeds the corpus through the full prepare chain, batch 2 is
    // gated against WHAT BATCH 1 WROTE (exact Bloom+sliver, then the
    // bipartite near-dup funnel) — and the final corpus CONTENT is emitted.
    // DuckDB replays both rounds (prepare CTEs per batch, md5-fingerprint
    // exact dedup, exact bipartite jaccard), so the sink's grow-and-gate
    // semantics are oracle-checked end to end, not just spec-pinned.
    "ingest_lifecycle" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cfg = CorpusPipeline.Config(
        nearDupThreshold = None, decontamThreshold = None)
      val b1 = docs.filter(pmod(col("doc_id"), lit(3L)) === 0L)
      val b2 = docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0L)
      withTempCorpus(s, "graft_ingest_q") { tmp =>
        graft.streaming.CorpusIngestSink.processBatch(s, tmp, b1, cfg)
        graft.streaming.CorpusIngestSink.processBatch(s, tmp, b2, cfg)
      }
    }),

    // the FROZEN ingest gate, oracle-checked: same two batches as
    // ingest_lifecycle but through CorpusIngestSink.FrozenGate with
    // refreshEvery=2 — ONE freeze (of the day-0 empty corpus) covers both
    // batches, so batch 2's gating rides entirely on the admitted-DELTA
    // state (keys + signatures folded in at admission). Frozen + delta IS
    // the corpus, so the final content must equal per-batch gating —
    // checked against the SAME DuckDB replay, which knows nothing about
    // cadences. The scan-count and crash-restart halves of the contract
    // are spec-pinned (FrozenGateSpec, StreamingRestartE2eSpec).
    "ingest_frozen_lifecycle" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cfg = CorpusPipeline.Config(
        nearDupThreshold = None, decontamThreshold = None)
      val b1 = docs.filter(pmod(col("doc_id"), lit(3L)) === 0L)
      val b2 = docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0L)
      withTempCorpus(s, "graft_ingest_fq") { tmp =>
        val gate = new graft.streaming.CorpusIngestSink.FrozenGate(
          tmp, cfg, refreshEvery = 2)
        try { gate.processBatch(b1); gate.processBatch(b2) }
        finally gate.close()
      }
    }),

    // the PRUNED-PROBE side-file path, oracle-checked: same two batches,
    // with batch 1 pre-seeded through the per-batch sink so the gate's one
    // freeze sees a NON-empty corpus, and sideFileMinRows=0 forcing that
    // freeze to write the prefix-partitioned keys / sigs side files —
    // batch 2 then gates through the pruned probes: driver-collected
    // bloom-positive keys and candidate ids pushed as partition + In
    // filters into the side scans (CorpusPipeline.FrozenCorpus); bucket
    // probes join the cached banded frame. Admissions are cadence- and
    // path-invariant by contract, so the SAME DuckDB replay must
    // hash-match; a pruning bug that dropped or re-admitted anything
    // would mismatch here. Geometry deliberately minimal for a fixture
    // that pays unamortized side-file costs on a tiny corpus: one-batch
    // refresh window (the signature is CorpusPipeline.GateGeometry's).
    "ingest_frozen_sidefiles" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cfg = CorpusPipeline.Config(
        nearDupThreshold = None, decontamThreshold = None)
      val b1 = docs.filter(pmod(col("doc_id"), lit(3L)) === 0L)
      val b2 = docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0L)
      withTempCorpus(s, "graft_ingest_sf") { tmp =>
        graft.streaming.CorpusIngestSink.processBatch(s, tmp, b1, cfg)
        val gate = new graft.streaming.CorpusIngestSink.FrozenGate(
          tmp, cfg, refreshEvery = 1, sideFileMinRows = 0L)
        try gate.processBatch(b2)
        finally gate.close()
      }
    }),

    // EXTERNAL-WRITER detection, oracle-checked: batch 1 seeds the corpus
    // through the frozen gate (refreshEvery=3 — absent interference ONE
    // freeze would cover everything), then a co-writer appends raw rows
    // (doc_id%3==1, unprepared, split='train') directly to the target
    // BETWEEN batches. The gate must detect the listing change and
    // re-freeze (its one external-writer behaviour), so batch 2
    // (doc_id%3==2) gates against batch 1's survivors ∪ the co-written
    // rows. DuckDB replays exactly that corpus; under the r15 blind spot
    // (no listing check) the co-writer's exact/near duplicates in batch 2
    // would be re-admitted and the content hash would mismatch — the
    // detection is what the oracle checks, not just the spec.
    "ingest_external_writer" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cfg = CorpusPipeline.Config(
        nearDupThreshold = None, decontamThreshold = None)
      val b1 = docs.filter(pmod(col("doc_id"), lit(3L)) === 0L)
      val ext = docs.filter(pmod(col("doc_id"), lit(3L)) === 1L)
        .withColumn("split", lit("train"))
      val b2 = docs.filter(pmod(col("doc_id"), lit(3L)) === 2L)
      withTempCorpus(s, "graft_ingest_xw") { tmp =>
        val gate = new graft.streaming.CorpusIngestSink.FrozenGate(
          tmp, cfg, refreshEvery = 3)
        try {
          gate.processBatch(b1)
          ext.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(tmp)
          gate.processBatch(b2)
        } finally gate.close()
      }
    }),

    // the SEMANTIC arm of the ingest gate: day-2 batch (doc_id%5==0)
    // through in-batch prepare + exact against-corpus dedup, then drop
    // every survivor whose EMBEDDING has cosine >= 0.4 against any
    // standing-corpus embedding — the paraphrase gate the lexical funnel
    // can't see. The engine runs the LSH-prefiltered threshold join
    // (bipartiteThresholdLsh, miss prob ~9e-8/pair — the vec_threshold_lsh
    // device); the oracle replays the EXACT cross join, so recall shortfall
    // would hash-mismatch. Docs without an embedding bypass the arm on
    // both sides by construction (inner joins), also replayed.
    "ingest_semantic_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val standing = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
      val incoming = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      val cfg = CorpusPipeline.Config(nearDupThreshold = None,
        decontamThreshold = None, embeddings = Some(emb))
      val (accepted, _, release) = CorpusPipeline.prepareIncrementalManaged(
        incoming, standing, cfg, againstThreshold = None,
        semanticAgainstThreshold = Some(0.4))
      val out =
        try graft.core.Checkpoints.localize(
          accepted.select(col("doc_id"), col("split")))
        finally release()
      out.orderBy(col("doc_id"))
    }),

    // shard manifest: the integrity artifact a 100 TB training run writes
    // next to its shards — per shard: doc count, token mass, position
    // density (max pos == count proves no gaps), and a modular fingerprint
    // checksum so a reader can verify a shard without rescanning the
    // corpus. One hash exchange (the shard layout's own), bounded output.
    "doc_shard_manifest" -> ((s, dir) => {
      val sharded = Sampling.shuffleAssign(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id"), shards = 8)
      sharded.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("pos")).as("max_pos"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          sum(pmod(TextFunctions.md5Hash60(col("text")), lit(2147483648L)))
            .as("checksum"))
        .orderBy(col("shard"))
    }),

    // Unicode-script profile (multilingual routing): the corpus is Latin-
    // script, so deterministic non-Latin snippets are appended by doc_id%4
    // (inject SQL shared VERBATIM — same UTF-8 literal bytes both engines);
    // counts use \x{...} range classes, the notation Java regex and RE2
    // share. Map-side, no shuffle before the sink.
    "text_script_profile" -> ((s, dir) => {
      val u = col("mixed")
      t(s, dir, "documents")
        .withColumn("mixed", expr(scriptInjectSql))
        .select(col("doc_id"),
          ScriptProfile.count(u, "latin").as("n_latin"),
          ScriptProfile.count(u, "cyrillic").as("n_cyrillic"),
          ScriptProfile.count(u, "greek").as("n_greek"),
          ScriptProfile.count(u, "cjk").as("n_cjk"),
          ScriptProfile.count(u, "arabic").as("n_arabic"))
        .orderBy(col("doc_id"))
    }),

    // snapshot diff (ingest-round audit): "yesterday" = docs minus the
    // 7-multiples, "today" = docs minus the 13-multiples with 11-multiples
    // edited — per-doc added/removed/changed/unchanged from a fingerprint
    // full-outer join; bodies never shuffle
    "corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val yesterday = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0L)
      val today = docs
        .withColumn("text",
          when(pmod(col("doc_id"), lit(11L)) === 0L,
            concat(col("text"), lit(" revised edition"))).otherwise(col("text")))
        .filter(pmod(col("doc_id"), lit(13L)) =!= 0L)
      SnapshotDiff.diff(yesterday, today, "doc_id",
          TextFunctions.fingerprint(col("text")))
        .orderBy(col("doc_id"))
    }),

    // Unicode NFC canonicalization: deterministic decomposed/precomposed
    // mixes appended per row (inject SQL shared VERBATIM — both engines
    // parse the same UTF-8 literal bytes); JDK Normalizer vs DuckDB
    // utf8proc both implement UAX #15, so the normalized text AND the
    // char-count compaction replay exactly
    "doc_nfc_normalize" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("raw", expr(nfcInjectSql))
        .select(col("doc_id"),
          TextFunctions.nfcNormalize(col("raw")).as("nfc"),
          length(col("raw")).as("len_raw"),
          length(TextFunctions.nfcNormalize(col("raw"))).as("len_nfc"))
        .orderBy(col("doc_id"))
    }),

    // REAL container demux: structurally-valid ISO-BMFF payloads (big-
    // endian box framing synthesized arithmetically from doc_id) walked by
    // the actual box parser — every box type/offset/size/level the walk
    // recovers is replayed by the oracle from doc_id alone
    "mm_container_demux" -> ((s, dir) => {
      val media = Multimodal.synthesizeBmff(t(s, dir, "documents"), "doc_id")
      Multimodal.demuxBoxes(media)
        .select(col("media_id"), col("box_no"), col("box_type"),
          col("offset").as("box_off"), col("size").as("box_size"),
          col("level").as("box_level"))
        .orderBy(col("media_id"), col("box_no"))
    }),

    // Gopher document-shape quality heuristics (Rae et al. 2021 table A1 —
    // the half the repetition gate doesn't cover): eight signals + the
    // keep decision, all from ONE let-bound tokenize/line-split pass per
    // document (map-side, zero shuffle); deterministic multi-line fixture
    // (inject SQL shared VERBATIM) adds bullets, an ellipsis line, symbol
    // noise, and a stopword-rich line on even ids only
    "doc_gopher_gate" -> ((s, dir) => {
      // the stats struct is LET-BOUND so its HOF kernel runs once per row
      // (eight getFields would otherwise each re-run it — CodegenFallback
      // trees get no codegen subexpression sharing; measured 2.2×), and
      // the keep decision reads the same bound struct via gateOn instead
      // of a second kernel pass
      val st = TextFunctions.letBound(GopherQuality.stats(col("page")))
      fanOut(t(s, dir, "documents"))
        .withColumn("page", expr(gopherInjectSql))
        .withColumn("__st", st)
        .select(col("doc_id"),
          col("__st").getField("n_words").as("n_words"),
          (round(col("__st").getField("mean_word_len"), 4) + lit(0.0)).as("mean_word_len"),
          (round(col("__st").getField("symbol_word_ratio"), 4) + lit(0.0)).as("symbol_word_ratio"),
          (round(col("__st").getField("bullet_line_frac"), 4) + lit(0.0)).as("bullet_line_frac"),
          (round(col("__st").getField("ellipsis_line_frac"), 4) + lit(0.0)).as("ellipsis_line_frac"),
          (round(col("__st").getField("alpha_word_frac"), 4) + lit(0.0)).as("alpha_word_frac"),
          col("__st").getField("stopword_hits").as("stopword_hits"),
          col("__st").getField("n_lines").as("n_lines"),
          GopherQuality.gateOn(col("__st")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // C4 cleaning rules (Raffel et al. 2020 §2.2): line retention
    // (terminal punctuation + ≥5 words + no "javascript") rebuilt via
    // array HOFs — zero shuffle — then the page-level gates (≥3 sentences
    // in the cleaned text, no lorem ipsum, no curly brace on the raw
    // page); deterministic fixture gives every rule an arm
    "doc_c4_clean" -> ((s, dir) => {
      C4Rules.clean(
          t(s, dir, "documents")
            .withColumn("page", expr(c4InjectSql))
            .select(col("doc_id"), col("page")),
          textCol = "page")
        .select(col("doc_id"), col("text_clean"),
          regexp_count(col("text_clean"), lit("[.!?]")).cast("long").as("n_sentences"))
        .orderBy(col("doc_id"))
    }),

    // hashed-feature multinomial Naive Bayes (the fastText-style corpus
    // classifier): self-train on lang over 512 md5Hash60 buckets — model
    // state bounded at buckets×|labels| at any corpus size, one explode
    // pass feeds both the model and the per-doc counts, label fan-out is
    // a map-side literal explode (no BNLJ), scoring joins broadcast the
    // bounded model table
    "doc_nb_classify" -> ((s, dir) => {
      NbClassifier.trainScore(t(s, dir, "documents"), "doc_id", col("text"),
          col("lang"), buckets = 512)
        .orderBy(col("doc_id"))
    }),

    // time-series gap-fill: resample events to a per-user daily grid
    // (sequence + explode — grid ∝ users × days, never a cross join) with
    // last-observation-carried-forward over the gaps; the per-user agg and
    // the LOCF window share the user-keyed exchange
    "q_events_resample_locf" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg((round(avg(col("value")), 4) + lit(0.0)).as("day_avg"))
      val spans = ev.groupBy(col("user_id"))
        .agg(date_trunc("day", min(col("ts"))).as("d0"),
          date_trunc("day", max(col("ts"))).as("d1"))
      val grid = spans.select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          last(col("day_avg"), ignoreNulls = true).over(w).as("value_locf"),
          col("day_avg").isNull.as("is_gap"))
        .orderBy(col("user_id"), col("day"))
    }),

    // multi-level aggregation surface: ROLLUP over (returnflag, status)
    // with the subtotal and grand-total rows — one pass, partial-agg per
    // grouping set, group keys coalesced so the oracle sort is
    // engine-independent
    "q_rollup_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).cast("long").as("n"),
          (round(sum(col("l_quantity")), 2) + lit(0.0)).as("sum_qty"),
          (round(sum(col("l_extendedprice")), 2) + lit(0.0)).as("sum_price"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"), col("sum_price"))
        .orderBy(col("rf"), col("ls"))
    }),

    // CUBE completes the grouping-sets family (ROLLUP above): all four
    // grouping combinations in ONE pass — Spark expands grouping sets
    // inside a single Expand + one aggregation exchange, not N scans.
    // grouping() disambiguates real NULL keys from subtotal rows.
    "q_cube_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).cast("long").as("n"),
          (round(sum(col("l_quantity")), 2) + lit(0.0)).as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("g_rf"), col("g_ls"), col("n"), col("sum_qty"))
        .orderBy(col("g_rf"), col("g_ls"), col("rf"), col("ls"))
    }),

    // GROUPING SETS proper (the third grouping-sets form next to ROLLUP
    // and CUBE): exactly the (returnflag) and (linestatus) marginals, no
    // cross terms — one Expand + one exchange, not two scans
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("__gs_lineitem")
      s.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
               CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(l_quantity), 2) + 0.0 AS sum_qty
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY g_rf, g_ls, rf, ls""")
    }),

    // analytic-window trio over partitioned groups: ntile deciles,
    // percent_rank, cume_dist — per-key windows (one key exchange), the
    // deterministic (price, orderkey) total order on both engines
    "q_orders_decile" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(10).over(w).cast("long").as("decile"),
          (round(percent_rank().over(w), 6) + lit(0.0)).as("pct_rank"),
          (round(cume_dist().over(w), 6) + lit(0.0)).as("cume"))
        .filter(col("decile") === 10)
        .orderBy(col("o_orderkey"))
    }),

    // ASYMMETRIC containment dedup (Broder's containment — the
    // quote/subset detector symmetric Jaccard misses): |A∩B|/|A| ≥ 0.8
    // over word 3-gram sets, both orientations; same posting-list funnel
    // + stop-gram cap as dedup_ngram_jaccard
    "dedup_containment" -> ((s, dir) => {
      NgramJaccard.containmentPairs(t(s, dir, "documents"), "doc_id",
        TextFunctions.wordNgramHashes(col("text"), 3), threshold = 0.8,
        maxDocFreq = 100L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // sliding-window aggregation (§2.6/streaming family): 2-hour windows
    // sliding by 1 hour — each event lands in exactly two windows, the
    // fan-out is a map-side explode inside Spark's window() and a 2-element
    // unnest in the oracle
    "q_events_sliding" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          (round(sum(col("value")), 4) + lit(0.0)).as("sum_value"))
        .select(col("w.start").as("w_start"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy(col("w_start"), col("event_type"))
    }),

    // X6: additive schema evolution, oracle-checked on the post-evolution
    // table CONTENT: a target with the events schema receives an orders-
    // shaped batch; SchemaEvolution.evolve appends the batch's new fields
    // (nullable), CdcMerge.alignTo back-fills each side's missing columns
    // with typed NULLs — exactly the engine path CdcPipeline runs on an
    // evolving stream. The DuckDB oracle replays the lifecycle as the
    // equivalent typed-NULL UNION ALL, so rows + evolved schema + values
    // are all hash-checked, not just surfaced.
    "schema_evolution" -> ((s, dir) => {
      import graft.core.SchemaEvolution
      val target = t(s, dir, "events").filter(col("event_id") < 200)
      val batch = t(s, dir, "orders").filter(col("o_orderkey") < 300)
      val evolved = SchemaEvolution.evolve(target.schema, batch.schema)
      val cols = evolved.fieldNames.toSeq.map(n => col(s"`$n`"))
      CdcMerge.alignTo(target, evolved).select(cols: _*)
        .unionByName(CdcMerge.alignTo(batch, evolved).select(cols: _*))
        .orderBy(col("event_id").asc_nulls_last, col("o_orderkey").asc_nulls_last)
    })
  )

  // ======================== DuckDB oracle SQL ========================

  private def tbl(name: String) = name // driver registers tables by name

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check.
    */
  def oracleSql: Map[String, String] = {
    // SCD2 history rebuilt in SQL: boundary rows (first / state change /
    // delete-edge crossing) → interval assembly via lead() → tombstone rows
    // dropped. Shared by the full-build AND the incremental query — the
    // incremental engine path must match the same rebuilt truth.
    val scd2HistorySql =
      """WITH b AS (
        |  SELECT user_id, event_id, event_type,
        |    (event_type = 'error') AS del,
        |    (row_number() OVER w = 1
        |     OR event_type IS DISTINCT FROM lag(event_type) OVER w
        |     OR (event_type = 'error') IS DISTINCT FROM lag(event_type = 'error') OVER w
        |    ) AS boundary
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |), runs AS (
        |  SELECT user_id, event_type, del, event_id AS valid_from,
        |    lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to
        |  FROM b WHERE boundary
        |)
        |SELECT user_id, event_type, valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current
        |FROM runs WHERE NOT del
        |ORDER BY user_id, valid_from""".stripMargin

    // SCD2 temporal join rebuilt in SQL — shared by the plain AND the
    // hot-key-bucketed engine paths (identical output by contract).
    val scd2TemporalJoinSql =
      s"""WITH b AS (
         |  SELECT user_id, event_id, event_type,
         |    (event_type = 'error') AS del,
         |    (row_number() OVER w = 1
         |     OR event_type IS DISTINCT FROM lag(event_type) OVER w
         |     OR (event_type = 'error') IS DISTINCT FROM lag(event_type = 'error') OVER w
         |    ) AS boundary
         |  FROM events WHERE event_id < $MergePivot
         |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
         |), runs AS (
         |  SELECT user_id, event_type, del, event_id AS valid_from,
         |    lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to
         |  FROM b WHERE boundary
         |), hist AS (
         |  SELECT user_id, event_type AS state_at_fact, valid_from, valid_to
         |  FROM runs WHERE NOT del
         |)
         |SELECT f.user_id, f.event_id, f.event_type, h.state_at_fact, h.valid_from
         |FROM events f JOIN hist h ON f.user_id = h.user_id
         |WHERE f.event_id >= $MergePivot
         |  AND h.valid_from <= f.event_id
         |  AND (h.valid_to IS NULL OR h.valid_to > f.event_id)
         |ORDER BY f.event_id""".stripMargin

    // BM25 over the fixed query-term bag — shared by the scan-time path
    // (text_bm25_search) and the inverted-index path (text_index_search):
    // the index must change the PLAN, never the scores.
    val bm25SearchSql =
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |hits AS (SELECT doc_id, term FROM toks
        |         WHERE term IN ('data', 'model', 'training')),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |lens AS (
        |  SELECT doc_id,
        |         CASE WHEN trim(text) = '' THEN 0.0 ELSE
        |           CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE)
        |         END AS dl
        |  FROM documents),
        |sc AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens)
        |SELECT tf.doc_id,
        |       round(sum(
        |         ln(1.0 + (sc.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |         (tf.tf * 2.2) /
        |         (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / sc.avgdl))
        |       ), 4) + 0.0 AS score
        |FROM tf JOIN df USING (term) JOIN lens USING (doc_id), sc
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, tf.doc_id
        |LIMIT 20""".stripMargin

    // shared CTE prefix for the span-duplication funnel: 8-token lead-chain
    // grams (1-based positions), md5Hash60 span hashes, first-occurrence
    // rule, interval-union coverage — all-integer window math
    def spanOracle(select: String): String = {
      val k = 8
      val leads = (1 until k)
        .map(j => s"lead(w, $j) OVER (PARTITION BY doc_id ORDER BY pos)")
        .mkString(" || ' ' || ")
      s"""WITH arrs AS (SELECT doc_id,
         |        list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS arr
         |      FROM documents),
         |words AS (SELECT doc_id, unnest(arr) AS w,
         |        unnest(range(1, len(arr) + 1)) AS pos FROM arrs),
         |grams AS (SELECT doc_id, pos, w || ' ' || $leads AS gram
         |          FROM words QUALIFY gram IS NOT NULL),
         |h AS (SELECT doc_id, pos,
         |        CAST(CAST('0x' || substr(md5(gram), 1, 15) AS UBIGINT) AS BIGINT) AS hx
         |      FROM grams),
         |f AS (SELECT doc_id, pos,
         |        count(*) OVER (PARTITION BY hx) AS c,
         |        row_number() OVER (PARTITION BY hx ORDER BY doc_id, pos) AS rn
         |      FROM h),
         |dups AS (SELECT doc_id, pos FROM f WHERE c > 1 AND rn > 1),
         |cov AS (SELECT doc_id, pos,
         |          max(pos + $k) OVER (PARTITION BY doc_id ORDER BY pos
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |        FROM dups),
         |agg AS (SELECT doc_id,
         |          CAST(sum(GREATEST(0, pos + $k - GREATEST(coalesce(prev_end, pos), pos))) AS BIGINT) AS dup_tokens
         |        FROM cov GROUP BY doc_id),
         |stats AS (SELECT b.doc_id, CAST(len(b.arr) AS BIGINT) AS n_tokens,
         |            coalesce(a.dup_tokens, 0) AS dup_tokens,
         |            round(CASE WHEN len(b.arr) = 0 THEN 0.0
         |                  ELSE CAST(coalesce(a.dup_tokens, 0) AS DOUBLE) / len(b.arr) END,
         |              4) AS dup_frac
         |          FROM arrs b LEFT JOIN agg a USING (doc_id))
         |$select""".stripMargin
    }
    val normText =
      "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\\s+', ' ', 'g'))"
    val stopEn = "\\b(the|and|of|to|is|in|that|with)\\b"
    val stopDe = "\\b(der|die|und|das|ist|mit|von|nicht)\\b"
    val stopFr = "\\b(le|la|et|les|des|est|dans|pour)\\b"
    val stopEs = "\\b(el|los|las|de|que|es|con|para)\\b"

    /** One prepare() round as suffix-parameterized CTEs (quality gate →
      * md5-fingerprint keep-first dedup → split): the building block the
      * ingest-lifecycle oracle applies once per micro-batch. `sp<sfx>` is
      * the round's accepted (doc_id, norm, split) set.
      */
    def ingestPrepCtes(sfx: String, pred: String): String =
      s"""b$sfx AS (SELECT * FROM documents WHERE $pred),
         |base$sfx AS (
         |  SELECT doc_id, $normText AS norm,
         |    length(text) AS nc,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0 / length(text) END AS p,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE len(regexp_extract_all(text, '[0-9]')) * 1.0 / length(text) END AS d,
         |    CASE WHEN length(trim(text)) = 0 THEN 0.0
         |         ELSE length(regexp_replace(text, '\\s+', '', 'g')) * 1.0
         |              / len(regexp_split_to_array(trim(text), '\\s+')) END AS m,
         |    len(regexp_extract_all(lower(text), '$stopEn')) AS h_en,
         |    len(regexp_extract_all(lower(text), '$stopDe')) AS h_de,
         |    len(regexp_extract_all(lower(text), '$stopFr')) AS h_fr,
         |    len(regexp_extract_all(lower(text), '$stopEs')) AS h_es
         |  FROM b$sfx),
         |q$sfx AS (SELECT * FROM base$sfx
         |      WHERE greatest(h_en, h_de, h_fr, h_es) > 0
         |        AND nc BETWEEN 20 AND 20000 AND p < 0.2
         |        AND m BETWEEN 2.0 AND 12.0 AND d < 0.25),
         |keep$sfx AS (SELECT min(doc_id) AS doc_id FROM q$sfx GROUP BY md5(norm)),
         |sp$sfx AS (SELECT q$sfx.doc_id, q$sfx.norm,
         |    CASE WHEN substr(md5(CAST(q$sfx.doc_id AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.05)}' THEN 'test'
         |         WHEN substr(md5(CAST(q$sfx.doc_id AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.10)}' THEN 'val'
         |         ELSE 'train' END AS split
         |  FROM q$sfx JOIN keep$sfx USING (doc_id))""".stripMargin

    /** Exact bipartite near-dup drop as CTEs: `dropped.ib` lists the ids of
      * `incSrc` rows whose 5-gram shingle-set jaccard against ANY `corpSrc`
      * row reaches 0.8. Both sources must expose (doc_id, norm). Shared by
      * the one-round (`corpus_prepare_incremental`) and two-round
      * (`ingest_lifecycle`) ingest oracles so the funnel constants cannot
      * drift between them.
      */
    def bipartiteDropCtes(incSrc: String, corpSrc: String): String =
      s"""gi AS (SELECT DISTINCT doc_id, CASE WHEN len(norm) < 5 THEN norm ELSE norm[i:i+4] END AS sh
         |       FROM $incSrc, LATERAL (SELECT unnest(range(1, greatest(len(norm) - 3, 2))) AS i) r),
         |gc AS (SELECT DISTINCT doc_id, CASE WHEN len(norm) < 5 THEN norm ELSE norm[i:i+4] END AS sh
         |       FROM $corpSrc, LATERAL (SELECT unnest(range(1, greatest(len(norm) - 3, 2))) AS i) r),
         |ci AS (SELECT doc_id, count(*) AS n FROM gi GROUP BY 1),
         |cc AS (SELECT doc_id, count(*) AS n FROM gc GROUP BY 1),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
         |          FROM gc a JOIN gi b ON a.sh = b.sh GROUP BY 1, 2),
         |dropped AS (SELECT DISTINCT ib
         |            FROM inter JOIN cc ca ON ca.doc_id = ia JOIN ci cb ON cb.doc_id = ib
         |            WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.8)""".stripMargin

    def mergeOracle(deleteExpr: String, verExpr: String, whereDeletes: Boolean): String = {
      val takeS = "(s.user_id IS NOT NULL AND (t.user_id IS NULL OR s.ver > t.ver))"
      val deleteFilter =
        if (whereDeletes) s"WHERE NOT (s.user_id IS NOT NULL AND s.is_del)" else ""
      s"""WITH target AS (
         |  SELECT user_id, event_id, event_type, value, $verExpr AS ver
         |  FROM events WHERE event_id < $MergePivot
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY $verExpr DESC) = 1
         |), changes AS (
         |  SELECT user_id, event_id, event_type, value, $verExpr AS ver, $deleteExpr AS is_del
         |  FROM events WHERE event_id >= $MergePivot
         |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY $verExpr DESC) = 1
         |)
         |SELECT
         |  CASE WHEN $takeS THEN s.user_id ELSE t.user_id END AS user_id,
         |  CASE WHEN $takeS THEN s.event_id ELSE t.event_id END AS event_id,
         |  CASE WHEN $takeS THEN s.event_type ELSE t.event_type END AS event_type,
         |  CASE WHEN $takeS THEN s.value ELSE t.value END AS value
         |FROM target t FULL OUTER JOIN changes s ON t.user_id = s.user_id
         |$deleteFilter
         |ORDER BY user_id""".stripMargin
    }

    Map(
      "q1_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus,
          |  round(sum(l_quantity), 2) AS sum_qty,
          |  round(sum(l_extendedprice), 2) AS sum_base_price,
          |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
          |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
          |  round(avg(l_quantity), 4) AS avg_qty,
          |  round(avg(l_extendedprice), 4) AS avg_price,
          |  round(avg(l_discount), 4) AS avg_disc,
          |  CAST(count(*) AS BIGINT) AS count_order
          |FROM lineitem
          |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin,

      "q3_shipping_priority" ->
        """SELECT l_orderkey, o_orderdate, o_orderpriority,
          |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
          |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
          |GROUP BY l_orderkey, o_orderdate, o_orderpriority
          |ORDER BY revenue DESC, l_orderkey
          |LIMIT 10""".stripMargin,

      "q5_local_supplier" ->
        """SELECT n_name,
          |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM region
          |JOIN nation ON n_regionkey = r_regionkey
          |JOIN supplier ON s_nationkey = n_nationkey
          |JOIN lineitem ON l_suppkey = s_suppkey
          |JOIN orders ON o_orderkey = l_orderkey
          |JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
          |GROUP BY n_name
          |ORDER BY revenue DESC, n_name""".stripMargin,

      "q6_revenue_forecast" ->
        """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_discount BETWEEN 0.05 AND 0.07
          |  AND l_quantity < 24""".stripMargin,

      "q_top_customers_per_segment" ->
        """SELECT c_mktsegment, CAST(rnk AS BIGINT) AS rnk, c_custkey, c_name, c_acctbal
          |FROM (
          |  SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
          |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rnk
          |  FROM customer)
          |WHERE rnk <= 3
          |ORDER BY c_mktsegment, rnk""".stripMargin,

      "q_events_hourly" ->
        """SELECT date_trunc('hour', ts) AS hour, event_type,
          |  CAST(count(*) AS BIGINT) AS n_events,
          |  round(sum(value), 4) AS sum_value,
          |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
          |FROM events
          |GROUP BY 1, 2
          |ORDER BY 1, 2""".stripMargin,

      "q_events_running_sum" ->
        """SELECT event_id, user_id,
          |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
          |FROM events
          |ORDER BY event_id""".stripMargin,

      "q8_market_share" ->
        """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
          |  round(
          |    sum(CASE WHEN n_name = 'NATION_7'
          |        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) /
          |    sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON n_nationkey = s_nationkey
          |GROUP BY 1
          |ORDER BY 1""".stripMargin,

      "q10_returned_items" ->
        """SELECT c_custkey, c_name, c_acctbal, n_name,
          |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON c_custkey = o_custkey
          |JOIN nation ON n_nationkey = c_nationkey
          |WHERE l_returnflag = 'R'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          |GROUP BY c_custkey, c_name, c_acctbal, n_name
          |ORDER BY revenue DESC, c_custkey
          |LIMIT 20""".stripMargin,

      "q12_priority_shipping" ->
        """SELECT l_linestatus,
          |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          |GROUP BY l_linestatus
          |ORDER BY l_linestatus""".stripMargin,

      "q14_promo_revenue" ->
        """SELECT round(
          |  sum(CASE WHEN p_type LIKE 'PROMO%'
          |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) * 100.0 /
          |  sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'""".stripMargin,

      "q4_order_priority" ->
        """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          |  AND EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin,

      "q13_customer_orders" ->
        """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
          |FROM (
          |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
          |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
          |  GROUP BY c_custkey)
          |GROUP BY c_count
          |ORDER BY custdist DESC, c_count DESC""".stripMargin,

      "q17_small_quantity" ->
        """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
          |FROM lineitem,
          |  (SELECT l_partkey AS ap_partkey, 0.2 * avg(l_quantity) AS avg20
          |   FROM lineitem GROUP BY l_partkey) a
          |WHERE l_partkey = ap_partkey AND l_quantity < avg20""".stripMargin,

      "q18_large_orders" ->
        """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
          |  round(sum_qty, 2) AS sum_qty
          |FROM orders
          |JOIN (SELECT l_orderkey AS big_orderkey, sum(l_quantity) AS sum_qty
          |      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) b
          |  ON o_orderkey = big_orderkey
          |JOIN customer ON c_custkey = o_custkey
          |ORDER BY o_totalprice DESC, o_orderkey
          |LIMIT 20""".stripMargin,

      "q2_best_supplier" ->
        """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
          |cand AS (
          |  SELECT l_partkey, s_acctbal, s_name, n_name
          |  FROM ps JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
          |best AS (SELECT l_partkey AS bp_partkey, max(s_acctbal) AS best_bal
          |         FROM cand GROUP BY 1)
          |SELECT s_acctbal, s_name, n_name, p_partkey, p_type
          |FROM cand JOIN best ON l_partkey = bp_partkey AND s_acctbal = best_bal
          |JOIN part ON l_partkey = p_partkey AND p_size = 10
          |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
          |LIMIT 100""".stripMargin,

      "q7_nation_volume" ->
        """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
          |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation n1 ON s_nationkey = n1.n_nationkey
          |JOIN nation n2 ON c_nationkey = n2.n_nationkey
          |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
          |  AND n2.n_name IN ('NATION_1', 'NATION_2')
          |  AND n1.n_name <> n2.n_name
          |GROUP BY 1, 2, 3
          |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

      "q9_product_profit" ->
        """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
          |  round(sum(l_extendedprice * (1 - l_discount)
          |            - p_retailprice * 0.1 * l_quantity), 2) AS sum_profit
          |FROM lineitem
          |JOIN part ON l_partkey = p_partkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN nation ON s_nationkey = n_nationkey
          |WHERE p_name LIKE '%bolt%'
          |GROUP BY 1, 2
          |ORDER BY nation, o_year DESC""".stripMargin,

      "q11_important_parts" ->
        """WITH grouped AS (
          |  SELECT l_partkey, sum(l_extendedprice) AS value0
          |  FROM lineitem
          |  JOIN supplier ON l_suppkey = s_suppkey
          |  JOIN nation ON s_nationkey = n_nationkey
          |  WHERE n_name = 'NATION_3'
          |  GROUP BY l_partkey)
          |SELECT l_partkey, round(value0, 2) AS value
          |FROM grouped
          |WHERE value0 > (SELECT sum(value0) * 0.001 FROM grouped)
          |ORDER BY value DESC, l_partkey""".stripMargin,

      "q15_top_supplier" ->
        """WITH revenue AS (
          |  SELECT l_suppkey,
          |    round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_revenue
          |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
          |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
          |ORDER BY s_suppkey""".stripMargin,

      "q16_part_supplier_counts" ->
        """SELECT p_brand, p_type, p_size,
          |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE p_brand <> 'Brand#1'
          |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
          |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
          |GROUP BY 1, 2, 3
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

      "q19_or_predicate_revenue" ->
        """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 5
          |       AND l_quantity BETWEEN 1 AND 11)
          |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 10
          |       AND l_quantity BETWEEN 10 AND 20)
          |   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
          |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

      "q20_volume_suppliers" ->
        """SELECT s_suppkey, s_name, s_acctbal
          |FROM supplier
          |WHERE s_suppkey IN (
          |  SELECT l_suppkey
          |  FROM lineitem JOIN part ON l_partkey = p_partkey
          |  WHERE p_name LIKE 'small%'
          |  GROUP BY l_suppkey
          |  HAVING sum(l_quantity) > 2000)
          |ORDER BY s_suppkey""".stripMargin,

      "q21_waiting_suppliers" ->
        """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
          |FROM lineitem l1
          |JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
          |JOIN supplier ON s_suppkey = l1.l_suppkey
          |WHERE l1.l_returnflag = 'R'
          |  AND EXISTS (SELECT 1 FROM lineitem l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_returnflag = 'R')
          |GROUP BY s_name
          |ORDER BY numwait DESC, s_name
          |LIMIT 100""".stripMargin,

      "q22_idle_customers" ->
        """SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
          |  CAST(count(*) AS BIGINT) AS numcust,
          |  round(sum(c_acctbal), 2) AS totacctbal
          |FROM customer
          |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
          |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
          |GROUP BY 1
          |ORDER BY cntrycode""".stripMargin,

      "setop_users" ->
        """WITH early AS (SELECT DISTINCT user_id FROM events WHERE event_id < 5000),
          |late AS (SELECT DISTINCT user_id FROM events WHERE event_id >= 5000),
          |tagged AS (
          |  SELECT user_id, 'both' AS kind FROM (SELECT user_id FROM early INTERSECT SELECT user_id FROM late)
          |  UNION ALL
          |  SELECT user_id, 'only_early' AS kind FROM (SELECT user_id FROM early EXCEPT SELECT user_id FROM late))
          |SELECT kind, CAST(count(*) AS BIGINT) AS n_users
          |FROM tagged
          |GROUP BY kind
          |ORDER BY kind""".stripMargin,

      "q_value_stats" ->
        """SELECT event_type,
          |  round(stddev_samp(value), 4) AS sd_value,
          |  round(quantile_cont(value, 0.5), 4) AS median_value,
          |  round(min(value), 4) AS min_value,
          |  round(max(value), 4) AS max_value
          |FROM events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin,

      "q_events_rolling_1h" ->
        """SELECT user_id, event_id,
          |  round(sum(value) OVER w, 4) AS sum_1h,
          |  CAST(count(*) OVER w AS BIGINT) AS n_1h
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts
          |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
          |ORDER BY event_id""".stripMargin,

      "q_events_funnel" ->
        """WITH v AS (
          |  SELECT user_id, min(ts) AS t_view FROM events
          |  WHERE event_type = 'view' GROUP BY 1),
          |c AS (
          |  SELECT e.user_id, min(e.ts) AS t_click FROM events e
          |  JOIN v ON e.user_id = v.user_id
          |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
          |p AS (
          |  SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
          |  JOIN c ON e.user_id = c.user_id
          |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
          |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
          |  CASE WHEN p.user_id IS NOT NULL THEN 'purchase'
          |       WHEN c.user_id IS NOT NULL THEN 'click'
          |       ELSE 'view' END AS furthest
          |FROM v LEFT JOIN c ON v.user_id = c.user_id
          |LEFT JOIN p ON v.user_id = p.user_id
          |ORDER BY v.user_id""".stripMargin,

      "q_events_retention" ->
        """WITH act AS (
          |  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events),
          |fw AS (SELECT user_id, min(week) AS cohort_week FROM act GROUP BY 1),
          |j AS (
          |  SELECT f.cohort_week,
          |    CAST(date_diff('day', CAST(f.cohort_week AS DATE), CAST(a.week AS DATE)) / 7 AS BIGINT) AS k,
          |    a.user_id
          |  FROM act a JOIN fw f ON a.user_id = f.user_id),
          |r AS (SELECT cohort_week, k, CAST(count(DISTINCT user_id) AS BIGINT) AS active
          |      FROM j GROUP BY 1, 2),
          |c AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
          |      FROM fw GROUP BY 1)
          |SELECT CAST(r.cohort_week AS DATE) AS cohort_week, r.k, r.active,
          |  c.cohort_size,
          |  round(r.active * 1.0 / c.cohort_size, 4) AS retention
          |FROM r JOIN c USING (cohort_week)
          |ORDER BY r.cohort_week, r.k""".stripMargin,

      "q_events_funnel_windowed" ->
        """WITH v AS (
          |  SELECT user_id, min(ts) AS t_view FROM events
          |  WHERE event_type = 'view' GROUP BY 1),
          |c AS (
          |  SELECT e.user_id, min(e.ts) AS t_click FROM events e
          |  JOIN v ON e.user_id = v.user_id
          |  WHERE e.event_type = 'click' AND e.ts > v.t_view
          |    AND e.ts <= v.t_view + INTERVAL 24 HOURS GROUP BY 1),
          |p AS (
          |  SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
          |  JOIN c ON e.user_id = c.user_id
          |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          |    AND e.ts <= c.t_click + INTERVAL 24 HOURS GROUP BY 1)
          |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
          |  CASE WHEN p.user_id IS NOT NULL THEN 'purchase'
          |       WHEN c.user_id IS NOT NULL THEN 'click'
          |       ELSE 'view' END AS furthest
          |FROM v LEFT JOIN c ON v.user_id = c.user_id
          |LEFT JOIN p ON v.user_id = p.user_id
          |ORDER BY v.user_id""".stripMargin,

      "q_events_mad_outliers" ->
        """WITH med AS (
          |  SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
          |  FROM events GROUP BY event_type),
          |dev AS (
          |  SELECT e.event_id, e.event_type, e.value, med.med,
          |    abs(e.value - med.med) AS absdev
          |  FROM events e JOIN med USING (event_type)),
          |mad AS (
          |  SELECT event_type, round(quantile_cont(absdev, 0.5), 4) AS mad
          |  FROM dev GROUP BY event_type)
          |SELECT event_id, dev.event_type,
          |  round(value, 4) AS value,
          |  round(abs(value - med) / (1.4826 * mad), 4) AS robust_z
          |FROM dev JOIN mad USING (event_type)
          |WHERE mad > 0 AND round(abs(value - med) / (1.4826 * mad), 4) > 3.5
          |ORDER BY event_id""".stripMargin,

      "q_events_winsorize" ->
        """WITH b AS (
          |  SELECT event_type,
          |    round(quantile_cont(value, 0.05), 4) AS p_lo,
          |    round(quantile_cont(value, 0.95), 4) AS p_hi
          |  FROM events GROUP BY event_type)
          |SELECT event_id, e.event_type,
          |  round(greatest(least(value, p_hi), p_lo), 4) AS value_clipped,
          |  (value < p_lo OR value > p_hi) AS clipped
          |FROM events e JOIN b USING (event_type)
          |ORDER BY event_id""".stripMargin,

      "q_events_sessions" ->
        """WITH flagged AS (
          |  SELECT user_id, event_id, ts, value,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |           OR date_diff('second', lag(ts) OVER w, ts) > 1800
          |         THEN 1 ELSE 0 END AS new_session
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |), sessions AS (
          |  SELECT user_id, event_id, value,
          |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
          |  FROM flagged
          |), per_session AS (
          |  SELECT user_id, session_seq,
          |    CAST(count(*) AS BIGINT) AS n_events,
          |    round(sum(value), 4) AS session_value
          |  FROM sessions GROUP BY user_id, session_seq)
          |SELECT user_id,
          |  CAST(count(*) AS BIGINT) AS n_sessions,
          |  max(n_events) AS max_session_events,
          |  round(max(session_value), 4) AS max_session_value
          |FROM per_session
          |GROUP BY user_id
          |ORDER BY user_id""".stripMargin,

      "m1_dedup_latest" ->
        """SELECT user_id, event_id, ts, event_type, value
          |FROM events
          |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
          |ORDER BY user_id""".stripMargin,

      "m1_dedup_with_ties" ->
        """SELECT user_id, event_id
          |FROM events
          |QUALIFY rank() OVER (PARTITION BY user_id ORDER BY date_trunc('day', ts) DESC) = 1
          |ORDER BY user_id, event_id""".stripMargin,

      "m2_merge_mssql_ct" ->
        mergeOracle("(event_type = 'error')", "event_id", whereDeletes = true),

      "m2_merge_sql_executed" ->
        mergeOracle("(event_type = 'error')", "event_id", whereDeletes = true),

      "m3_merge_synapse_softdelete" ->
        mergeOracle("coalesce(event_type = 'error', false)", "event_id", whereDeletes = true),

      "m4_merge_upsert_blob" ->
        mergeOracle("false", "event_id", whereDeletes = false),

      // X6 lifecycle replay: the evolved target's content is the events
      // slice with typed-NULL orders columns plus the orders batch with
      // typed-NULL events columns — additive evolution never rewrites
      // existing values, so the UNION ALL of both typed-NULL paddings IS
      // the post-evolution table
      "schema_evolution" ->
        """SELECT event_id, ts, user_id, event_type, value, props,
          |  CAST(NULL AS BIGINT) AS o_orderkey, CAST(NULL AS BIGINT) AS o_custkey,
          |  CAST(NULL AS VARCHAR) AS o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice,
          |  CAST(NULL AS TIMESTAMP) AS o_orderdate, CAST(NULL AS VARCHAR) AS o_orderpriority
          |FROM events WHERE event_id < 200
          |UNION ALL
          |SELECT CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP), CAST(NULL AS BIGINT),
          |  CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
          |  o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
          |FROM orders WHERE o_orderkey < 300
          |ORDER BY event_id NULLS LAST, o_orderkey NULLS LAST""".stripMargin,

      // IVM: the incrementally-maintained view must equal an aggregate of
      // the full merge result (the merge oracle wrapped in a GROUP BY)
      "m6_incremental_agg" ->
        s"""SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
           |  round(sum(value), 2) AS sum_value
           |FROM (${mergeOracle("(event_type = 'error')", "event_id", whereDeletes = true)})
           |GROUP BY event_type
           |ORDER BY event_type""".stripMargin,

      "m6_incremental_minmax" ->
        s"""SELECT event_type,
           |  round(min(value), 4) AS min_value,
           |  round(max(value), 4) AS max_value,
           |  CAST(count(*) AS BIGINT) AS cnt
           |FROM (${mergeOracle("(event_type = 'error')", "event_id", whereDeletes = true)})
           |GROUP BY event_type
           |ORDER BY event_type""".stripMargin,

      // one SQL text, two engine paths: the incremental fold must be
      // indistinguishable from the full rebuild
      "m5_scd2_incremental" -> scd2HistorySql,

      "m5_scd2_history" -> scd2HistorySql,

      // bucketed variant is output-identical BY CONTRACT (the bucket
      // equi-join is a candidate prefilter under the same interval
      // predicate) — the same oracle pins both
      "m5_scd2_temporal_join_bucketed" -> scd2TemporalJoinSql,

      "m5_scd2_temporal_join_auto" -> scd2TemporalJoinSql,

      "m5_scd2_temporal_join" -> scd2TemporalJoinSql,

      "m5_scd2_asof" ->
        s"""WITH b AS (
          |  SELECT user_id, event_id, event_type,
          |    (event_type = 'error') AS del,
          |    (row_number() OVER w = 1
          |     OR event_type IS DISTINCT FROM lag(event_type) OVER w
          |     OR (event_type = 'error') IS DISTINCT FROM lag(event_type = 'error') OVER w
          |    ) AS boundary
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
          |), runs AS (
          |  SELECT user_id, event_type, del, event_id AS valid_from,
          |    lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to
          |  FROM b WHERE boundary
          |)
          |SELECT user_id, event_type, valid_from
          |FROM runs
          |WHERE NOT del AND valid_from <= $MergePivot
          |  AND (valid_to IS NULL OR valid_to > $MergePivot)
          |ORDER BY user_id""".stripMargin,

      "b2_backfill_overwrite_dedup" ->
        """SELECT user_id, event_id, event_type
          |FROM events
          |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
          |  AND NOT coalesce(event_type = 'error', false)
          |ORDER BY user_id""".stripMargin,

      "s1_merge_key_hex" ->
        """SELECT l_orderkey, l_linenumber,
          |  lower(sha256(concat_ws('#', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR)))) AS ARCANE_MERGE_KEY
          |FROM lineitem
          |ORDER BY l_orderkey, l_linenumber""".stripMargin,

      "s6_merge_key_base64" ->
        """SELECT event_id,
          |  to_base64(from_hex(sha256(CAST(event_id AS VARCHAR)))) AS ARCANE_MERGE_KEY
          |FROM events
          |ORDER BY event_id""".stripMargin,

      "p1_field_filter" ->
        """SELECT o_orderkey, o_totalprice, o_orderdate
          |FROM orders
          |ORDER BY o_orderkey""".stripMargin,

      "s3_shard_assignment" ->
        """SELECT CAST(l_orderkey % 8 AS BIGINT) AS shard,
          |  CAST(count(*) AS BIGINT) AS n_rows,
          |  round(sum(l_quantity), 2) AS sum_qty
          |FROM lineitem
          |GROUP BY 1
          |ORDER BY 1""".stripMargin,

      "s7_json_pointer" ->
        """SELECT event_type,
          |  CAST(count(*) AS BIGINT) AS n_events,
          |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |  round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k
          |FROM events
          |GROUP BY event_type
          |ORDER BY event_type""".stripMargin,

      "dedup_exact" ->
        """SELECT doc_id, n_chars
          |FROM documents
          |QUALIFY row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1
          |ORDER BY doc_id""".stripMargin,

      "dedup_fingerprint" ->
        s"""SELECT md5($normText) AS fingerprint,
           |  min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups
           |FROM documents
           |GROUP BY 1
           |ORDER BY keep_id""".stripMargin,

      // replays injection (VERBATIM shared SQL) + the ordered strip chain
      // interpolated from HtmlStrip.Steps (the PiiPatterns device)
      "doc_html_strip" ->
        s"""WITH inj AS (SELECT doc_id, $htmlInjectSql AS html FROM documents)
           |SELECT doc_id,
           |  ${HtmlStrip.stripHtmlDuck("html")} AS clean,
           |  ${HtmlStrip.linkCountDuck("html")} AS n_links
           |FROM inj
           |ORDER BY doc_id""".stripMargin,

      // the Bloom filter is invisible in the result (it only removes
      // work), so the oracle is the plain exact anti-join over the same
      // md5Hash60 fingerprints and doc_id%5 split
      "dedup_incremental_bloom" ->
        s"""WITH fp AS (SELECT doc_id,
           |    CAST('0x' || substr(md5($normText), 1, 15) AS UBIGINT) AS fp
           |  FROM documents)
           |SELECT i.doc_id, i.fp FROM fp i
           |WHERE i.doc_id % 5 = 0 AND NOT EXISTS (
           |  SELECT 1 FROM fp c WHERE c.doc_id % 5 <> 0 AND c.fp = i.fp)
           |ORDER BY i.doc_id""".stripMargin,

      // composes the corpus_prepare gate/dedup/split fragments over the
      // incoming batch, the 60-bit fingerprint NOT-IN for the exact
      // against-corpus stage (dedup_incremental_bloom's device), and the
      // exact-Jaccard shingle funnel for the near-dup stage
      // (dedup_against_corpus's device)
      // one prepare round (the shared helper) against a RAW standing corpus
      // (the standing side is ungated documents, norm-projected); the
      // exact-dedup and bipartite-drop stages are the same shared blocks
      // the two-round ingest_lifecycle oracle composes
      "corpus_prepare_incremental" ->
        s"""WITH ${ingestPrepCtes("1", "doc_id % 5 = 0")},
           |corp AS (SELECT doc_id, $normText AS norm FROM documents WHERE doc_id % 5 <> 0),
           |ex AS (SELECT sp1.* FROM sp1
           |       WHERE CAST('0x' || substr(md5(sp1.norm), 1, 15) AS UBIGINT) NOT IN
           |         (SELECT CAST('0x' || substr(md5(norm), 1, 15) AS UBIGINT) FROM corp)),
           |${bipartiteDropCtes("ex", "corp")}
           |SELECT doc_id, split FROM ex
           |WHERE doc_id NOT IN (SELECT ib FROM dropped)
           |ORDER BY doc_id""".stripMargin,

      // two-round replay of the streaming ingest sink: round 1 seeds the
      // corpus (vs an empty standing set both against-stages are no-ops),
      // round 2 exact-dedups against round 1's accepted set by the md5h60
      // fingerprint, then drops exact-bipartite near-dups (jaccard >= 0.8
      // on the 5-gram shingle sets of the normalized texts)
      "ingest_lifecycle" ->
        s"""WITH ${ingestPrepCtes("1", "doc_id % 3 = 0")},
           |${ingestPrepCtes("2", "doc_id % 3 <> 0")},
           |ex2 AS (SELECT sp2.* FROM sp2
           |        WHERE CAST('0x' || substr(md5(sp2.norm), 1, 15) AS UBIGINT) NOT IN
           |          (SELECT CAST('0x' || substr(md5(norm), 1, 15) AS UBIGINT) FROM sp1)),
           |${bipartiteDropCtes("ex2", "sp1")}
           |SELECT doc_id, split FROM sp1
           |UNION ALL
           |SELECT doc_id, split FROM ex2 WHERE doc_id NOT IN (SELECT ib FROM dropped)
           |ORDER BY doc_id""".stripMargin,

      // semantic ingest arm: exact-cross-join replay of the LSH-prefiltered
      // embedding threshold gate over the exact-dedup survivors
      "ingest_semantic_gate" ->
        s"""WITH ${ingestPrepCtes("1", "doc_id % 5 = 0")},
           |corp AS (SELECT doc_id, $normText AS norm FROM documents WHERE doc_id % 5 <> 0),
           |ex AS (SELECT sp1.* FROM sp1
           |       WHERE CAST('0x' || substr(md5(sp1.norm), 1, 15) AS UBIGINT) NOT IN
           |         (SELECT CAST('0x' || substr(md5(norm), 1, 15) AS UBIGINT) FROM corp)),
           |e AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |semdrop AS (SELECT DISTINCT bi.doc_id
           |  FROM (SELECT ex.doc_id, e.v FROM ex JOIN e USING (doc_id)) bi
           |  JOIN (SELECT corp.doc_id, e.v FROM corp JOIN e USING (doc_id)) co
           |    ON round(list_cosine_similarity(bi.v, co.v), 6) >= 0.4)
           |SELECT doc_id, split FROM ex
           |WHERE doc_id NOT IN (SELECT doc_id FROM semdrop)
           |ORDER BY doc_id""".stripMargin,

      // frozen-gate lifecycle: cadence-invariant by construction, so the
      // oracle is the SAME two-round replay as ingest_lifecycle
      "ingest_frozen_lifecycle" ->
        s"""WITH ${ingestPrepCtes("1", "doc_id % 3 = 0")},
           |${ingestPrepCtes("2", "doc_id % 3 <> 0")},
           |ex2 AS (SELECT sp2.* FROM sp2
           |        WHERE CAST('0x' || substr(md5(sp2.norm), 1, 15) AS UBIGINT) NOT IN
           |          (SELECT CAST('0x' || substr(md5(norm), 1, 15) AS UBIGINT) FROM sp1)),
           |${bipartiteDropCtes("ex2", "sp1")}
           |SELECT doc_id, split FROM sp1
           |UNION ALL
           |SELECT doc_id, split FROM ex2 WHERE doc_id NOT IN (SELECT ib FROM dropped)
           |ORDER BY doc_id""".stripMargin,

      // pruned-probe side-file path: path-invariant admissions, so the
      // oracle is the SAME two-round replay as ingest_frozen_lifecycle
      "ingest_frozen_sidefiles" ->
        s"""WITH ${ingestPrepCtes("1", "doc_id % 3 = 0")},
           |${ingestPrepCtes("2", "doc_id % 3 <> 0")},
           |ex2 AS (SELECT sp2.* FROM sp2
           |        WHERE CAST('0x' || substr(md5(sp2.norm), 1, 15) AS UBIGINT) NOT IN
           |          (SELECT CAST('0x' || substr(md5(norm), 1, 15) AS UBIGINT) FROM sp1)),
           |${bipartiteDropCtes("ex2", "sp1")}
           |SELECT doc_id, split FROM sp1
           |UNION ALL
           |SELECT doc_id, split FROM ex2 WHERE doc_id NOT IN (SELECT ib FROM dropped)
           |ORDER BY doc_id""".stripMargin,

      // external-writer lifecycle: round 1 prepared, then the co-writer's
      // RAW rows (no quality gate, no dedup, split literal) join the
      // corpus, and round 2 gates against the union — replaying what a
      // detected-and-refreshed gate must compute
      "ingest_external_writer" ->
        s"""WITH ${ingestPrepCtes("1", "doc_id % 3 = 0")},
           |${ingestPrepCtes("2", "doc_id % 3 = 2")},
           |ext AS (SELECT doc_id, $normText AS norm, 'train' AS split
           |        FROM documents WHERE doc_id % 3 = 1),
           |corpx AS (SELECT doc_id, norm FROM sp1
           |          UNION ALL SELECT doc_id, norm FROM ext),
           |ex2 AS (SELECT sp2.* FROM sp2
           |        WHERE CAST('0x' || substr(md5(sp2.norm), 1, 15) AS UBIGINT) NOT IN
           |          (SELECT CAST('0x' || substr(md5(norm), 1, 15) AS UBIGINT) FROM corpx)),
           |${bipartiteDropCtes("ex2", "corpx")}
           |SELECT doc_id, split FROM sp1
           |UNION ALL
           |SELECT doc_id, split FROM ext
           |UNION ALL
           |SELECT doc_id, split FROM ex2 WHERE doc_id NOT IN (SELECT ib FROM dropped)
           |ORDER BY doc_id""".stripMargin,

      "dedup_keep_best" ->
        s"""WITH scored AS (
           |  SELECT doc_id, md5($normText) AS fingerprint,
           |    round(((CASE WHEN length(text) BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.0 END)
           |      + (CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0
           |           ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0 / length(text) END) < 0.2
           |           THEN 1.0 ELSE 0.0 END)
           |      + (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0.0
           |           ELSE length(regexp_replace(text, '\\s+', '', 'g')) * 1.0
           |                / len(regexp_split_to_array(trim(text), '\\s+')) END) BETWEEN 2.0 AND 12.0
           |           THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality
           |  FROM documents)
           |SELECT fingerprint, doc_id, quality
           |FROM scored
           |QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY quality DESC, doc_id) = 1
           |ORDER BY doc_id""".stripMargin,

      "dedup_minhash_lsh" ->
        s"""WITH t AS (SELECT doc_id, $normText AS norm FROM documents),
           |g AS (SELECT DISTINCT doc_id, CASE WHEN len(norm) < 5 THEN norm ELSE norm[i:i+4] END AS sh
           |      FROM t, LATERAL (SELECT unnest(range(1, greatest(len(norm) - 3, 2))) AS i) r),
           |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
           |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
           |          FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
           |SELECT ia AS id_a, ib AS id_b, round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
           |FROM inter JOIN cnt ca ON ca.doc_id = ia JOIN cnt cb ON cb.doc_id = ib
           |WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.8
           |ORDER BY id_a, id_b""".stripMargin,

      // exact bipartite Jaccard across the id-250 boundary (same shingle
      // family as dedup_minhash_lsh), then the incoming anti-join
      "dedup_against_corpus" ->
        s"""WITH t AS (SELECT doc_id, $normText AS norm FROM documents),
           |g AS (SELECT DISTINCT doc_id, CASE WHEN len(norm) < 5 THEN norm ELSE norm[i:i+4] END AS sh
           |      FROM t, LATERAL (SELECT unnest(range(1, greatest(len(norm) - 3, 2))) AS i) r),
           |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
           |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
           |          FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < 250 AND b.doc_id >= 250
           |          GROUP BY 1, 2),
           |dropped AS (SELECT DISTINCT ib
           |            FROM inter JOIN cnt ca ON ca.doc_id = ia JOIN cnt cb ON cb.doc_id = ib
           |            WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.8)
           |SELECT doc_id FROM documents
           |WHERE doc_id >= 250 AND doc_id NOT IN (SELECT ib FROM dropped)
           |ORDER BY doc_id""".stripMargin,

      "dedup_minhash_clusters" ->
        s"""WITH RECURSIVE t AS (SELECT doc_id, $normText AS norm FROM documents),
           |g AS (SELECT DISTINCT doc_id, CASE WHEN len(norm) < 5 THEN norm ELSE norm[i:i+4] END AS sh
           |      FROM t, LATERAL (SELECT unnest(range(1, greatest(len(norm) - 3, 2))) AS i) r),
           |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
           |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
           |          FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |p AS (SELECT ia, ib
           |      FROM inter JOIN cnt ca ON ca.doc_id = ia JOIN cnt cb ON cb.doc_id = ib
           |      WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.8),
           |e AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p),
           |reach AS (
           |  SELECT a, b FROM e
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
           |SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
           |FROM reach GROUP BY a
           |ORDER BY doc_id""".stripMargin,

      // same transitive-closure CTEs as dedup_minhash_clusters, then the
      // md5-threshold split of doc_split_assign applied to the CLUSTER
      // representative (singletons fall back to their own id)
      "doc_split_leakage_safe" ->
        s"""WITH RECURSIVE t AS (SELECT doc_id, $normText AS norm FROM documents),
           |g AS (SELECT DISTINCT doc_id, CASE WHEN len(norm) < 5 THEN norm ELSE norm[i:i+4] END AS sh
           |      FROM t, LATERAL (SELECT unnest(range(1, greatest(len(norm) - 3, 2))) AS i) r),
           |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
           |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
           |          FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |p AS (SELECT ia, ib
           |      FROM inter JOIN cnt ca ON ca.doc_id = ia JOIN cnt cb ON cb.doc_id = ib
           |      WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.8),
           |e AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p),
           |reach AS (
           |  SELECT a, b FROM e
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
           |reps AS (SELECT a AS doc_id, least(a, min(b)) AS rep FROM reach GROUP BY a)
           |SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS cluster_rep,
           |  CASE WHEN substr(md5(CAST(coalesce(r.rep, d.doc_id) AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.05)}' THEN 'test'
           |       WHEN substr(md5(CAST(coalesce(r.rep, d.doc_id) AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.10)}' THEN 'val'
           |       ELSE 'train' END AS split
           |FROM documents d LEFT JOIN reps r USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin,

      // same transitive-closure CTEs as dedup_minhash_clusters, then the
      // per-cluster survivor by (n_chars DESC, doc_id) — everything not
      // ranked first in its cluster is dropped
      "dedup_cluster_keep_best" ->
        s"""WITH RECURSIVE t AS (SELECT doc_id, $normText AS norm FROM documents),
           |g AS (SELECT DISTINCT doc_id, CASE WHEN len(norm) < 5 THEN norm ELSE norm[i:i+4] END AS sh
           |      FROM t, LATERAL (SELECT unnest(range(1, greatest(len(norm) - 3, 2))) AS i) r),
           |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
           |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
           |          FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |p AS (SELECT ia, ib
           |      FROM inter JOIN cnt ca ON ca.doc_id = ia JOIN cnt cb ON cb.doc_id = ib
           |      WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.8),
           |e AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p),
           |reach AS (
           |  SELECT a, b FROM e
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
           |lab AS (SELECT a AS doc_id, least(a, min(b)) AS comp FROM reach GROUP BY a),
           |rk AS (SELECT l.doc_id,
           |         row_number() OVER (PARTITION BY l.comp ORDER BY d.n_chars DESC, l.doc_id) AS rn
           |       FROM lab l JOIN documents d ON d.doc_id = l.doc_id)
           |SELECT doc_id FROM documents
           |WHERE doc_id NOT IN (SELECT doc_id FROM rk WHERE rn > 1)
           |ORDER BY doc_id""".stripMargin,

      "dedup_ngram_jaccard" ->
        s"""WITH t AS (SELECT doc_id, $normText AS norm FROM documents),
           |tk AS (SELECT doc_id, regexp_split_to_array(norm, ' ') AS toks FROM t),
           |g0 AS (SELECT DISTINCT doc_id,
           |        CASE WHEN len(toks) < 3 THEN array_to_string(toks, ' ')
           |             ELSE array_to_string(toks[i:i+2], ' ') END AS gram
           |      FROM tk, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 1, 2))) AS i) r),
           |g AS (SELECT doc_id, gram FROM g0
           |      WHERE gram NOT IN (SELECT gram FROM g0 GROUP BY gram HAVING count(*) > 100)),
           |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
           |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
           |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2)
           |SELECT ia AS id_a, ib AS id_b, round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
           |FROM inter JOIN cnt ca ON ca.doc_id = ia JOIN cnt cb ON cb.doc_id = ib
           |WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.8
           |ORDER BY id_a, id_b""".stripMargin,

      // full-funnel replay of the md5Hash60 SimHash: bigram hashes →
      // per-bit majority vote → hamming <= 8 over ALL pairs (the oracle
      // needs no pigeonhole — candidate completeness is what it checks)
      "dedup_simhash" ->
        """WITH w AS (SELECT doc_id,
          |        list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
          |      FROM documents),
          |g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
          |        i -> ws[i] || ' ' || ws[i+1])) AS gram
          |      FROM w WHERE len(ws) >= 2),
          |h AS (SELECT doc_id,
          |        CAST(CAST('0x' || substr(md5(gram), 1, 15) AS UBIGINT) AS BIGINT) AS h
          |      FROM g),
          |b AS (SELECT doc_id, bit,
          |        sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
          |      FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS bit) bits
          |      GROUP BY doc_id, bit),
          |sh AS (SELECT doc_id,
          |        CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS fp
          |       FROM b GROUP BY doc_id)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
          |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.fp, b.fp)) <= 8
          |ORDER BY id_a, id_b""".stripMargin,

      // full-funnel replay of the md5Hash60 winnowing: char-5-gram hashes
      // of lower(text) → sliding-8-window DISTINCT minima → posting-list
      // join with df cap 50 → shared >= 3 → overlap >= 0.8
      "dedup_winnow" ->
        """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
          |g AS (SELECT doc_id, i AS pos, length(t) - 4 AS ng,
          |        CAST(CAST('0x' || substr(md5(substr(t, CAST(i AS INT), 5)), 1, 15) AS UBIGINT) AS BIGINT) AS h
          |      FROM d, LATERAL (SELECT unnest(range(1, length(t) - 3)) AS i) r),
          |wm AS (SELECT doc_id, pos, ng,
          |        min(h) OVER (PARTITION BY doc_id ORDER BY pos
          |          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mh
          |       FROM g),
          |fp AS (SELECT DISTINCT doc_id, mh FROM wm WHERE pos <= ng - 7),
          |ex AS (SELECT doc_id, mh FROM fp
          |       WHERE mh NOT IN (SELECT mh FROM fp GROUP BY mh HAVING count(*) > 50)),
          |cnt AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
          |sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
          |       FROM ex a JOIN ex b ON a.mh = b.mh AND a.doc_id < b.doc_id
          |       GROUP BY 1, 2 HAVING count(*) >= 3)
          |SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
          |       round(shared * 1.0 / least(ca.n, cb.n), 4) AS overlap
          |FROM sh JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
          |WHERE round(shared * 1.0 / least(ca.n, cb.n), 4) >= 0.8
          |ORDER BY id_a, id_b""".stripMargin,

      "text_stats" ->
        """SELECT doc_id,
          |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
          |  round(CASE WHEN length(text) = 0 THEN 0.0
          |       ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0 / length(text) END, 4) AS punct_ratio,
          |  round(CASE WHEN length(text) = 0 THEN 0.0
          |       ELSE len(regexp_extract_all(text, '[0-9]')) * 1.0 / length(text) END, 4) AS digit_ratio,
          |  round(CASE WHEN length(trim(text)) = 0 THEN 0.0
          |       ELSE length(regexp_replace(text, '\s+', '', 'g')) * 1.0
          |            / len(regexp_split_to_array(trim(text), '\s+')) END, 4) AS mean_token_len,
          |  round(((CASE WHEN length(text) BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.0 END)
          |       + (CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0
          |            ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0 / length(text) END) < 0.2
          |            THEN 1.0 ELSE 0.0 END)
          |       + (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0.0
          |            ELSE length(regexp_replace(text, '\s+', '', 'g')) * 1.0
          |                 / len(regexp_split_to_array(trim(text), '\s+')) END) BETWEEN 2.0 AND 12.0
          |            THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality
          |FROM documents
          |ORDER BY doc_id""".stripMargin,

      "doc_repetition_stats" ->
        """WITH w AS (
          |  SELECT doc_id, text,
          |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
          |  FROM documents),
          |base AS (
          |  SELECT doc_id, ws, len(ws) AS nw,
          |    length(array_to_string(ws, ' ')) AS norm_len,
          |    len(list_distinct(ws)) AS dw
          |  FROM w),
          |g AS (
          |  SELECT doc_id, n,
          |    unnest(list_transform(range(1, greatest(nw - n + 1, 0) + 1),
          |      i -> array_to_string(ws[i:i+n-1], ' '))) AS gram
          |  FROM base, (VALUES (2),(3),(4),(5)) t(n)),
          |gc AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
          |agg AS (
          |  SELECT doc_id,
          |    max(CASE WHEN n = 2 AND c > 1 THEN c * length(gram) END) AS top2,
          |    max(CASE WHEN n = 3 AND c > 1 THEN c * length(gram) END) AS top3,
          |    max(CASE WHEN n = 4 AND c > 1 THEN c * length(gram) END) AS top4,
          |    sum(CASE WHEN n = 5 AND c > 1 THEN c * length(gram) ELSE 0 END) AS dup5
          |  FROM gc GROUP BY 1),
          |lc AS (
          |  SELECT doc_id, line, count(*) AS c
          |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM w)
          |  GROUP BY 1, 2),
          |lagg AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS line_cnt, count(*) AS dist_lines,
          |    sum(c * length(line)) AS tot_line_chars,
          |    sum(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS dup_line_chars
          |  FROM lc GROUP BY 1)
          |SELECT b.doc_id,
          |  CAST(b.nw AS BIGINT) AS word_cnt,
          |  round(CASE WHEN b.nw = 0 THEN 0.0 ELSE (b.nw - b.dw) * 1.0 / b.nw END, 4) AS dup_word_frac,
          |  round(CASE WHEN b.norm_len = 0 THEN 0.0 ELSE coalesce(a.top2, 0) * 1.0 / b.norm_len END, 4) AS top2_frac,
          |  round(CASE WHEN b.norm_len = 0 THEN 0.0 ELSE coalesce(a.top3, 0) * 1.0 / b.norm_len END, 4) AS top3_frac,
          |  round(CASE WHEN b.norm_len = 0 THEN 0.0 ELSE coalesce(a.top4, 0) * 1.0 / b.norm_len END, 4) AS top4_frac,
          |  round(CASE WHEN b.norm_len = 0 THEN 0.0 ELSE coalesce(a.dup5, 0) * 1.0 / b.norm_len END, 4) AS dup5_frac,
          |  l.line_cnt,
          |  round(CASE WHEN l.line_cnt = 0 THEN 0.0 ELSE (l.line_cnt - l.dist_lines) * 1.0 / l.line_cnt END, 4) AS dup_line_frac,
          |  round(CASE WHEN l.tot_line_chars = 0 THEN 0.0 ELSE l.dup_line_chars * 1.0 / l.tot_line_chars END, 4) AS dup_line_char_frac
          |FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
          |LEFT JOIN lagg l ON b.doc_id = l.doc_id
          |ORDER BY b.doc_id""".stripMargin,

      "doc_repetition_filter" ->
        """WITH w AS (
          |  SELECT doc_id, text,
          |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
          |  FROM documents),
          |base AS (
          |  SELECT doc_id, ws, len(ws) AS nw,
          |    length(array_to_string(ws, ' ')) AS norm_len
          |  FROM w),
          |g AS (
          |  SELECT doc_id, n,
          |    unnest(list_transform(range(1, greatest(nw - n + 1, 0) + 1),
          |      i -> array_to_string(ws[i:i+n-1], ' '))) AS gram
          |  FROM base, (VALUES (2),(3),(4),(5)) t(n)),
          |gc AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
          |agg AS (
          |  SELECT doc_id,
          |    max(CASE WHEN n = 2 AND c > 1 THEN c * length(gram) END) AS top2,
          |    max(CASE WHEN n = 3 AND c > 1 THEN c * length(gram) END) AS top3,
          |    max(CASE WHEN n = 4 AND c > 1 THEN c * length(gram) END) AS top4,
          |    sum(CASE WHEN n = 5 AND c > 1 THEN c * length(gram) ELSE 0 END) AS dup5
          |  FROM gc GROUP BY 1),
          |lc AS (
          |  SELECT doc_id, line, count(*) AS c
          |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM w)
          |  GROUP BY 1, 2),
          |lagg AS (
          |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS line_cnt, count(*) AS dist_lines,
          |    sum(c * length(line)) AS tot_line_chars,
          |    sum(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS dup_line_chars
          |  FROM lc GROUP BY 1)
          |SELECT b.doc_id, CAST(b.nw AS BIGINT) AS word_cnt, l.line_cnt
          |FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
          |LEFT JOIN lagg l ON b.doc_id = l.doc_id
          |WHERE (CASE WHEN l.line_cnt = 0 THEN 0.0 ELSE (l.line_cnt - l.dist_lines) * 1.0 / l.line_cnt END) <= 0.30
          |  AND (CASE WHEN l.tot_line_chars = 0 THEN 0.0 ELSE l.dup_line_chars * 1.0 / l.tot_line_chars END) <= 0.20
          |  AND (CASE WHEN b.norm_len = 0 THEN 0.0 ELSE coalesce(a.top2, 0) * 1.0 / b.norm_len END) <= 0.20
          |  AND (CASE WHEN b.norm_len = 0 THEN 0.0 ELSE coalesce(a.top3, 0) * 1.0 / b.norm_len END) <= 0.18
          |  AND (CASE WHEN b.norm_len = 0 THEN 0.0 ELSE coalesce(a.top4, 0) * 1.0 / b.norm_len END) <= 0.16
          |  AND (CASE WHEN b.norm_len = 0 THEN 0.0 ELSE coalesce(a.dup5, 0) * 1.0 / b.norm_len END) <= 0.15
          |ORDER BY b.doc_id""".stripMargin,

      "text_langid" ->
        s"""WITH h AS (
           |  SELECT doc_id,
           |    len(regexp_extract_all(lower(text), '$stopEn')) AS h_en,
           |    len(regexp_extract_all(lower(text), '$stopDe')) AS h_de,
           |    len(regexp_extract_all(lower(text), '$stopFr')) AS h_fr,
           |    len(regexp_extract_all(lower(text), '$stopEs')) AS h_es
           |  FROM documents)
           |SELECT doc_id,
           |  CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
           |       WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
           |       WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
           |       WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
           |       ELSE 'de' END AS lang_id
           |FROM h
           |ORDER BY doc_id""".stripMargin,

      "doc_split_assign" ->
        s"""SELECT doc_id,
           |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.05)}' THEN 'test'
           |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.10)}' THEN 'val'
           |       ELSE 'train' END AS split
           |FROM documents
           |ORDER BY doc_id""".stripMargin,

      // replays the md5-permutation shuffle: same 4-hex-digit shard
      // bucket as doc_pack_sequences, in-shard order by the full md5 hex
      // (identical strings in both engines) with the key as tiebreak
      "corpus_card" ->
        """SELECT source,
          |  CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(CASE WHEN trim(text) = '' THEN 0
          |    ELSE len(regexp_split_to_array(trim(lower(text)), '\s+')) END) AS BIGINT) AS n_tokens,
          |  round(avg(n_chars), 2) AS mean_chars,
          |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
          |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS dup_docs,
          |  round(count(DISTINCT md5(text)) / CAST(count(*) AS DOUBLE), 4) AS uniq_frac
          |FROM documents
          |GROUP BY source
          |ORDER BY source""".stripMargin,

      "doc_prompt_completion" ->
        """WITH tk AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          |  FROM documents WHERE length(trim(text)) > 0),
          |c AS (
          |  SELECT doc_id, toks, len(toks) AS n,
          |    CAST(ceil(len(toks) * 0.7) AS INT) AS cut
          |  FROM tk)
          |SELECT doc_id,
          |  array_to_string(toks[1:cut], ' ') AS prompt,
          |  array_to_string(toks[cut+1:n], ' ') AS completion,
          |  CAST(cut AS BIGINT) AS n_prompt,
          |  CAST(n - cut AS BIGINT) AS n_completion,
          |  'Instruction:' || chr(10) || array_to_string(toks[1:cut], ' ') ||
          |    chr(10) || 'Response:' || chr(10) ||
          |    array_to_string(toks[cut+1:n], ' ') AS sft_text
          |FROM c
          |ORDER BY doc_id""".stripMargin,

      "doc_sample_weighted" ->
        """WITH s AS (
          |  SELECT doc_id, n_chars, source,
          |    round(pow(
          |      (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0,
          |      1.0 / CAST(n_chars AS DOUBLE)), 6) + 0.0 AS wkey
          |  FROM documents)
          |SELECT doc_id, n_chars, source
          |FROM (SELECT * FROM s ORDER BY wkey DESC, doc_id LIMIT 50)
          |ORDER BY doc_id""".stripMargin,

      "doc_dense_ids" ->
        """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
          |a AS (SELECT doc_id, hx,
          |        CAST(CAST('0x' || substr(hx, 1, 4) AS INT) % 8 AS BIGINT) AS shard
          |      FROM h)
          |SELECT doc_id, shard,
          |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS BIGINT) AS pos,
          |  CAST(row_number() OVER (ORDER BY shard, hx, doc_id) - 1 AS BIGINT) AS dense_id
          |FROM a ORDER BY doc_id""".stripMargin,

      "pairs_negative_sample" ->
        """WITH sc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
          |base AS (SELECT doc_id AS anchor_id, CAST(j AS BIGINT) AS pair_idx
          |         FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS j)),
          |h AS (SELECT anchor_id, pair_idx,
          |        CAST('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || '#' ||
          |          CAST(pair_idx AS VARCHAR)), 1, 8) AS BIGINT) AS hv
          |      FROM base),
          |p AS (SELECT anchor_id, pair_idx, hv % (sc.n - 1) AS neg0 FROM h, sc),
          |q AS (SELECT anchor_id, pair_idx,
          |        CASE WHEN neg0 >= anchor_id THEN neg0 + 1 ELSE neg0 END AS neg_id
          |      FROM p)
          |SELECT anchor_id, pair_idx, neg_id, d.source AS neg_source
          |FROM q JOIN documents d ON d.doc_id = q.neg_id
          |ORDER BY anchor_id, pair_idx""".stripMargin,

      "doc_shuffle_shards" ->
        """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
          |a AS (SELECT doc_id, hx,
          |        CAST(CAST('0x' || substr(hx, 1, 4) AS INT) % 8 AS BIGINT) AS shard
          |      FROM h)
          |SELECT doc_id, shard,
          |       CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS BIGINT) AS pos
          |FROM a ORDER BY doc_id""".stripMargin,

      "doc_mixture_sample" ->
        s"""SELECT doc_id, source
           |FROM documents
           |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
           |  CASE source WHEN 'src0' THEN '${Sampling.thresholdHex(1.0)}'
           |              WHEN 'src1' THEN '${Sampling.thresholdHex(0.5)}'
           |              WHEN 'src2' THEN '${Sampling.thresholdHex(0.25)}'
           |              ELSE '${Sampling.thresholdHex(0.1)}' END
           |ORDER BY doc_id""".stripMargin,

      // replays the budget → rate → threshold derivation: same IEEE double
      // ops (budget·w / tokens), same round-to-65536ths, same %04x hex
      // threshold, over strlen totals (= BPE base-byte token counts).
      // Weights are CAST to DOUBLE before the multiply — without the casts
      // DuckDB evaluates 20000 * 0.5 as an exact DECIMAL product, which
      // for generic weights can differ from Scala's Long×Double by an ulp
      // and flip a round(rate·65536) bucket
      "doc_mixture_budget" ->
        """WITH tok AS (SELECT doc_id, source, strlen(text) AS n FROM documents
          |             WHERE source IN ('src0', 'src1', 'src2')),
          |tot AS (SELECT source, sum(n) AS toks FROM tok GROUP BY source),
          |r AS (SELECT source,
          |        least(CAST(1.0 AS DOUBLE),
          |          CAST(20000 AS DOUBLE) * CAST(CASE source WHEN 'src0' THEN 0.5
          |                                                   WHEN 'src1' THEN 0.3
          |                                                   ELSE 0.2 END AS DOUBLE) / toks) AS rate
          |      FROM tot),
          |thr AS (SELECT source,
          |         CASE WHEN CAST(round(rate * 65536) AS BIGINT) >= 65536 THEN 'g'
          |              ELSE printf('%04x', CAST(round(rate * 65536) AS BIGINT)) END AS th
          |        FROM r)
          |SELECT t.doc_id, t.source
          |FROM tok t JOIN thr USING (source)
          |WHERE substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 4) < th
          |ORDER BY t.doc_id""".stripMargin,

      // temperature weights at T=2: sqrt(share) is correctly rounded in
      // BOTH engines (IEEE sqrt), the normalizer adds in source order
      // (matching the Scala sorted-key fold), and every later op is an
      // exact IEEE mul/div — bit-for-bit rate parity with the Spark side
      "doc_mixture_temperature" ->
        """WITH tok AS (SELECT doc_id, source, strlen(text) AS n FROM documents
          |             WHERE source IN ('src0', 'src1', 'src2')),
          |tot AS (SELECT source, CAST(sum(n) AS DOUBLE) AS toks FROM tok GROUP BY source),
          |g AS (SELECT CAST(sum(n) AS DOUBLE) AS grand FROM tok),
          |w AS (SELECT source, toks, sqrt(toks / grand) AS wr FROM tot, g),
          |z AS (SELECT ((SELECT wr FROM w WHERE source = 'src0')
          |             + (SELECT wr FROM w WHERE source = 'src1'))
          |             + (SELECT wr FROM w WHERE source = 'src2') AS z),
          |r AS (SELECT source,
          |        least(CAST(1.0 AS DOUBLE),
          |              CAST(20000 AS DOUBLE) * (wr / z.z) / toks) AS rate
          |      FROM w, z),
          |thr AS (SELECT source,
          |         CASE WHEN CAST(round(rate * 65536) AS BIGINT) >= 65536 THEN 'g'
          |              ELSE printf('%04x', CAST(round(rate * 65536) AS BIGINT)) END AS th
          |        FROM r)
          |SELECT t.doc_id, t.source
          |FROM tok t JOIN thr USING (source)
          |WHERE substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 4) < th
          |ORDER BY t.doc_id""".stripMargin,

      "doc_quality_filter" ->
        s"""WITH s AS (
           |  SELECT doc_id,
           |    length(text) AS nc,
           |    CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ntok,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0 / length(text) END AS p,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE len(regexp_extract_all(text, '[0-9]')) * 1.0 / length(text) END AS d,
           |    CASE WHEN length(trim(text)) = 0 THEN 0.0
           |         ELSE length(regexp_replace(text, '\\s+', '', 'g')) * 1.0
           |              / len(regexp_split_to_array(trim(text), '\\s+')) END AS m,
           |    len(regexp_extract_all(lower(text), '$stopEn')) AS h_en,
           |    len(regexp_extract_all(lower(text), '$stopDe')) AS h_de,
           |    len(regexp_extract_all(lower(text), '$stopFr')) AS h_fr,
           |    len(regexp_extract_all(lower(text), '$stopEs')) AS h_es
           |  FROM documents)
           |SELECT doc_id,
           |  CASE WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
           |       WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
           |       WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
           |       ELSE 'de' END AS lang_id,
           |  CAST(ntok AS BIGINT) AS n_tokens
           |FROM s
           |WHERE greatest(h_en, h_de, h_fr, h_es) > 0
           |  AND nc BETWEEN 20 AND 20000 AND p < 0.2
           |  AND m BETWEEN 2.0 AND 12.0 AND d < 0.25
           |ORDER BY doc_id""".stripMargin,

      "asof_click_view" ->
        """WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'),
          |v AS (SELECT event_id AS view_id, user_id, ts, value FROM events WHERE event_type = 'view')
          |SELECT c.click_id, c.user_id, v.view_id, round(v.value, 2) AS view_value
          |FROM c ASOF JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts
          |ORDER BY click_id""".stripMargin,

      "asof_forward_tolerance" ->
        """WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'),
          |v AS (SELECT event_id AS view_id, user_id, ts FROM events WHERE event_type = 'view')
          |SELECT c.click_id, c.user_id, v.view_id
          |FROM c ASOF JOIN v ON c.user_id = v.user_id AND v.ts >= c.ts
          |WHERE v.ts - c.ts <= INTERVAL 2 HOUR
          |ORDER BY click_id""".stripMargin,

      "asof_nearest" ->
        """WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'),
          |v AS (SELECT event_id AS view_id, user_id, ts FROM events WHERE event_type = 'view'),
          |b AS (SELECT c.click_id, c.user_id, c.ts AS cts, v.view_id AS b_id, v.ts AS b_ts
          |      FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts),
          |f AS (SELECT c.click_id AS fcid, v.view_id AS f_id, v.ts AS f_ts
          |      FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts >= c.ts),
          |n AS (SELECT b.click_id, b.user_id,
          |        CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR (cts - b_ts) <= (f_ts - cts))
          |             THEN b_id ELSE f_id END AS view_id
          |      FROM b JOIN f ON b.click_id = f.fcid)
          |SELECT click_id, user_id, view_id FROM n
          |WHERE view_id IS NOT NULL
          |ORDER BY click_id""".stripMargin,

      "range_error_context" ->
        """WITH err AS (SELECT event_id AS error_id, user_id, ts AS error_ts
          |             FROM events WHERE event_type = 'error')
          |SELECT err.error_id, e.event_id AS ctx_id, e.event_type AS ctx_type
          |FROM err JOIN events e ON err.user_id = e.user_id
          |  AND e.ts >= err.error_ts - INTERVAL 30 MINUTE
          |  AND e.ts < err.error_ts
          |ORDER BY error_id, ctx_id""".stripMargin,

      "corpus_source_stats" ->
        """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
          |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS n_tokens,
          |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
          |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
          |FROM documents
          |GROUP BY source
          |ORDER BY source""".stripMargin,

      "doc_sample_stratified" ->
        """SELECT doc_id, lang FROM (
          |  SELECT doc_id, lang,
          |    row_number() OVER (PARTITION BY lang
          |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id) AS rn
          |  FROM documents)
          |WHERE rn <= 10
          |ORDER BY doc_id""".stripMargin,

      "corpus_prepare" ->
        s"""WITH base AS (
           |  SELECT doc_id, source, $normText AS norm,
           |    length(text) AS nc,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0 / length(text) END AS p,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE len(regexp_extract_all(text, '[0-9]')) * 1.0 / length(text) END AS d,
           |    CASE WHEN length(trim(text)) = 0 THEN 0.0
           |         ELSE length(regexp_replace(text, '\\s+', '', 'g')) * 1.0
           |              / len(regexp_split_to_array(trim(text), '\\s+')) END AS m,
           |    len(regexp_extract_all(lower(text), '$stopEn')) AS h_en,
           |    len(regexp_extract_all(lower(text), '$stopDe')) AS h_de,
           |    len(regexp_extract_all(lower(text), '$stopFr')) AS h_fr,
           |    len(regexp_extract_all(lower(text), '$stopEs')) AS h_es
           |  FROM documents),
           |q AS (SELECT * FROM base
           |      WHERE greatest(h_en, h_de, h_fr, h_es) > 0
           |        AND nc BETWEEN 20 AND 20000 AND p < 0.2
           |        AND m BETWEEN 2.0 AND 12.0 AND d < 0.25),
           |keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(norm)),
           |sp AS (SELECT q.doc_id, q.source, q.norm,
           |    CASE WHEN substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.05)}' THEN 'test'
           |         WHEN substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.10)}' THEN 'val'
           |         ELSE 'train' END AS split
           |  FROM q JOIN keep USING (doc_id)),
           |tk AS (SELECT doc_id, split, regexp_split_to_array(norm, ' ') AS toks
           |       FROM sp WHERE split != 'val'),
           |g0 AS (SELECT DISTINCT doc_id, split,
           |        CASE WHEN len(toks) < 3 THEN array_to_string(toks, ' ')
           |             ELSE array_to_string(toks[i:i+2], ' ') END AS gram
           |      FROM tk, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 1, 2))) AS i) r),
           |g AS (SELECT doc_id, split, gram FROM g0
           |      WHERE gram NOT IN (SELECT gram FROM g0 GROUP BY gram HAVING count(*) > 100)),
           |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
           |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
           |          FROM g a JOIN g b ON a.gram = b.gram
           |          WHERE a.split = 'train' AND b.split = 'test'
           |          GROUP BY 1, 2),
           |bad AS (SELECT DISTINCT ia FROM inter
           |        JOIN cnt ca ON ca.doc_id = ia JOIN cnt cb ON cb.doc_id = ib
           |        WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.8)
           |SELECT doc_id, split FROM sp
           |WHERE NOT (split = 'train' AND doc_id IN (SELECT ia FROM bad))
           |  AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
           |    CASE source WHEN 'src0' THEN '${Sampling.thresholdHex(1.0)}'
           |                WHEN 'src1' THEN '${Sampling.thresholdHex(0.5)}'
           |                ELSE '${Sampling.thresholdHex(0.8)}' END
           |ORDER BY doc_id""".stripMargin,

      "doc_decontaminate" ->
        s"""WITH t AS (SELECT doc_id, $normText AS norm,
           |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.05)}' THEN 'test'
           |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.10)}' THEN 'val'
           |         ELSE 'train' END AS split
           |  FROM documents),
           |tk AS (SELECT doc_id, split, regexp_split_to_array(norm, ' ') AS toks
           |       FROM t WHERE split != 'val'),
           |g0 AS (SELECT DISTINCT doc_id, split,
           |        CASE WHEN len(toks) < 3 THEN array_to_string(toks, ' ')
           |             ELSE array_to_string(toks[i:i+2], ' ') END AS gram
           |      FROM tk, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 1, 2))) AS i) r),
           |g AS (SELECT doc_id, split, gram FROM g0
           |      WHERE gram NOT IN (SELECT gram FROM g0 GROUP BY gram HAVING count(*) > 100)),
           |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
           |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
           |          FROM g a JOIN g b ON a.gram = b.gram
           |          WHERE a.split = 'train' AND b.split = 'test'
           |          GROUP BY 1, 2),
           |bad AS (SELECT DISTINCT ia FROM inter
           |        JOIN cnt ca ON ca.doc_id = ia JOIN cnt cb ON cb.doc_id = ib
           |        WHERE round(i * 1.0 / (ca.n + cb.n - i), 4) >= 0.8)
           |SELECT doc_id FROM t
           |WHERE split = 'train' AND doc_id NOT IN (SELECT ia FROM bad)
           |ORDER BY doc_id""".stripMargin,

      // same split thresholds as doc_decontaminate; 13-grams joined as
      // strings (Spark joins their md5Hash60 hashes — same membership)
      "doc_decontaminate_exact" ->
        s"""WITH t AS (SELECT doc_id, text,
           |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.05)}' THEN 'test'
           |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.10)}' THEN 'val'
           |         ELSE 'train' END AS split
           |  FROM documents),
           |tk AS (SELECT doc_id, split,
           |        list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws
           |       FROM t WHERE split != 'val'),
           |g AS (SELECT DISTINCT doc_id, split, array_to_string(ws[i:i+12], ' ') AS gram
           |      FROM tk, LATERAL (SELECT unnest(range(1, len(ws) - 11)) AS i) r),
           |bad AS (SELECT DISTINCT a.doc_id FROM g a
           |        WHERE a.split = 'train'
           |          AND a.gram IN (SELECT gram FROM g WHERE split = 'test'))
           |SELECT doc_id FROM t
           |WHERE split = 'train' AND doc_id NOT IN (SELECT doc_id FROM bad)
           |ORDER BY doc_id""".stripMargin,

      // same md5 split thresholds; DuckDB verifies by EXACT all-pairs
      // cosine (Spark's LSH prefilter is candidate generation only, so
      // completeness is what this checks)
      "doc_decontaminate_semantic" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |    CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.05)}' THEN 'test'
           |         WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.10)}' THEN 'val'
           |         ELSE 'train' END AS split
           |  FROM embeddings),
           |bad AS (SELECT DISTINCT a.vec_id FROM e a JOIN e b
           |        ON a.split = 'train' AND b.split = 'test'
           |        AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.4)
           |SELECT vec_id FROM e
           |WHERE split = 'train' AND vec_id NOT IN (SELECT vec_id FROM bad)
           |ORDER BY vec_id""".stripMargin,

      // replays injection + the scrub chain + raw counts; patterns and
      // replacements INTERPOLATED from TextFunctions.PiiPatterns so the two
      // engines can never drift (RE2-and-Java-regex compatible by
      // construction)
      "doc_pii_scrub" -> {
        val scrubChain = TextFunctions.PiiPatterns.foldLeft("raw") {
          case (acc, (_, p, r)) => s"regexp_replace($acc, '$p', '$r', 'g')"
        }
        val countCols = TextFunctions.PiiPatterns.map { case (name, p, _) =>
          s"CAST(len(regexp_extract_all(raw, '$p')) AS BIGINT) AS n_$name"
        }.mkString(",\n  ")
        s"""WITH inj AS (SELECT doc_id,
           |    concat(text, ' contact user', doc_id, '@example.com from 10.0.',
           |           doc_id % 200, '.77 ssn 987-65-4321 tel +1 (555) 123-4567') AS raw
           |  FROM documents)
           |SELECT doc_id,
           |  $scrubChain AS scrubbed,
           |  $countCols
           |FROM inj
           |ORDER BY doc_id""".stripMargin
      },

      "doc_chunks" ->
        """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          |            FROM documents WHERE length(trim(text)) > 0),
          |n AS (SELECT doc_id, toks, len(toks) AS n FROM tk),
          |c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
          |        array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk
          |      FROM n, LATERAL (SELECT unnest(range(0,
          |        CASE WHEN n <= 32 THEN 1
          |             ELSE CAST(ceil((n - 32) / 24.0) AS BIGINT) + 1 END)) AS i) r)
          |SELECT doc_id, chunk_idx, chunk FROM c
          |ORDER BY doc_id, chunk_idx""".stripMargin,

      // replays chunking (the doc_chunks CTE), the md5 shard bucket, and
      // the per-shard running token offset; all-integer window math →
      // bit-exact bins
      "doc_pack_sequences" ->
        """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          |            FROM documents WHERE length(trim(text)) > 0),
          |n AS (SELECT doc_id, toks, len(toks) AS n FROM tk),
          |c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
          |        array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk
          |      FROM n, LATERAL (SELECT unnest(range(0,
          |        CASE WHEN n <= 32 THEN 1
          |             ELSE CAST(ceil((n - 32) / 24.0) AS BIGINT) + 1 END)) AS i) r),
          |t2 AS (SELECT doc_id, chunk_idx,
          |        CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 8 AS BIGINT) AS shard,
          |        len(string_split(chunk, ' ')) AS tok
          |       FROM c),
          |p AS (SELECT doc_id, chunk_idx, shard,
          |        sum(tok) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS bef
          |      FROM t2)
          |SELECT doc_id, chunk_idx, shard,
          |       CAST(floor(bef / 256.0) AS BIGINT) AS bin,
          |       CAST(bef % 256 AS BIGINT) AS bin_offset
          |FROM p ORDER BY doc_id, chunk_idx""".stripMargin,

      "text_bpe_count_base" ->
        """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_tokens
          |FROM documents
          |ORDER BY doc_id""".stripMargin,

      "doc_chunks_bpe" ->
        """WITH d AS (SELECT doc_id, text, strlen(text) AS n FROM documents
          |           WHERE regexp_matches(text, '^[ -~]*$') AND strlen(text) > 0),
          |c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
          |        substr(text, CAST(i*24+1 AS INT), 32) AS chunk
          |      FROM d, LATERAL (SELECT unnest(range(0,
          |        CASE WHEN n <= 32 THEN 1
          |             ELSE CAST(ceil((n - 32) / 24.0) AS BIGINT) + 1 END)) AS i) r)
          |SELECT doc_id, chunk_idx, chunk FROM c
          |ORDER BY doc_id, chunk_idx""".stripMargin,

      // replays histogram-cap → OOV floor → per-doc mean; + 0.0 normalizes
      // a potential -0.0 mean like the char-entropy oracle
      "doc_unigram_logprob" ->
        """WITH toks AS (SELECT doc_id,
          |        unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
          |      FROM documents),
          |t2 AS (SELECT doc_id, token FROM toks WHERE token != ''),
          |tot AS (SELECT count(*) AS n FROM t2),
          |vocab AS (SELECT token, count(*) AS cnt FROM t2
          |          GROUP BY token ORDER BY cnt DESC, token LIMIT 65536),
          |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |         avg(log2(coalesce(v.cnt, 0.5) / tot.n)) AS lp
          |       FROM t2 LEFT JOIN vocab v USING (token), tot
          |       GROUP BY doc_id)
          |SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens,
          |       round(coalesce(sc.lp, 0.0), 4) + 0.0 AS logprob
          |FROM documents d LEFT JOIN sc USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,

      // replays the span funnel: lead-chain 8-token grams, md5Hash60 span
      // hashes, first-occurrence rule via window, interval-union coverage
      // in all-integer window math
      "doc_span_dup_stats" -> spanOracle(
        """SELECT doc_id, n_tokens, dup_tokens, dup_frac FROM stats
          |ORDER BY doc_id""".stripMargin),

      "doc_span_dedup" -> spanOracle(
        """SELECT doc_id FROM stats WHERE dup_frac < 0.5
          |ORDER BY doc_id""".stripMargin),

      // words surviving the covered-index set, reassembled in position
      // order with single spaces — same dups CTE as the stats funnel
      "doc_span_splice" -> spanOracle(
        """, cix AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS idx FROM dups),
          |kept AS (SELECT w.doc_id, w.w, w.pos FROM words w
          |         LEFT JOIN cix ON w.doc_id = cix.doc_id AND w.pos = cix.idx
          |         WHERE cix.idx IS NULL)
          |SELECT a.doc_id,
          |       coalesce((SELECT string_agg(kept.w, ' ' ORDER BY kept.pos)
          |                 FROM kept WHERE kept.doc_id = a.doc_id), '') AS text_clean
          |FROM arrs a
          |ORDER BY a.doc_id""".stripMargin),

      // replays the DSIR funnel: md5Hash60 word buckets (same hash family
      // as dedup_simhash), Laplace-smoothed log2 ratio over DOUBLE
      // histograms, mean rounded to 4 dp with the -0.0 normalization
      "doc_dsir_weight" ->
        """WITH w AS (SELECT doc_id, lang = 'en' AS t,
          |        unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents),
          |toks AS (SELECT doc_id, t,
          |        CAST(CAST('0x' || substr(md5(w), 1, 15) AS UBIGINT) % 4096 AS BIGINT) AS b
          |      FROM w WHERE w != ''),
          |hist AS (SELECT b, CAST(count(*) AS DOUBLE) AS cr,
          |                CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS DOUBLE) AS ct
          |         FROM toks GROUP BY b),
          |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM hist),
          |lam AS (SELECT b, log2((ct + 1.0) / (nt + 4096.0)) -
          |                  log2((cr + 1.0) / (nr + 4096.0)) AS lam
          |        FROM hist, tot),
          |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, sum(lam) AS w
          |       FROM toks JOIN lam USING (b) GROUP BY doc_id)
          |SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens,
          |       round(coalesce(sc.w, 0.0), 4) + 0.0 AS dsir_logratio
          |FROM documents d LEFT JOIN sc USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,

      // DSIR Gumbel-top-k: the same score funnel, then a deterministic
      // md5-derived Gumbel variate; the sort key is rounded to 6 dp with
      // an id tiebreak so ulp drift cannot reorder the selection
      "doc_dsir_sample" ->
        """WITH w AS (SELECT doc_id, lang = 'en' AS t,
          |        unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents),
          |toks AS (SELECT doc_id, t,
          |        CAST(CAST('0x' || substr(md5(w), 1, 15) AS UBIGINT) % 4096 AS BIGINT) AS b
          |      FROM w WHERE w != ''),
          |hist AS (SELECT b, CAST(count(*) AS DOUBLE) AS cr,
          |                CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS DOUBLE) AS ct
          |         FROM toks GROUP BY b),
          |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM hist),
          |lam AS (SELECT b, log2((ct + 1.0) / (nt + 4096.0)) -
          |                  log2((cr + 1.0) / (nr + 4096.0)) AS lam
          |        FROM hist, tot),
          |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, sum(lam) AS w
          |       FROM toks JOIN lam USING (b) GROUP BY doc_id),
          |base AS (SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens,
          |           round(coalesce(sc.w, 0.0), 4) + 0.0 AS dsir_logratio
          |         FROM documents d LEFT JOIN sc USING (doc_id)),
          |keyed AS (SELECT doc_id, n_tokens, dsir_logratio,
          |            round(dsir_logratio +
          |              -ln(-ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) AS DOUBLE) + 0.5)
          |                       / CAST(65536 AS DOUBLE))), 6) AS key
          |          FROM base),
          |rk AS (SELECT doc_id, n_tokens, dsir_logratio,
          |         CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS BIGINT) AS rank
          |       FROM keyed)
          |SELECT doc_id, n_tokens, dsir_logratio, rank
          |FROM rk WHERE rank <= 200
          |ORDER BY doc_id""".stripMargin,

      // replays the interpolated bigram funnel: both top-64k tables with
      // the deterministic (count desc, key) cutoff, λ = 0.75 (binary-
      // exact literal), unigram OOV floor, mean rounded to 4 dp
      "doc_bigram_logprob" ->
        """WITH arrs AS (SELECT doc_id,
          |        list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '') AS arr
          |      FROM documents),
          |toks AS (SELECT doc_id, unnest(arr) AS w FROM arrs),
          |tot AS (SELECT count(*) AS n FROM toks),
          |vocab AS (SELECT w AS tok, count(*) AS cnt FROM toks
          |          GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 65536),
          |bi AS (SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
          |       FROM arrs, LATERAL (SELECT unnest(range(1, len(arr))) AS i) r),
          |btab AS (SELECT w1, w2, count(*) AS bcnt FROM bi
          |         GROUP BY 1, 2 ORDER BY bcnt DESC, w1, w2 LIMIT 65536),
          |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
          |         avg(log2(0.75 * (CASE WHEN bt.bcnt IS NOT NULL AND v1.cnt IS NOT NULL
          |                               THEN CAST(bt.bcnt AS DOUBLE) / v1.cnt
          |                               ELSE 0.0 END)
          |                  + 0.25 * (coalesce(v2.cnt, 0.5) / tot.n))) AS lp
          |       FROM bi LEFT JOIN btab bt ON bi.w1 = bt.w1 AND bi.w2 = bt.w2
          |               LEFT JOIN vocab v1 ON bi.w1 = v1.tok
          |               LEFT JOIN vocab v2 ON bi.w2 = v2.tok, tot
          |       GROUP BY doc_id)
          |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
          |       round(coalesce(sc.lp, 0.0), 4) + 0.0 AS bigram_logprob
          |FROM documents d LEFT JOIN sc USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,

      // unigram funnel + ntile tiers; rank over (rounded logprob DESC,
      // doc_id) so tier assignment is deterministic in both engines
      "doc_ppl_buckets" ->
        """WITH toks AS (SELECT doc_id,
          |        unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
          |      FROM documents),
          |t2 AS (SELECT doc_id, token FROM toks WHERE token != ''),
          |tot AS (SELECT count(*) AS n FROM t2),
          |vocab AS (SELECT token, count(*) AS cnt FROM t2
          |          GROUP BY token ORDER BY cnt DESC, token LIMIT 65536),
          |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |         avg(log2(coalesce(v.cnt, 0.5) / tot.n)) AS lp
          |       FROM t2 LEFT JOIN vocab v USING (token), tot
          |       GROUP BY doc_id),
          |s AS (SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens,
          |        round(coalesce(sc.lp, 0.0), 4) + 0.0 AS logprob
          |      FROM documents d LEFT JOIN sc USING (doc_id)),
          |b AS (SELECT doc_id, n_tokens, logprob,
          |        ntile(3) OVER (ORDER BY logprob DESC, doc_id) AS tier FROM s)
          |SELECT doc_id, n_tokens, logprob,
          |       CASE tier WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
          |            ELSE 'tail' END AS bucket
          |FROM b ORDER BY doc_id""".stripMargin,

      // full line-dedup funnel: re-line (literal replace), explode with
      // position, md5Hash60 line keys, df > 2 hot set, anti-join, ordered
      // rebuild — hash-key counting matches the Spark side even under a
      // (theoretical) md5-prefix collision, since both engines merge the
      // same lines
      "doc_strip_boilerplate" ->
        """WITH d AS (SELECT doc_id, replace(text, ' the ', chr(10)) AS t FROM documents),
          |ls AS (SELECT doc_id, t, string_split(t, chr(10)) AS arr FROM d),
          |l AS (SELECT doc_id, i AS pos, arr[i] AS ln
          |      FROM ls, LATERAL (SELECT unnest(range(1, len(arr) + 1)) AS i) r),
          |h AS (SELECT doc_id, pos, ln,
          |        CAST(CAST('0x' || substr(md5(ln), 1, 15) AS UBIGINT) AS BIGINT) AS hh
          |      FROM l),
          |hot AS (SELECT hh FROM (SELECT hh, count(DISTINCT doc_id) AS df
          |                        FROM h GROUP BY hh) WHERE df > 2),
          |kept AS (SELECT doc_id, pos, ln FROM h
          |         WHERE hh NOT IN (SELECT hh FROM hot)),
          |rb AS (SELECT doc_id, count(*) AS kept_n,
          |         array_to_string(list(ln ORDER BY pos), chr(10)) AS text_clean
          |       FROM kept GROUP BY doc_id)
          |SELECT ls.doc_id, coalesce(rb.text_clean, '') AS text_clean,
          |       CAST(len(ls.arr) - coalesce(rb.kept_n, 0) AS BIGINT) AS n_lines_removed
          |FROM ls LEFT JOIN rb USING (doc_id)
          |ORDER BY ls.doc_id""".stripMargin,

      // + 0.0 normalizes the single-distinct-char -0.0 like the expression
      "text_char_entropy" ->
        """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
          |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
          |tot AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY 1),
          |e AS (SELECT cnt.doc_id, -sum((k * 1.0 / n) * log2(k * 1.0 / n)) AS ent
          |      FROM cnt JOIN tot USING (doc_id) GROUP BY cnt.doc_id)
          |SELECT d.doc_id, round(coalesce(e.ent, 0.0), 4) + 0.0 AS entropy_bits
          |FROM documents d LEFT JOIN e USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,

      "text_token_histogram" ->
        """SELECT token, CAST(count(*) AS BIGINT) AS n
          |FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
          |      FROM documents)
          |WHERE token != ''
          |GROUP BY token
          |ORDER BY n DESC, token
          |LIMIT 100""".stripMargin,

      "text_heavy_hitters" ->
        """WITH toks AS (
          |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
          |  FROM documents),
          |t2 AS (SELECT token FROM toks WHERE token != ''),
          |tot AS (SELECT count(*) AS n_total FROM t2)
          |SELECT token, CAST(count(*) AS BIGINT) AS n
          |FROM t2, tot
          |GROUP BY token, n_total
          |HAVING count(*) > n_total / 30.0
          |ORDER BY n DESC, token""".stripMargin,

      "text_tfidf_topterms" ->
        """WITH toks AS (
          |  SELECT doc_id,
          |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
          |  FROM documents),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
          |       WHERE term != '' GROUP BY doc_id, term),
          |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
          |scored AS (
          |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
          |         round(tf.tf * ln(nd.n_docs / CAST(df.df AS DOUBLE)), 4) + 0.0 AS score
          |  FROM tf JOIN df USING (term), nd),
          |ranked AS (
          |  SELECT *, row_number() OVER (
          |    PARTITION BY doc_id ORDER BY score DESC, term) AS rk
          |  FROM scored)
          |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
          |FROM ranked WHERE rk <= 3
          |ORDER BY doc_id, score DESC, term""".stripMargin,

      "text_bm25_search" -> bm25SearchSql,

      "retrieval_eval_metrics" ->
        """WITH toks AS (
          |  SELECT doc_id,
          |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
          |  FROM documents),
          |hits AS (SELECT doc_id, term FROM toks
          |         WHERE term IN ('data', 'model', 'training')),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY doc_id, term),
          |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          |lens AS (
          |  SELECT doc_id,
          |         CASE WHEN trim(text) = '' THEN 0.0 ELSE
          |           CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE)
          |         END AS dl
          |  FROM documents),
          |sc AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens),
          |lex0 AS (
          |  SELECT tf.doc_id,
          |         round(sum(
          |           ln(1.0 + (sc.n_docs - df.df + 0.5) / (df.df + 0.5)) *
          |           (tf.tf * 2.2) /
          |           (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / sc.avgdl))
          |         ), 4) + 0.0 AS score
          |  FROM tf JOIN df USING (term) JOIN lens USING (doc_id), sc
          |  GROUP BY tf.doc_id
          |  ORDER BY score DESC, tf.doc_id
          |  LIMIT 20),
          |ranked AS (SELECT doc_id,
          |             row_number() OVER (ORDER BY score DESC, doc_id) AS r
          |           FROM lex0),
          |gold AS (SELECT doc_id FROM hits GROUP BY doc_id
          |         HAVING count(*) >= 5),
          |gn AS (SELECT CAST(count(*) AS BIGINT) AS gold_n FROM gold),
          |h AS (SELECT r FROM ranked JOIN gold USING (doc_id)),
          |m AS (SELECT
          |        coalesce(1.0 / min(r), 0.0) AS mrr,
          |        coalesce(sum(CASE WHEN r <= 10 THEN 1 ELSE 0 END) / 10.0, 0.0) AS p_at_k,
          |        coalesce(sum(CASE WHEN r <= 10 THEN 1.0 / log2(r + 1) ELSE 0.0 END), 0.0) AS dcg
          |      FROM h),
          |i AS (SELECT coalesce(sum(1.0 / log2(v + 1)), 0.0) AS idcg
          |      FROM (SELECT unnest(range(1, CAST(least(gold_n, 10) AS BIGINT) + 1)) AS v
          |            FROM gn))
          |SELECT round(mrr, 6) + 0.0 AS mrr,
          |  round(p_at_k, 6) + 0.0 AS p_at_k,
          |  round(CASE WHEN gold_n = 0 THEN 0.0 ELSE dcg / idcg END, 6) + 0.0 AS ndcg_at_k,
          |  gold_n
          |FROM m, i, gn""".stripMargin,

      // index path must be score-identical to the scan path — one SQL text
      "text_index_search" -> bm25SearchSql,

      "corpus_drift_psi" ->
        """WITH ref AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
          |cur AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
          |nb_ref AS (
          |  SELECT CASE WHEN n_chars IS NULL THEN -1 ELSE
          |    (CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) +
          |    (CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END) +
          |    (CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END) +
          |    (CASE WHEN n_chars >= 1000 THEN 1 ELSE 0 END) +
          |    (CASE WHEN n_chars >= 2000 THEN 1 ELSE 0 END) +
          |    (CASE WHEN n_chars >= 4000 THEN 1 ELSE 0 END) END AS bucket,
          |    CAST(count(*) AS BIGINT) AS ref_n
          |  FROM ref GROUP BY 1),
          |nb_cur AS (
          |  SELECT CASE WHEN n_chars IS NULL THEN -1 ELSE
          |    (CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) +
          |    (CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END) +
          |    (CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END) +
          |    (CASE WHEN n_chars >= 1000 THEN 1 ELSE 0 END) +
          |    (CASE WHEN n_chars >= 2000 THEN 1 ELSE 0 END) +
          |    (CASE WHEN n_chars >= 4000 THEN 1 ELSE 0 END) END AS bucket,
          |    CAST(count(*) AS BIGINT) AS cur_n
          |  FROM cur GROUP BY 1),
          |nj AS (
          |  SELECT bucket, coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
          |  FROM nb_ref FULL OUTER JOIN nb_cur USING (bucket)),
          |np AS (
          |  SELECT *,
          |    (ref_n + 0.5) / (sum(ref_n) OVER ()
          |      + 0.5 * (7 + max(CASE WHEN bucket = -1 THEN 1 ELSE 0 END) OVER ())) AS p,
          |    (cur_n + 0.5) / (sum(cur_n) OVER ()
          |      + 0.5 * (7 + max(CASE WHEN bucket = -1 THEN 1 ELSE 0 END) OVER ())) AS q
          |  FROM nj),
          |num AS (
          |  SELECT 'n_chars' AS feature, CAST(bucket AS VARCHAR) AS bucket,
          |    ref_n, cur_n,
          |    round((p - q) * ln(p / q), 6) + 0.0 AS psi_term,
          |    round(sum((p - q) * ln(p / q)) OVER (), 4) + 0.0 AS psi_total
          |  FROM np),
          |cb_ref AS (
          |  SELECT coalesce(CAST(lang AS VARCHAR), '__null__') AS bucket,
          |    CAST(count(*) AS BIGINT) AS ref_n
          |  FROM ref GROUP BY 1),
          |cb_cur AS (
          |  SELECT coalesce(CAST(lang AS VARCHAR), '__null__') AS bucket,
          |    CAST(count(*) AS BIGINT) AS cur_n
          |  FROM cur GROUP BY 1),
          |cj AS (
          |  SELECT bucket, coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
          |  FROM cb_ref FULL OUTER JOIN cb_cur USING (bucket)),
          |cp AS (
          |  SELECT *,
          |    (ref_n + 0.5) / (sum(ref_n) OVER () + 0.5 * count(*) OVER ()) AS p,
          |    (cur_n + 0.5) / (sum(cur_n) OVER () + 0.5 * count(*) OVER ()) AS q
          |  FROM cj),
          |cat AS (
          |  SELECT 'lang' AS feature, bucket, ref_n, cur_n,
          |    round((p - q) * ln(p / q), 6) + 0.0 AS psi_term,
          |    round(sum((p - q) * ln(p / q)) OVER (), 4) + 0.0 AS psi_total
          |  FROM cp)
          |SELECT * FROM num UNION ALL SELECT * FROM cat
          |ORDER BY feature, bucket""".stripMargin,

      "retrieval_rrf_fusion" ->
        """WITH toks AS (
          |  SELECT doc_id,
          |         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
          |  FROM documents),
          |hits AS (SELECT doc_id, term FROM toks
          |         WHERE term IN ('data', 'model', 'training')),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM hits GROUP BY doc_id, term),
          |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          |lens AS (
          |  SELECT doc_id,
          |         CASE WHEN trim(text) = '' THEN 0.0 ELSE
          |           CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE)
          |         END AS dl
          |  FROM documents),
          |sc AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens),
          |lex0 AS (
          |  SELECT tf.doc_id,
          |         round(sum(
          |           ln(1.0 + (sc.n_docs - df.df + 0.5) / (df.df + 0.5)) *
          |           (tf.tf * 2.2) /
          |           (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / sc.avgdl))
          |         ), 4) + 0.0 AS score
          |  FROM tf JOIN df USING (term) JOIN lens USING (doc_id), sc
          |  GROUP BY tf.doc_id
          |  ORDER BY score DESC, tf.doc_id
          |  LIMIT 50),
          |lex AS (SELECT doc_id,
          |          row_number() OVER (ORDER BY score DESC, doc_id) AS r
          |        FROM lex0),
          |sem0 AS (
          |  SELECT vec_id AS doc_id,
          |         round(list_cosine_similarity(
          |           CAST(embedding AS DOUBLE[]),
          |           (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
          |         ), 6) + 0.0 AS score
          |  FROM embeddings WHERE vec_id != 0
          |  ORDER BY score DESC, doc_id
          |  LIMIT 50),
          |sem AS (SELECT doc_id,
          |          row_number() OVER (ORDER BY score DESC, doc_id) AS r
          |        FROM sem0),
          |u AS (SELECT doc_id, r FROM lex UNION ALL SELECT doc_id, r FROM sem)
          |SELECT doc_id,
          |  round(sum(1.0 / (60 + r)), 6) + 0.0 AS rrf_score,
          |  CAST(count(*) AS BIGINT) AS n_lists
          |FROM u
          |GROUP BY doc_id
          |ORDER BY rrf_score DESC, doc_id
          |LIMIT 20""".stripMargin,

      // the same 3 PageRank iterations, unrolled as CTEs; dangling mass
      // drops in both engines, ordering on the rounded rank
      "graph_pagerank" ->
        """WITH pairs AS (
          |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS p
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          |edges AS (SELECT c AS src, p AS dst FROM pairs
          |          UNION ALL SELECT p, c FROM pairs),
          |verts AS (SELECT DISTINCT src AS v FROM edges
          |          UNION SELECT DISTINCT dst FROM edges),
          |outd AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
          |r0 AS (SELECT v, 1.0 AS rank FROM verts),
          |c1 AS (SELECT e.dst AS v, sum(r.rank / o.deg) AS c
          |       FROM edges e JOIN outd o USING (src) JOIN r0 r ON r.v = e.src
          |       GROUP BY e.dst),
          |r1 AS (SELECT verts.v, 0.15 + 0.85 * coalesce(c1.c, 0.0) AS rank
          |       FROM verts LEFT JOIN c1 USING (v)),
          |c2 AS (SELECT e.dst AS v, sum(r.rank / o.deg) AS c
          |       FROM edges e JOIN outd o USING (src) JOIN r1 r ON r.v = e.src
          |       GROUP BY e.dst),
          |r2 AS (SELECT verts.v, 0.15 + 0.85 * coalesce(c2.c, 0.0) AS rank
          |       FROM verts LEFT JOIN c2 USING (v)),
          |c3 AS (SELECT e.dst AS v, sum(r.rank / o.deg) AS c
          |       FROM edges e JOIN outd o USING (src) JOIN r2 r ON r.v = e.src
          |       GROUP BY e.dst),
          |r3 AS (SELECT verts.v, 0.15 + 0.85 * coalesce(c3.c, 0.0) AS rank
          |       FROM verts LEFT JOIN c3 USING (v)),
          |top AS (SELECT v, round(rank, 4) + 0.0 AS rank
          |        FROM r3 ORDER BY rank DESC, v LIMIT 100)
          |SELECT CASE WHEN v % 2 = 0 THEN 'c' || CAST(v / 2 AS BIGINT)
          |            ELSE 's' || CAST((v - 1) / 2 AS BIGINT) END AS v,
          |       rank
          |FROM top""".stripMargin,

      "vec_label_centroids" ->
        """WITH e AS (
          |  SELECT label, unnest(embedding) AS x,
          |         generate_subscripts(embedding, 1) AS pos
          |  FROM embeddings),
          |m AS (SELECT label, pos, avg(x) AS mx FROM e GROUP BY label, pos)
          |SELECT CAST(label AS BIGINT) AS label,
          |       string_agg(printf('%.4f', round(mx, 4) + 0.0), ','
          |                  ORDER BY pos) AS centroid,
          |       (SELECT CAST(count(*) AS BIGINT) FROM embeddings e2
          |        WHERE e2.label = m.label) AS n
          |FROM m
          |GROUP BY label
          |ORDER BY label""".stripMargin,

      "corpus_expectations" ->
        """WITH m AS (SELECT
          |  round(avg(CASE WHEN text IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) + 0.0 AS m0,
          |  round(CAST(count(DISTINCT doc_id) AS DOUBLE) / count(*), 6) + 0.0 AS m1,
          |  round(avg(CASE WHEN n_chars BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.0 END), 6) + 0.0 AS m2,
          |  round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 6) + 0.0 AS m3
          |  FROM documents)
          |SELECT * FROM (
          |  SELECT 'completeness' AS metric, 'text' AS col_name, m0 AS value,
          |         CAST(1.0 AS DOUBLE) AS lo, CAST(1.0 AS DOUBLE) AS hi,
          |         m0 >= 1.0 AND m0 <= 1.0 AS pass FROM m
          |  UNION ALL SELECT 'uniqueness', 'doc_id', m1,
          |         CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
          |         m1 >= 1.0 AND m1 <= 1.0 FROM m
          |  UNION ALL SELECT 'in_range', 'n_chars', m2,
          |         CAST(0.99 AS DOUBLE), CAST(1.0 AS DOUBLE),
          |         m2 >= 0.99 AND m2 <= 1.0 FROM m
          |  UNION ALL SELECT 'lang_en_frac', 'lang', m3,
          |         CAST(0.5 AS DOUBLE), CAST(1.0 AS DOUBLE),
          |         m3 >= 0.5 AND m3 <= 1.0 FROM m)
          |ORDER BY metric""".stripMargin,

      "ann_sq8_topk" ->
        """WITH arrs AS (
          |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS av FROM embeddings),
          |dims AS (
          |  SELECT vec_id, unnest(av) AS v,
          |    CAST(unnest(range(1, len(av) + 1)) AS INT) AS d
          |  FROM arrs),
          |rng AS (SELECT d, min(v) AS mn, max(v) AS mx FROM dims GROUP BY d),
          |enc AS (
          |  SELECT vec_id, dims.d,
          |    CASE WHEN mx = mn THEN 0
          |         ELSE CAST(round((v - mn) / (mx - mn) * 255) AS BIGINT) END AS code,
          |    mn, mx
          |  FROM dims JOIN rng USING (d)),
          |deq AS (SELECT vec_id, d,
          |    mn + CAST(code AS DOUBLE) * (mx - mn) / 255.0 AS dv
          |  FROM enc),
          |dl AS (SELECT vec_id, list(dv ORDER BY d) AS dvec FROM deq GROUP BY vec_id),
          |ql AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
          |       FROM embeddings WHERE vec_id < 10),
          |s AS (SELECT query_id, dl.vec_id AS corpus_id,
          |        round(list_dot_product(dvec, qvec), 6) + 0.0 AS score
          |      FROM dl CROSS JOIN ql WHERE dl.vec_id != query_id)
          |SELECT query_id, corpus_id, score, CAST(rn AS BIGINT) AS rnk
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS rn FROM s)
          |WHERE rn <= 5
          |ORDER BY query_id, rnk""".stripMargin,

      "knn_cosine_topk" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          |           FROM embeddings WHERE vec_id < 10),
          |c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
          |s AS (SELECT query_id, corpus_id,
          |        round(list_cosine_similarity(cv, qv), 6) AS cosine
          |      FROM c CROSS JOIN q WHERE corpus_id != query_id)
          |SELECT query_id, corpus_id, cosine, CAST(rn AS BIGINT) AS rnk
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn FROM s)
          |WHERE rn <= 5
          |ORDER BY query_id, rnk""".stripMargin,

      // exhaustive-probe IVF-PQ == exact top-k by construction, so it
      // shares the brute-force oracle text
      "ann_ivfpq_exhaustive" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          |           FROM embeddings WHERE vec_id < 10),
          |c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
          |s AS (SELECT query_id, corpus_id,
          |        round(list_cosine_similarity(cv, qv), 6) AS cosine
          |      FROM c CROSS JOIN q WHERE corpus_id != query_id)
          |SELECT query_id, corpus_id, cosine, CAST(rn AS BIGINT) AS rnk
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn FROM s)
          |WHERE rn <= 5
          |ORDER BY query_id, rnk""".stripMargin,

      // exhaustive-probe IVF (nprobe = all cells) and full-Hamming-radius
      // multiprobe LSH are both exact by construction — same oracle text
      "ann_ivf_exhaustive" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          |           FROM embeddings WHERE vec_id < 10),
          |c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
          |s AS (SELECT query_id, corpus_id,
          |        round(list_cosine_similarity(cv, qv), 6) AS cosine
          |      FROM c CROSS JOIN q WHERE corpus_id != query_id)
          |SELECT query_id, corpus_id, cosine, CAST(rn AS BIGINT) AS rnk
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn FROM s)
          |WHERE rn <= 5
          |ORDER BY query_id, rnk""".stripMargin,

      "ann_lsh_exhaustive" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          |           FROM embeddings WHERE vec_id < 10),
          |c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
          |s AS (SELECT query_id, corpus_id,
          |        round(list_cosine_similarity(cv, qv), 6) AS cosine
          |      FROM c CROSS JOIN q WHERE corpus_id != query_id)
          |SELECT query_id, corpus_id, cosine, CAST(rn AS BIGINT) AS rnk
          |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn FROM s)
          |WHERE rn <= 5
          |ORDER BY query_id, rnk""".stripMargin,

      "vec_threshold_join" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |           FROM embeddings WHERE vec_id < 500)
          |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |  round(list_cosine_similarity(a.v, b.v), 6) AS cosine
          |FROM e a JOIN e b ON a.vec_id < b.vec_id
          |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
          |ORDER BY id_a, id_b""".stripMargin,

      "vec_threshold_lsh" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |           FROM embeddings WHERE vec_id < 500)
          |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |  round(list_cosine_similarity(a.v, b.v), 6) AS cosine
          |FROM e a JOIN e b ON a.vec_id < b.vec_id
          |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
          |ORDER BY id_a, id_b""".stripMargin,

      "dedup_embedding" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |           FROM embeddings WHERE vec_id < 500),
          |d AS (SELECT DISTINCT b.vec_id FROM e a JOIN e b ON a.vec_id < b.vec_id
          |      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4)
          |SELECT vec_id FROM e WHERE vec_id NOT IN (SELECT vec_id FROM d)
          |ORDER BY vec_id""".stripMargin,

      // replays the SemDeDup funnel: md5-ordered seed sample, nearest-seed
      // argmax over the rounded cosine (seed-id tiebreak), most-atypical-
      // first in-cluster ranking, earlier-neighbor drop at the threshold
      // within the 256-rank window (the engine's O(n·window) scale bound —
      // a no-op at these cluster sizes, replayed for faithfulness)
      "dedup_semantic" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |seeds AS (SELECT vec_id AS sid, v AS sv FROM e
          |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
          |asg AS (SELECT vec_id, v, sid, cosc FROM (
          |    SELECT e.vec_id, e.v, s.sid,
          |           round(list_cosine_similarity(e.v, s.sv), 6) AS cosc,
          |           row_number() OVER (PARTITION BY e.vec_id
          |             ORDER BY round(list_cosine_similarity(e.v, s.sv), 6) DESC, s.sid) AS rn
          |    FROM e CROSS JOIN seeds s) WHERE rn = 1),
          |rk AS (SELECT vec_id, v, sid, cosc,
          |         row_number() OVER (PARTITION BY sid ORDER BY cosc, vec_id) AS rnk
          |       FROM asg),
          |dropped AS (SELECT DISTINCT b.vec_id
          |            FROM rk a JOIN rk b ON a.sid = b.sid AND a.rnk < b.rnk
          |                               AND b.rnk - a.rnk <= 256
          |            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.35)
          |SELECT vec_id, CAST(sid AS BIGINT) AS cluster_id
          |FROM rk WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
          |ORDER BY vec_id""".stripMargin,

      // same seed/argmax CTE as dedup_semantic, then a metadata join + agg
      "corpus_cluster_profile" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |seeds AS (SELECT vec_id AS sid, v AS sv FROM e
          |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
          |asg AS (SELECT vec_id, sid FROM (
          |    SELECT e.vec_id, s.sid,
          |           row_number() OVER (PARTITION BY e.vec_id
          |             ORDER BY round(list_cosine_similarity(e.v, s.sv), 6) DESC, s.sid) AS rn
          |    FROM e CROSS JOIN seeds s) WHERE rn = 1)
          |SELECT CAST(sid AS BIGINT) AS cluster_id,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
          |       round(avg(n_chars), 2) AS avg_chars
          |FROM documents d JOIN asg ON d.doc_id = asg.vec_id
          |GROUP BY sid
          |ORDER BY cluster_id""".stripMargin,

      "mm_media_meta" ->
        """SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
          |FROM documents
          |ORDER BY media_id""".stripMargin,

      // replays Multimodal.encodePng's arithmetic pattern: the Spark side
      // round-trips these values through a REAL PNG encode + javax.imageio
      // decode; lossless 8-bit gray means the decoded stats equal the
      // pattern computed here directly from doc_id
      "mm_media_features" ->
        """WITH px AS (SELECT doc_id,
          |        CAST(doc_id % 17 + 1 AS INTEGER) AS width,
          |        CAST(doc_id % 13 + 1 AS INTEGER) AS height,
          |        list_transform(range(0, (doc_id % 17 + 1) * (doc_id % 13 + 1)),
          |                       i -> (doc_id * 31 + i) % 256) AS vals
          |      FROM documents)
          |SELECT doc_id AS media_id, width, height, CAST(1 AS INTEGER) AS channels,
          |       round(list_avg(vals), 4) AS px_mean,
          |       CAST(list_min(vals) AS INTEGER) AS px_min,
          |       CAST(list_max(vals) AS INTEGER) AS px_max
          |FROM px
          |ORDER BY media_id""".stripMargin,

      // replays Multimodal.encodeWav's arithmetic: n = id%97 + 16 samples,
      // sample(i) = (id·31 + i·7919) % 65536 − 32768; PCM16 is lossless so
      // the real javax.sound decode recovers exactly these values
      "mm_audio_features" ->
        """WITH ids AS (SELECT doc_id, (doc_id % 97) + 16 AS n FROM documents),
          |s AS (SELECT doc_id, n, unnest(range(n)) AS i FROM ids),
          |sm AS (SELECT doc_id, n, i,
          |         ((doc_id * 31 + i * 7919) % 65536) - 32768 AS smp FROM s),
          |lg AS (SELECT doc_id, n, i, smp,
          |         lag(smp) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM sm),
          |f AS (SELECT doc_id, any_value(n) AS n,
          |        round(sqrt(avg(CAST(smp AS DOUBLE) * smp)), 4) AS rms,
          |        CAST(max(abs(smp)) AS INTEGER) AS peak,
          |        CAST(sum(CASE WHEN prev IS NOT NULL
          |                       AND ((prev >= 0) <> (smp >= 0))
          |                 THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
          |      FROM lg GROUP BY doc_id)
          |SELECT doc_id AS media_id, CAST(44 + 2 * n AS INTEGER) AS n_bytes,
          |       CAST(8000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS channels,
          |       CAST(n AS BIGINT) AS n_samples,
          |       CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
          |       rms, peak, zero_crossings
          |FROM f
          |ORDER BY media_id""".stripMargin,

      // replays injection (VERBATIM shared SQL) + the normalization chain;
      // patterns interpolated from the same UrlFunctions constants the
      // Spark Columns use (the PiiPatterns device)
      "doc_url_normalize" ->
        s"""WITH inj AS (SELECT doc_id, $urlInjectSql AS url FROM documents)
           |SELECT doc_id,
           |  ${UrlFunctions.normalizeUrlDuck("url")} AS url_norm,
           |  ${UrlFunctions.urlHostDuck("url")} AS host,
           |  ${UrlFunctions.urlTldDuck(UrlFunctions.urlHostDuck("url"))} AS tld,
           |  ${UrlFunctions.pathDepthDuck("url")} AS path_depth,
           |  ${UrlFunctions.trackingParamCountDuck("url")} AS n_tracking
           |FROM inj
           |ORDER BY doc_id""".stripMargin,

      "doc_url_host_stats" -> {
        val blocklist = urlBlocklist.map(h => s"'$h'").mkString(", ")
        s"""WITH inj AS (SELECT doc_id, $urlInjectSql AS url FROM documents),
           |n AS (SELECT ${UrlFunctions.normalizeUrlDuck("url")} AS url_norm,
           |             ${UrlFunctions.urlHostDuck("url")} AS host
           |      FROM inj)
           |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(count(DISTINCT url_norm) AS BIGINT) AS n_urls,
           |       CASE WHEN host IN ($blocklist) THEN CAST(1 AS BIGINT)
           |            ELSE CAST(0 AS BIGINT) END AS blocked
           |FROM n GROUP BY host ORDER BY host""".stripMargin
      },

      // the salt is invisible in the result: plain join + agg replay
      "q_skew_salted_join" ->
        """WITH dim AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
          |               round(avg(value), 4) AS avg_value
          |             FROM events GROUP BY user_id)
          |SELECT e.event_id, e.user_id, round(e.value, 4) AS value,
          |       d.n_events, d.avg_value
          |FROM events e JOIN dim d ON e.user_id = d.user_id
          |WHERE e.event_type = 'purchase'
          |ORDER BY e.event_id""".stripMargin,

      // replays the full web composition: strip chain + nfc_normalize +
      // host blocklist + canonical-URL keep-first + the same gate/dedup/
      // split CTEs as corpus_prepare, over the cleaned text
      "corpus_prepare_web" -> {
        val strip = HtmlStrip.stripHtmlDuck("html")
        val host = UrlFunctions.urlHostDuck("url")
        val urlNorm = UrlFunctions.normalizeUrlDuck("url")
        val blocklist = urlBlocklist.map(h => s"'$h'").mkString(", ")
        s"""WITH inj AS (SELECT doc_id, source, $htmlInjectSql AS html,
           |                    $urlInjectSql AS url FROM documents),
           |cleaned AS (SELECT doc_id, source, url,
           |              nfc_normalize($strip) AS text FROM inj),
           |nb AS (SELECT * FROM cleaned WHERE $host NOT IN ($blocklist)),
           |ukeep AS (SELECT min(doc_id) AS doc_id FROM nb GROUP BY $urlNorm),
           |u AS (SELECT nb.* FROM nb JOIN ukeep USING (doc_id)),
           |base AS (
           |  SELECT doc_id, source, $normText AS norm,
           |    length(text) AS nc,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0 / length(text) END AS p,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE len(regexp_extract_all(text, '[0-9]')) * 1.0 / length(text) END AS d,
           |    CASE WHEN length(trim(text)) = 0 THEN 0.0
           |         ELSE length(regexp_replace(text, '\\s+', '', 'g')) * 1.0
           |              / len(regexp_split_to_array(trim(text), '\\s+')) END AS m,
           |    len(regexp_extract_all(lower(text), '$stopEn')) AS h_en,
           |    len(regexp_extract_all(lower(text), '$stopDe')) AS h_de,
           |    len(regexp_extract_all(lower(text), '$stopFr')) AS h_fr,
           |    len(regexp_extract_all(lower(text), '$stopEs')) AS h_es
           |  FROM u),
           |q AS (SELECT * FROM base
           |      WHERE greatest(h_en, h_de, h_fr, h_es) > 0
           |        AND nc BETWEEN 20 AND 20000 AND p < 0.2
           |        AND m BETWEEN 2.0 AND 12.0 AND d < 0.25),
           |keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(norm))
           |SELECT q.doc_id,
           |    CASE WHEN substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.05)}' THEN 'test'
           |         WHEN substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 4) < '${Sampling.thresholdHex(0.10)}' THEN 'val'
           |         ELSE 'train' END AS split
           |FROM q JOIN keep USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      },

      // replays the shard hash, the per-shard window, and the modular
      // fingerprint checksum (60-bit md5 prefix % 2^31 keeps the sum exact
      // in a signed BIGINT on both engines)
      "doc_shard_manifest" ->
        s"""WITH h AS (SELECT doc_id, text,
           |        md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
           |a AS (SELECT doc_id, text,
           |        CAST(CAST('0x' || substr(hx, 1, 4) AS INT) % 8 AS BIGINT) AS shard,
           |        CAST(row_number() OVER (
           |          PARTITION BY CAST('0x' || substr(hx, 1, 4) AS INT) % 8
           |          ORDER BY hx, doc_id) AS BIGINT) AS pos
           |      FROM h)
           |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           |       max(pos) AS max_pos,
           |       CAST(sum(length(text)) AS BIGINT) AS n_chars,
           |       CAST(sum(CAST('0x' || substr(md5(text), 1, 15) AS UBIGINT)
           |                % 2147483648) AS BIGINT) AS checksum
           |FROM a GROUP BY shard ORDER BY shard""".stripMargin,

      // same \x{...} range classes, interpolated from ScriptProfile.Scripts
      "text_script_profile" ->
        s"""WITH inj AS (SELECT doc_id, $scriptInjectSql AS mixed FROM documents)
           |SELECT doc_id,
           |  ${ScriptProfile.countDuck("mixed", "latin")} AS n_latin,
           |  ${ScriptProfile.countDuck("mixed", "cyrillic")} AS n_cyrillic,
           |  ${ScriptProfile.countDuck("mixed", "greek")} AS n_greek,
           |  ${ScriptProfile.countDuck("mixed", "cjk")} AS n_cjk,
           |  ${ScriptProfile.countDuck("mixed", "arabic")} AS n_arabic
           |FROM inj
           |ORDER BY doc_id""".stripMargin,

      // replays the split arithmetic + fingerprint compare; 'changed' can
      // only come from the 11-multiple edit, but the oracle derives it
      // from the fingerprints like the engine does
      "corpus_diff" ->
        s"""WITH y AS (SELECT doc_id, md5($normText) AS fp FROM documents
           |           WHERE doc_id % 7 <> 0),
           |t AS (SELECT doc_id, md5(CASE WHEN doc_id % 11 = 0 THEN
           |        trim(regexp_replace(regexp_replace(lower(text || ' revised edition'),
           |          '[^a-z0-9]+', ' ', 'g'), '\\s+', ' ', 'g'))
           |        ELSE $normText END) AS fp
           |      FROM documents WHERE doc_id % 13 <> 0)
           |SELECT COALESCE(y.doc_id, t.doc_id) AS doc_id,
           |  CASE WHEN y.fp IS NULL THEN 'added'
           |       WHEN t.fp IS NULL THEN 'removed'
           |       WHEN y.fp = t.fp THEN 'unchanged'
           |       ELSE 'changed' END AS status
           |FROM y FULL OUTER JOIN t ON y.doc_id = t.doc_id
           |ORDER BY doc_id""".stripMargin,

      // both engines implement UAX #15 (JDK Normalizer / utf8proc); the
      // inject literal's bytes are shared verbatim
      "doc_nfc_normalize" ->
        s"""WITH inj AS (SELECT doc_id, $nfcInjectSql AS raw FROM documents)
           |SELECT doc_id, nfc_normalize(raw) AS nfc,
           |       CAST(length(raw) AS INTEGER) AS len_raw,
           |       CAST(length(nfc_normalize(raw)) AS INTEGER) AS len_nfc
           |FROM inj
           |ORDER BY doc_id""".stripMargin,

      // replays Multimodal.encodeBmff's layout: ftyp(20) · free(8+id%7) ·
      // moov(20+id%11 ⊃ mvhd) · mdat(9+id·13%97) — the Spark side walks
      // REAL framing bytes; the oracle recomputes each box from doc_id
      "mm_container_demux" ->
        """WITH m AS (SELECT doc_id, doc_id % 7 AS f7, doc_id % 11 AS f11,
          |                  (doc_id * 13) % 97 AS f97 FROM documents)
          |SELECT doc_id AS media_id, CAST(box_no AS INTEGER) AS box_no,
          |       box_type, CAST(box_off AS BIGINT) AS box_off,
          |       CAST(box_size AS BIGINT) AS box_size,
          |       CAST(box_level AS INTEGER) AS box_level
          |FROM (
          |  SELECT doc_id, 0 AS box_no, 'ftyp' AS box_type, 0 AS box_off,
          |         20 AS box_size, 0 AS box_level FROM m
          |  UNION ALL SELECT doc_id, 1, 'free', 20, 8 + f7, 0 FROM m
          |  UNION ALL SELECT doc_id, 2, 'moov', 28 + f7, 20 + f11, 0 FROM m
          |  UNION ALL SELECT doc_id, 3, 'mvhd', 36 + f7, 12 + f11, 1 FROM m
          |  UNION ALL SELECT doc_id, 4, 'mdat', 48 + f7 + f11, 9 + f97, 0 FROM m)
          |ORDER BY media_id, box_no""".stripMargin,

      // replays scaling + Morton interleave from the SAME generated term
      // list the Spark Column was built from (Layout.scaledSql /
      // pruning is lossless: the routed + footer-skipped scan equals the
      // plain filtered aggregate
      "layout_pruned_scan" ->
        """SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
          |FROM lineitem WHERE l_suppkey BETWEEN 5 AND 20
          |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

      // Layout.zOrderSql) — the two engines cannot drift
      "layout_zorder" -> {
        val zx = Layout.scaledSql("l_partkey", "pmin", "pspan", 16, duck = true)
        val zy = Layout.scaledSql("l_suppkey", "smin", "sspan", 16, duck = true)
        val zkey = Layout.zOrderSql(16, Seq("zx", "zy"))
        s"""WITH b AS (SELECT min(l_partkey) AS pmin,
           |             greatest(max(l_partkey) - min(l_partkey), 1) AS pspan,
           |             min(l_suppkey) AS smin,
           |             greatest(max(l_suppkey) - min(l_suppkey), 1) AS sspan
           |           FROM lineitem),
           |sc AS (SELECT $zx AS zx, $zy AS zy FROM lineitem CROSS JOIN b),
           |k AS (SELECT zx, zy, $zkey AS zkey FROM sc)
           |SELECT (zkey >> 26) AS bucket, CAST(count(*) AS BIGINT) AS n,
           |       min(zkey) AS z_min, max(zkey) AS z_max,
           |       CAST(sum(zkey) AS BIGINT) AS z_sum,
           |       min(zx) AS x_min, max(zx) AS x_max,
           |       min(zy) AS y_min, max(zy) AS y_max
           |FROM k GROUP BY bucket ORDER BY bucket""".stripMargin
      },

      // replays the Hilbert rotate-and-accumulate walk with a recursive CTE
      // generated from the same algorithm as the codegen'd expression
      "layout_hilbert" -> {
        val zx = Layout.scaledSql("l_partkey", "pmin", "pspan", 16, duck = true)
        val zy = Layout.scaledSql("l_suppkey", "smin", "sspan", 16, duck = true)
        val hil = Layout.hilbertSqlCte(16, "sc", "zx", "zy", Seq("zx", "zy"))
        s"""WITH RECURSIVE b AS (SELECT min(l_partkey) AS pmin,
           |             greatest(max(l_partkey) - min(l_partkey), 1) AS pspan,
           |             min(l_suppkey) AS smin,
           |             greatest(max(l_suppkey) - min(l_suppkey), 1) AS sspan
           |           FROM lineitem),
           |sc AS (SELECT $zx AS zx, $zy AS zy FROM lineitem CROSS JOIN b),
           |$hil
           |SELECT (hd >> 26) AS bucket, CAST(count(*) AS BIGINT) AS n,
           |       min(hd) AS h_min, max(hd) AS h_max,
           |       CAST(sum(hd) AS BIGINT) AS h_sum,
           |       min(zx) AS x_min, max(zx) AS x_max,
           |       min(zy) AS y_min, max(zy) AS y_max
           |FROM hil WHERE hs = 0 GROUP BY bucket ORDER BY bucket""".stripMargin
      },

      // replays all eight Gopher table-A1 signals over the shared-verbatim
      // fixture: list_filter word/line splits (the pinned [ \t\n\f\r]
      // class), regexp_extract_all symbol/bullet/ellipsis counts, the
      // distinct-stopword membership fold, and the same raw-double gate
      // conjunction (counts divide exactly, so the unrounded comparisons
      // agree bit-for-bit)
      "doc_gopher_gate" ->
        s"""WITH inj AS (SELECT doc_id, $gopherInjectSql AS page FROM documents),
           |b AS (SELECT doc_id, page,
           |        list_filter(regexp_split_to_array(page, '[ \\t\\n\\f\\r]+'), w -> w != '') AS ws,
           |        list_filter(string_split(page, chr(10)), l -> trim(l) != '') AS ls
           |      FROM inj),
           |sig AS (SELECT doc_id, len(ws) AS n_words, len(ls) AS n_lines,
           |        CASE WHEN len(ws) = 0 THEN 0.0
           |             ELSE list_aggregate(list_transform(ws, w -> length(w)), 'sum') * 1.0 / len(ws) END AS mwl,
           |        CASE WHEN len(ws) = 0 THEN 0.0
           |             ELSE len(regexp_extract_all(page, '#|\\.\\.\\.|…')) * 1.0 / len(ws) END AS swr,
           |        CASE WHEN len(ls) = 0 THEN 0.0
           |             ELSE len(list_filter(ls, l -> regexp_matches(ltrim(l), '^[-*•‣▪]'))) * 1.0 / len(ls) END AS blf,
           |        CASE WHEN len(ls) = 0 THEN 0.0
           |             ELSE len(list_filter(ls, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$$'))) * 1.0 / len(ls) END AS elf,
           |        CASE WHEN len(ws) = 0 THEN 0.0
           |             ELSE len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) * 1.0 / len(ws) END AS awf,
           |        len(list_filter(['and','be','have','of','that','the','to','with'],
           |              s -> len(list_filter(ws, w -> lower(w) = s)) > 0)) AS sh
           |      FROM b)
           |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           |  round(mwl, 4) + 0.0 AS mean_word_len,
           |  round(swr, 4) + 0.0 AS symbol_word_ratio,
           |  round(blf, 4) + 0.0 AS bullet_line_frac,
           |  round(elf, 4) + 0.0 AS ellipsis_line_frac,
           |  round(awf, 4) + 0.0 AS alpha_word_frac,
           |  CAST(sh AS BIGINT) AS stopword_hits,
           |  CAST(n_lines AS BIGINT) AS n_lines,
           |  (n_words BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
           |    AND swr <= 0.1 AND blf <= 0.9 AND elf <= 0.3
           |    AND awf >= 0.8 AND sh >= 2 AS keep
           |FROM sig ORDER BY doc_id""".stripMargin,

      // replays the C4 line filter (terminal punct + ≥5 words + no
      // javascript) via list_filter + array_to_string, then the page gates
      // over cleaned/raw text
      "doc_c4_clean" ->
        s"""WITH inj AS (SELECT doc_id, $c4InjectSql AS page FROM documents),
           |cl AS (SELECT doc_id, page,
           |        array_to_string(list_filter(string_split(page, chr(10)), l ->
           |          regexp_matches(trim(l), '[.!?"]$$')
           |          AND len(list_filter(regexp_split_to_array(trim(l), '[ \\t\\n\\f\\r]+'), w -> w != '')) >= 5
           |          AND NOT regexp_matches(lower(l), '\\bjavascript\\b')), chr(10)) AS text_clean
           |      FROM inj)
           |SELECT doc_id, text_clean,
           |  CAST(len(regexp_extract_all(text_clean, '[.!?]')) AS BIGINT) AS n_sentences
           |FROM cl
           |WHERE len(regexp_extract_all(text_clean, '[.!?]')) >= 3
           |  AND NOT contains(lower(page), 'lorem ipsum')
           |  AND NOT contains(page, '{')
           |ORDER BY doc_id""".stripMargin,

      // replays the hashed-NB funnel: md5Hash60 word buckets (the DSIR
      // device), per-(bucket,label) counts, Laplace-smoothed log2
      // probabilities, per-doc×label posterior sums + log2 priors, argmax
      // at the shared 4-dp rounding with the label-ascending tie rule
      "doc_nb_classify" ->
        """WITH w AS (SELECT doc_id, lang,
          |        unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents),
          |toks AS (SELECT doc_id, lang,
          |        CAST(CAST('0x' || substr(md5(w), 1, 15) AS UBIGINT) % 512 AS BIGINT) AS b
          |      FROM w WHERE w != ''),
          |counts AS (SELECT b, lang, count(*) AS c FROM toks GROUP BY b, lang),
          |tot AS (SELECT lang, sum(c) AS tot FROM counts GROUP BY lang),
          |nd AS (SELECT count(*) AS nd FROM documents),
          |priors AS (SELECT lang, log2(count(*) * 1.0 / (SELECT nd FROM nd)) AS prior
          |           FROM documents GROUP BY lang),
          |db AS (SELECT doc_id, b, count(*) AS n FROM toks GROUP BY doc_id, b),
          |labels AS (SELECT DISTINCT lang FROM documents),
          |sc AS (SELECT db.doc_id, l.lang,
          |         sum(db.n * log2((coalesce(c.c, 0) + 1.0) / (t.tot + 512.0))) AS s
          |       FROM db CROSS JOIN labels l
          |       JOIN tot t ON t.lang = l.lang
          |       LEFT JOIN counts c ON c.b = db.b AND c.lang = l.lang
          |       GROUP BY db.doc_id, l.lang),
          |posts AS (SELECT d.doc_id, l.lang,
          |            round(p.prior + coalesce(sc.s, 0.0), 4) + 0.0 AS p
          |          FROM documents d CROSS JOIN labels l
          |          JOIN priors p ON p.lang = l.lang
          |          LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.lang = l.lang),
          |best AS (SELECT doc_id, lang, p,
          |           row_number() OVER (PARTITION BY doc_id ORDER BY p DESC, lang ASC) AS rk
          |         FROM posts)
          |SELECT doc_id, lang AS predicted, p AS score FROM best WHERE rk = 1
          |ORDER BY doc_id""".stripMargin,

      // replays the daily resample: per-user day aggregate, generate_series
      // grid between each user's first and last day, LOCF via
      // last_value IGNORE NULLS over the ordered per-user window
      "q_events_resample_locf" ->
        """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day,
          |        round(avg(value), 4) + 0.0 AS day_avg
          |      FROM events GROUP BY 1, 2),
          |spans AS (SELECT user_id, date_trunc('day', min(ts)) AS d0,
          |        date_trunc('day', max(ts)) AS d1
          |      FROM events GROUP BY 1),
          |grid AS (SELECT user_id,
          |        unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM spans)
          |SELECT g.user_id, g.day,
          |  last_value(d.day_avg IGNORE NULLS) OVER (PARTITION BY g.user_id
          |    ORDER BY g.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
          |  d.day_avg IS NULL AS is_gap
          |FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
          |ORDER BY g.user_id, g.day""".stripMargin,

      // same grams/cap CTEs as dedup_ngram_jaccard, asymmetric verify:
      // i / |A| over BOTH orientations (a.doc_id != b.doc_id)
      "dedup_containment" ->
        s"""WITH t AS (SELECT doc_id, $normText AS norm FROM documents),
           |tk AS (SELECT doc_id, regexp_split_to_array(norm, ' ') AS toks FROM t),
           |g0 AS (SELECT DISTINCT doc_id,
           |        CASE WHEN len(toks) < 3 THEN array_to_string(toks, ' ')
           |             ELSE array_to_string(toks[i:i+2], ' ') END AS gram
           |      FROM tk, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 1, 2))) AS i) r),
           |g AS (SELECT doc_id, gram FROM g0
           |      WHERE gram NOT IN (SELECT gram FROM g0 GROUP BY gram HAVING count(*) > 100)),
           |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
           |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
           |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id != b.doc_id GROUP BY 1, 2)
           |SELECT ia AS id_a, ib AS id_b, round(i * 1.0 / ca.n, 4) AS containment
           |FROM inter JOIN cnt ca ON ia = ca.doc_id
           |WHERE round(i * 1.0 / ca.n, 4) >= 0.8
           |ORDER BY id_a, id_b""".stripMargin,

      // each event into its two 2h/1h sliding windows via a 2-element unnest
      "q_events_sliding" ->
        """WITH e AS (SELECT event_type, value, date_trunc('hour', ts) AS h FROM events),
          |x AS (SELECT event_type, value,
          |        unnest([h, h - INTERVAL 1 HOUR]) AS w_start FROM e)
          |SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS n_events,
          |  round(sum(value), 4) + 0.0 AS sum_value
          |FROM x GROUP BY 1, 2
          |ORDER BY 1, 2""".stripMargin,

      "q_rollup_pricing" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
          |  coalesce(l_linestatus, 'ALL') AS ls,
          |  CAST(count(*) AS BIGINT) AS n,
          |  round(sum(l_quantity), 2) + 0.0 AS sum_qty,
          |  round(sum(l_extendedprice), 2) + 0.0 AS sum_price
          |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
          |ORDER BY rf, ls""".stripMargin,

      "q_cube_pricing" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
          |  coalesce(l_linestatus, 'ALL') AS ls,
          |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
          |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
          |  CAST(count(*) AS BIGINT) AS n,
          |  round(sum(l_quantity), 2) + 0.0 AS sum_qty
          |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
          |ORDER BY g_rf, g_ls, rf, ls""".stripMargin,

      "q_grouping_sets" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
          |  coalesce(l_linestatus, 'ALL') AS ls,
          |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
          |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
          |  CAST(count(*) AS BIGINT) AS n,
          |  round(sum(l_quantity), 2) + 0.0 AS sum_qty
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY g_rf, g_ls, rf, ls""".stripMargin,

      "q_orders_decile" ->
        """SELECT o_orderkey, o_orderpriority, CAST(decile AS BIGINT) AS decile,
          |  round(pr, 6) + 0.0 AS pct_rank,
          |  round(cd, 6) + 0.0 AS cume
          |FROM (
          |  SELECT o_orderkey, o_orderpriority,
          |    ntile(10) OVER w AS decile,
          |    percent_rank() OVER w AS pr,
          |    cume_dist() OVER w AS cd
          |  FROM orders
          |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
          |)
          |WHERE decile = 10
          |ORDER BY o_orderkey""".stripMargin
    )
  }
}
