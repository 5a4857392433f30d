package graft

/** Profiling main, on the bench's session (`Harness.benchConf`) so its
  * timings transfer to `Bench`.
  * Corpus: `SPARK_GRAFT_SF_DIR` (default sf0.1). Modes:
  *   - `time_q <name>...` — warm min-of-3 per registry query;
  *   - `explain_q <outDir> <suffix> <name>...` — formatted physical plans;
  *   - `gen_scale <mult> <outDir>` — key-offset near-replica corpus;
  *   - `gen_fresh <mult> <outDir>` — fresh-key Zipf-text corpus.
  * The one-off decomposition modes whose results BASELINE.md cites
  * (`conf_sweep`, `q129_stages`, `q161_sub`, ...) were removed; read them
  * at `git show 4f82cb1:src/main/scala/graft/Prof.scala`. */
object Prof {
  def main(args: Array[String]): Unit = {
    val modes = Seq("time_q", "explain_q", "gen_scale", "gen_fresh")
    require(args.headOption.exists(modes.contains),
      s"usage: Prof ${modes.mkString("|")} <args> (see the Prof scaladoc)")
    QuerySupport.singlePartitionFinals = true // harness JVM: bench-scale finals
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.benchConf)
    def t(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name: min ${ts.min}%.2f  runs ${ts.map(x => f"$x%.2f").mkString(" ")}")
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    import org.apache.spark.sql.functions._
    if (args.headOption.contains("time_q")) {
      // Generic per-query timer (round 17): `time_q <name>...` runs each
      // named SparkEntry registry query with the bench's noop-write sink
      // and the warm min-of-3 discipline — the per-query measurement the
      // watchlist/freeze-door adjudications need without a full bench
      // pass. Same JVM for all names given, so A/B pairs interleave
      // fairly.
      val names = args.drop(1)
      require(names.nonEmpty, "time_q needs at least one query name")
      names.foreach(n => require(SparkEntry.queries.contains(n),
        s"unknown query: $n"))
      (1 to 2).foreach { _ =>
        names.foreach(n => t(n)(SparkEntry.queries(n)(spark, d)))
      }
    } else if (args.headOption.contains("explain_q")) {
      // Plan dumper (round 18): `explain_q <outDir> <suffix> <name>...`
      // writes each named registry query's formatted physical plan to
      // <outDir>/<name>_<suffix>.txt — the before/after plan evidence
      // the optimization-round deliverable requires (plans/r18/).
      val outDir = args(1); val suffix = args(2)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      args.drop(3).foreach { n =>
        require(SparkEntry.queries.contains(n), s"unknown query: $n")
        val df = SparkEntry.queries(n)(spark, d)
        val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
          .queryExecution
          .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
        spark.catalog.clearCache()
        println(s"wrote $outDir/${n}_$suffix.txt")
      }
    } else if (args.headOption.contains("gen_scale")) {
      // Synthesize a larger corpus for scale-shape validation (round-12
      // verdict item): `gen_scale <mult> <outDir>` writes <mult> key-
      // offset copies of every sf0.1 table to <outDir>. Copy i > 0
      // appends a distinct tail token to each document text and nudges
      // embedding[0] by 0.001*i, so copies are NEAR-replicas (realistic
      // duplicate mass for the dedup family) rather than exact clones
      // (which would inflate pair counts quadratically). Dims
      // region/nation copy as-is. NOT test data for the oracle gate —
      // timing only.
      val mult = args(1).toInt
      val out = args(2)
      val off = 100000000L
      def copies(t: String, f: (org.apache.spark.sql.DataFrame, Int) =>
          org.apache.spark.sql.DataFrame): Unit = {
        val base = spark.read.parquet(s"$d/$t.parquet")
        (0 until mult).map(i => f(base, i)).reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
        println(s"wrote $t x$mult")
      }
      def shift(c: String, i: Int): org.apache.spark.sql.Column =
        col(c) + lit(i * off)
      copies("region", (b, _) => b)
      copies("nation", (b, _) => b)
      copies("customer", (b, i) => b.withColumn("c_custkey", shift("c_custkey", i)))
      copies("supplier", (b, i) => b.withColumn("s_suppkey", shift("s_suppkey", i)))
      copies("part", (b, i) => b.withColumn("p_partkey", shift("p_partkey", i)))
      copies("orders", (b, i) => b
        .withColumn("o_orderkey", shift("o_orderkey", i))
        .withColumn("o_custkey", shift("o_custkey", i)))
      copies("lineitem", (b, i) => b
        .withColumn("l_orderkey", shift("l_orderkey", i))
        .withColumn("l_partkey", shift("l_partkey", i))
        .withColumn("l_suppkey", shift("l_suppkey", i)))
      copies("events", (b, i) => b
        .withColumn("event_id", shift("event_id", i))
        .withColumn("user_id", shift("user_id", i)))
      copies("documents", (b, i) => {
        val t = if (i == 0) col("text")
          else concat(col("text"), lit(s" zcopytok$i"))
        b.withColumn("doc_id", shift("doc_id", i))
          .withColumn("text", t)
          .withColumn("n_chars", length(t).cast("long"))
      })
      copies("embeddings", (b, i) => b
        .withColumn("vec_id", shift("vec_id", i))
        .withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            when(j === 0, x + lit(0.001f * i)).otherwise(x))))
    } else if (args.headOption.contains("gen_fresh")) {
      // Fresh-KEY scale corpora (round-15 verdict item 5): `gen_fresh
      // <mult> <outDir>` synthesizes every table at <mult> x the sf0.1
      // row counts with GENUINELY NEW key/token mass — no replicas.
      // gen_scale's key-offset copies are right for dedup/pair-mass
      // shapes but feed joins and groupBys inflated duplicate keys;
      // here every key domain (customers, orders, parts, users, vocab)
      // GROWS with the corpus, and document text is drawn from a
      // Zipf(1) vocabulary via the inverse-CDF approximation r = V^u
      // (P(r) ∝ 1/r), with V following a Heaps-style V0·mult^0.7 curve
      // so LM type-table mass grows sublinearly like a real corpus.
      // Deterministic (xxhash64 of row id + salt — reruns are
      // identical), fully distributed (spark.range + column
      // expressions, no driver data). NOT oracle test data — timing
      // only, like gen_scale.
      val mult = args(1).toInt
      val out = args(2)
      require(mult >= 1, s"mult must be >= 1: $mult")
      def h(salt: String, cols: org.apache.spark.sql.Column*) =
        xxhash64((cols :+ lit(salt)): _*)
      // uniform long in [0, n)
      def un(n: Long, salt: String, cols: org.apache.spark.sql.Column*) =
        pmod(h(salt, cols: _*), lit(n))
      // uniform double in (0, 1)
      def ud(salt: String, cols: org.apache.spark.sql.Column*) =
        (pmod(h(salt, cols: _*), lit(1000000L)).cast("double") + lit(0.5)) /
          lit(1000000.0)
      def pick(salt: String, vs: String*) =
        element_at(array(vs.map(lit): _*),
          (un(vs.size.toLong, salt, col("id")) + 1L).cast("int"))
      def ts1992(salt: String, spanDays: Int) = timestamp_seconds(
        lit(694224000L) + un(spanDays.toLong, salt, col("id")) * 86400L +
          un(86400L, salt + "s", col("id")))
      val nC = 15000L * mult; val nO = 150000L * mult
      val nL = 600000L * mult; val nP = 20000L * mult
      val nS = 1000L * mult; val nD = 5000L * mult
      val nE = 100000L * mult; val nU = 20000L * mult
      val nV = 2000L * mult
      val vocab = math.max(1000L,
        (20000.0 * math.pow(mult.toDouble, 0.7)).toLong)
      def write(t: String, df: org.apache.spark.sql.DataFrame): Unit = {
        df.write.mode("overwrite").parquet(s"$out/$t.parquet")
        println(s"wrote fresh $t")
      }
      for (t <- Seq("region", "nation"))
        write(t, spark.read.parquet(s"$d/$t.parquet"))
      write("customer", spark.range(nC).select(
        col("id").as("c_custkey"),
        concat(lit("Customer#"), col("id")).as("c_name"),
        un(25L, "cn", col("id")).cast("int").as("c_nationkey"),
        round(un(1100000L, "cb", col("id")).cast("double") / 100.0 - 1000.0,
          2).as("c_acctbal"),
        pick("cm", "BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD",
          "FURNITURE").as("c_mktsegment")))
      write("supplier", spark.range(nS).select(
        col("id").as("s_suppkey"),
        concat(lit("Supplier#"), col("id")).as("s_name"),
        un(25L, "sn", col("id")).cast("int").as("s_nationkey"),
        round(un(1100000L, "sb", col("id")).cast("double") / 100.0 - 1000.0,
          2).as("s_acctbal")))
      write("part", spark.range(nP).select(
        col("id").as("p_partkey"),
        concat(lit("part tok"), un(vocab, "pn1", col("id")), lit(" tok"),
          un(vocab, "pn2", col("id"))).as("p_name"),
        concat(lit("Brand#"), un(50L, "pb", col("id"))).as("p_brand"),
        pick("pt", "ECONOMY", "STANDARD", "PROMO", "MEDIUM", "LARGE")
          .as("p_type"),
        (un(50L, "ps", col("id")) + 1L).cast("int").as("p_size"),
        round(un(200000L, "pr", col("id")).cast("double") / 100.0 + 1.0, 2)
          .as("p_retailprice")))
      write("orders", spark.range(nO).select(
        col("id").as("o_orderkey"),
        un(nC, "oc", col("id")).as("o_custkey"),
        pick("os", "O", "F", "P").as("o_orderstatus"),
        round(un(49900000L, "ot", col("id")).cast("double") / 100.0 + 1000.0,
          2).as("o_totalprice"),
        ts1992("od", 2190).as("o_orderdate"),
        pick("op", "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW").as("o_orderpriority")))
      write("lineitem", spark.range(nL).select(
        un(nO, "lo", col("id")).as("l_orderkey"),
        un(nP, "lp", col("id")).as("l_partkey"),
        un(nS, "ls", col("id")).as("l_suppkey"),
        (un(7L, "ln", col("id")) + 1L).cast("int").as("l_linenumber"),
        (un(50L, "lq", col("id")) + 1L).cast("double").as("l_quantity"),
        round(un(10000000L, "le", col("id")).cast("double") / 100.0 + 1.0,
          2).as("l_extendedprice"),
        (un(11L, "ld", col("id")).cast("double") / 100.0).as("l_discount"),
        (un(9L, "lt", col("id")).cast("double") / 100.0).as("l_tax"),
        pick("lr", "A", "N", "R").as("l_returnflag"),
        pick("ll", "O", "F").as("l_linestatus"),
        ts1992("lsd", 2372).as("l_shipdate")))
      // Zipf(1) text: token rank r = ceil(V^u) — P(r) ∝ 1/r.
      // Round 16: a controlled CLONE rate rides the fresh corpus —
      // every 20th doc is its predecessor's text with ONE token edited
      // — so the pair-mass families (near-dup join, chunk clusters,
      // winnow pairs) see organic duplicate mass that grows LINEARLY
      // with the corpus (nD/20 true pairs), unlike gen_scale's replica
      // corpora whose pair mass is quadratic-friendly by construction.
      // Everything stays deterministic in (id, salt).
      def toksOf(idc: org.apache.spark.sql.Column) = transform(
        sequence(lit(1), (un(120L, "dl", idc) + 30L).cast("int")),
        i => concat(lit("tok"),
          ceil(pow(lit(vocab.toDouble), ud("dt", idc, i))).cast("long")))
      val isClone = col("id") % 20 === 0 && col("id") >= 1
      val srcId = when(isClone, col("id") - 1).otherwise(col("id"))
      val srcToks = toksOf(srcId)
      val docToks = when(isClone,
        transform(srcToks, (x, i) =>
          when(i === 4, concat(lit("edit"), col("id"))).otherwise(x)))
        .otherwise(srcToks)
      val docText = array_join(docToks, " ")
      write("documents", spark.range(nD).select(
        col("id").as("doc_id"),
        docText.as("text"),
        pick("dg", "en", "de", "fr", "es").as("lang"),
        concat(lit("src"), un(20L, "ds", col("id"))).as("source"),
        length(docText).cast("long").as("n_chars")))
      write("events", spark.range(nE).select(
        col("id").as("event_id"),
        timestamp_seconds(lit(1704067200L) +
          un(31536000L, "et", col("id"))).as("ts"),
        un(nU, "eu", col("id")).as("user_id"),
        pick("ek", "view", "click", "add", "buy", "share", "search")
          .as("event_type"),
        round(un(100000L, "ev", col("id")).cast("double") / 100.0, 2)
          .as("value"),
        concat(lit("{\"k\":"), un(100L, "ep", col("id")), lit("}"))
          .as("props")))
      write("embeddings", spark.range(nV).select(
        col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)), j =>
          (un(2000L, "em", col("id"), j).cast("double") / 1000.0 - 1.0)
            .cast("float")).as("embedding"),
        un(10L, "el", col("id")).cast("int").as("label")))
    }
    spark.stop()
  }
}
