package graft

/** Shuffle-budget regression guard: every headline query's executed plan
  * must stay within the exchange count recorded in the PLANS_r3.md audit.
  * Exchange count is a plan-shape property (independent of scale factor),
  * so this runs at sf0.001; a change that sneaks an extra shuffle into a
  * headline path fails here instead of silently regressing the bench. */
class PlanShapeSpec extends SparkSpecBase {

  private val shuffleBudget: Seq[(String, Int)] = Seq(
    "q01_pricing_summary" -> 1,
    "q02_daily_sales" -> 2,
    "q05_customer_ltv" -> 1,
    "q06_product_performance" -> 1,
    "q11_basket_pairs" -> 2,
    "q14_customer_behavior" -> 2,
    // 2 since r4: distributed NTILE (window hash-partitioned on the range
    // pid + final agg); the range shuffle itself runs inside the pinned
    // localCheckpoint job, outside this plan
    "q19_txn_size_bins" -> 2,
    "q42_dedup_ngram_jaccard" -> 2,
    "q43_dedup_minhash_lsh" -> 2,
    "q44_dedup_simhash" -> 2,
    "q46_ann_brute_topk" -> 0,
    "q48_text_stats" -> 1,
    // 1 since r11: the per-pair aggregate that structurally bars the
    // decimal confirm from the join condition exchanges prefilter
    // SURVIVORS only (the vanishing near-dup fraction) — the price of
    // making the q143-style barrier structural rather than AND-order luck
    "q52_embedding_near_dups" -> 1,
    "q55_profile_part" -> 2)

  private def shuffles(name: String): Int = {
    val exec = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
    exec.execute().count()
    val full = exec.toString
    val finalPlan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i  => full.substring(0, i)
    }
    ("Exchange hashpartitioning|Exchange rangepartitioning|Exchange SinglePartition".r
      .findAllIn(finalPlan).size)
  }

  shuffleBudget.foreach { case (name, budget) =>
    test(s"$name stays within its $budget-shuffle budget") {
      val got = shuffles(name)
      assert(got <= budget, s"$name now shuffles $got times (budget $budget) — " +
        "plan regression; see PLANS_r3.md")
    }
  }

  // every Tables reader resolves its schema with a driver-side footer read
  // (sources.ParquetFiles): building a star-schema query launches no Spark
  // job, so a reader that goes back to schema inference fails here
  Seq("q05_customer_ltv", "q06_product_performance", "q12_customer_dim",
      "q13_location_agg", "q14_customer_behavior").foreach { name =>
    test(s"building $name launches no Spark job") {
      val (_, jobs) = jobsLaunchedBy(SparkEntry.queries(name)(spark, sf))
      assert(jobs.isEmpty, s"building $name launched jobs ${jobs.mkString(",")}")
    }
  }

  // r3 verdict items 2-4: the NTILE queries must never regress back to a
  // one-task global-sort window (the full-registry sweep is
  // `runMain graft.tools.PlanAudit --windows`; q72/q73 are allow-listed
  // there because their window inputs are calendar-bounded aggregates)
  Seq("q19_txn_size_bins", "q09_price_band_performance", "q70_rfm_segmentation")
    .foreach { name =>
      test(s"$name executes no un-partitioned window") {
        val df = SparkEntry.queries(name)(spark, sf)
        assert(graft.tools.PlanCheck.unpartitionedWindows(df).isEmpty,
          s"$name has a single-partition window — use operators.Ranks")
      }
    }

  // q138's salted SHAPE (its values are oracle-gated): with broadcast off
  // — forcing the shuffle join salting exists for — the dim side must
  // replicate via Generate(explode(sequence)) and the 90% hot key's rows
  // must actually spread over multiple reducers instead of hashing onto
  // one (the whole point of the salt in the join key).
  test("q138 salted join: dim replicated via explode(sequence); hot key spreads over reducers") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // sf0.001 is small enough that AQE coalesces every reducer back into
    // one partition, which would hide the spread this test measures
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val fact = Tables.lineitem(spark, sf).select(
        when(col("l_orderkey") % 10 < 9, lit(0L))
          .otherwise(col("l_partkey") % 25).as("skew_key"),
        col("l_extendedprice"))
      val dim = Tables.nation(spark, sf).select(col("n_nationkey"), col("n_name"))
      val joined = graft.operators.Skew.saltedJoin(
        fact, dim, "skew_key", "n_nationkey", salts = 8)
      joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      // the literal sequence(0, salts-1) constant-folds to an array before
      // the physical plan, so the witness is the Generate(explode) node
      // plus the salt columns in the join keys
      assert(plan.contains("Generate explode"),
        "dim side is not replicated via explode(sequence):\n" + plan.take(1200))
      assert(plan.contains("__salt") && plan.contains("__dsalt"),
        "join keys carry no salt columns:\n" + plan.take(1200))
      val hotPids = joined.withColumn("pid", spark_partition_id())
        .filter(col("skew_key") === 0)
        .select("pid").distinct().count()
      assert(hotPids > 1,
        s"hot key landed on $hotPids reducer(s) — salting ineffective")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
  }

  // The near-dup pair miner's exact-decimal confirm must live ABOVE the
  // join, behind a pushdown barrier (the per-pair aggregate), never in
  // the join condition: there, optimizer AND-order decides whether the
  // exact decimal fold runs on every candidate pair (a reversed
  // order measured 16.5 s vs 0.6 s on q143's shape before it moved its
  // confirm into the aggregate). r11 made q52 structural too — this
  // asserts the STRUCTURE, not a lucky AND order. (Since r20's finding
  // #6 the confirm is the codegen'd `decimal_dot` kernel rather than the
  // interpreted `aggregate(zip_with(…))` HOF — cheaper per pair, but the
  // cheap-double-prefilter-joins / exact-confirm-above-the-join split is
  // still the structural property keeping the confirm off the full
  // candidate cross product.)
  test("q52: decimal confirm sits above the join behind the aggregate " +
      "barrier; only the float_array_dot prefilter joins") {
    val exec = SparkEntry.queries("q52_embedding_near_dups")(spark, sf)
      .queryExecution.executedPlan
    exec.execute().count()
    val lines = exec.toString.linesIterator.toSeq
    val joinLines = lines.filter(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin") ||
        l.contains("NestedLoop"))
    assert(joinLines.nonEmpty, "expected a join in the q52 plan")
    // the codegen'd double prefilter IS the join condition...
    assert(joinLines.exists(_.contains("float_array_dot")),
      "float_array_dot prefilter missing from the join condition:\n" +
        joinLines.mkString("\n"))
    // ...and the exact decimal fold appears in NO join condition —
    // it is evaluated only in the aggregate over prefilter survivors
    assert(!joinLines.exists(_.contains("decimal_dot")),
      "decimal exact-confirm leaked into a join condition — the fold " +
        "would run on every candidate pair:\n" + joinLines.mkString("\n"))
    assert(lines.exists(l => l.contains("HashAggregate") &&
        l.contains("decimal_dot")),
      "expected the decimal confirm inside the per-pair aggregate")
  }
}
