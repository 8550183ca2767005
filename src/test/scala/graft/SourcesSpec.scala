package graft

import graft.sources.{Csv, Generator, Jdbc, Sampling, Warehouse}
import graft.operators.Baskets
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink behavior: round-trips, tolerant scans, sampler closure,
  * upsert idempotency, generator determinism. */
class SourcesSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(name: String) =
    s"${System.getProperty("java.io.tmpdir")}/graft-test/$name"

  test("CSV round-trip preserves values incl. timestamps") {
    val orders = Tables.orders(spark, sf)
    Csv.write(orders, tmp("orders_csv"))
    val back = Csv.read(spark, tmp("orders_csv"), new StructType()
      .add("o_orderkey", LongType).add("o_custkey", LongType)
      .add("o_orderstatus", StringType).add("o_totalprice", DoubleType)
      .add("o_orderdate", TimestampType).add("o_orderpriority", StringType))
    assert(back.count() == orders.count())
    assert(back.filter($"o_orderdate".isNull).count() == 0)
    val a = orders.agg(sum($"o_totalprice".cast("decimal(18,2)"))).head.getDecimal(0)
    val b = back.agg(sum($"o_totalprice".cast("decimal(18,2)"))).head.getDecimal(0)
    assert(a == b)
  }

  test("tolerant scan drops malformed rows, keeps the rest") {
    val path = tmp("bad_csv")
    val lines = Seq("id,name,price", "1,a,10.5", "garbage_no_commas_number", "x,y,z", "2,b,20.0")
    spark.sparkContext.parallelize(lines, 1).toDF("line")
      .coalesce(1).write.mode("overwrite").text(path)
    val schema = new StructType()
      .add("id", LongType).add("name", StringType).add("price", DoubleType)
    val got = Csv.readTolerant(spark, path, schema)
    assert(got.count() == 2)
    assert(got.agg(sum("price")).head.getDouble(0) == 30.5)
  }

  test("sampler output is referentially closed") {
    val cust = Tables.customer(spark, sf)
    val sampled = Sampling.sampleDim(cust, 0.2, seed = 42)
    val orders = Sampling.closeOver(Tables.orders(spark, sf), "o_custkey", sampled, "c_custkey")
    // every kept order's customer is in the sample
    val orphans = orders.join(sampled, orders("o_custkey") === sampled("c_custkey"), "left_anti")
    assert(orphans.count() == 0)
    val frac = sampled.count().toDouble / cust.count()
    assert(frac > 0.05 && frac < 0.4, s"fraction out of band: $frac")
  }

  test("upsertPlan is idempotent and keeps base rows on conflict") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val incoming = Seq((2L, "CONFLICT"), (3L, "c")).toDF("k", "v")
    val once = Warehouse.upsertPlan(base, incoming, Seq("k"))
    val twice = Warehouse.upsertPlan(once, incoming, Seq("k"))
    val m = twice.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "a", 2L -> "b", 3L -> "c"))  // base "b" survives
    assert(twice.count() == 3)
  }

  test("overwritePartitioned writes date partitions readable with pruning") {
    Warehouse.ensureDatabase(spark, "graft_test")
    val daily = Tables.orders(spark, sf)
      .withColumn("sale_date", to_date($"o_orderdate").cast("string"))
      .groupBy("sale_date").agg(count(lit(1)).as("n"))
    Warehouse.overwritePartitioned(daily, "graft_test.daily", "sale_date")
    val back = spark.table("graft_test.daily")
    assert(back.agg(sum("n")).head.getLong(0) == Tables.orders(spark, sf).count())
    // partition pruning: a one-day filter scans a single partition directory
    val day = daily.select("sale_date").head.getString(0)
    val pruned = back.filter($"sale_date" === day)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() >= 1)
    assert(scan.contains("PartitionFilters: [isnotnull(sale_date"), scan.take(500))
  }

  test("saltedAgg equals plain aggregation (skew-safe two-phase)") {
    import graft.operators.Skew
    val li = Tables.lineitem(spark, sf)
    val salted = Skew.saltedAgg(li, col("l_returnflag"), salts = 8, Map(
        "total_qty" -> (sum(col("l_quantity")), sum(col("total_qty"))),
        "cnt" -> (count(lit(1)), sum(col("cnt")))))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val plain = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted == plain)
  }

  test("saltedJoin equals plain join on skewed data for inner and left semantics") {
    import graft.operators.Skew
    // heavily skewed fact: 90% of rows on one key, plus an unmatched key
    val fact = ((1 to 900).map(i => (1L, s"r$i")) ++ (1 to 90).map(i => (2L, s"s$i")) ++
      Seq((99L, "orphan"))).toDF("k", "payload")
    val dim = Seq((1L, "hot"), (2L, "warm"), (3L, "unused")).toDF("dk", "name")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "payload", "name").collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).sorted.toSeq
    val plainInner = canon(fact.join(dim, fact("k") === dim("dk"), "inner"))
    val saltedInner = canon(Skew.saltedJoin(fact, dim, "k", "dk", salts = 8))
    assert(saltedInner == plainInner && plainInner.size == 990)
    val plainLeft = canon(fact.join(dim, fact("k") === dim("dk"), "left"))
    val saltedLeft = canon(Skew.saltedJoin(fact, dim, "k", "dk", salts = 8, "left"))
    assert(saltedLeft == plainLeft && plainLeft.size == 991)  // orphan kept with null
  }

  test("bloomPrunedJoin: exact parity with plain join; probe prunes before the shuffle") {
    import graft.operators.RuntimeFilters
    val fact = Tables.orders(spark, sf)
    val dim = Tables.customer(spark, sf).filter($"c_acctbal" > 8000)
    val got = RuntimeFilters.bloomPrunedJoin(fact, dim, "o_custkey", "c_custkey", 100000L)
      .select($"o_orderkey", $"c_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val plain = fact.join(dim, fact("o_custkey") === dim("c_custkey"))
      .select($"o_orderkey", $"c_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == plain && plain.nonEmpty)
    // the pre-filter is a one-sided-error superset of the true matches
    val bloom = RuntimeFilters.bloomOfKeys(dim, "c_custkey", 100000L)
    val prunedN = fact.filter(RuntimeFilters.mightContain(bloom, $"o_custkey")).count()
    val trueN = fact.join(dim, fact("o_custkey") === dim("c_custkey"), "left_semi").count()
    assert(prunedN >= trueN && prunedN < fact.count(),
      s"pruned=$prunedN true=$trueN total=${fact.count()}")
    // probe is the codegen'd native expression, applied as a fact-side Filter
    val plan = RuntimeFilters.bloomPrunedJoin(fact, dim, "o_custkey", "c_custkey", 100000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(600))
    // semi-join variant is exact too
    val semi = RuntimeFilters
      .bloomPrunedJoin(fact, dim, "o_custkey", "c_custkey", 100000L, joinType = "left_semi")
      .count()
    assert(semi == fact.join(dim, fact("o_custkey") === dim("c_custkey"), "left_semi").count())
  }

  test("bucketed tables join with no shuffle exchange") {
    Warehouse.ensureDatabase(spark, "graft_test")
    val orders = Tables.orders(spark, sf)
    val lineitem = Tables.lineitem(spark, sf)
    Warehouse.writeBucketed(orders, "graft_test.orders_b", "o_orderkey", 4)
    Warehouse.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      "graft_test.lineitem_b", "o_orderkey", 4)
    val joined = spark.table("graft_test.orders_b")
      .join(spark.table("graft_test.lineitem_b"), "o_orderkey")
    // force sort-merge (broadcast would hide the point at this scale)
    val smj = joined.hint("merge")
    val plan = smj.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n${plan.take(800)}")
    assert(smj.count() == lineitem.count())
  }

  test("generator sessions group ~5 events; txn totals equal basket sums; feeds ecom schema") {
    val clicks = Generator.clickBatch(spark, 500, seed = 7, startTs = 1700000000L)
    val perSession = clicks.groupBy("session_id").count().agg(max("count")).head.getLong(0)
    assert(perSession == 5, s"expected 5-event sessions, max=$perSession")
    val txn = Generator.transactionBatch(spark, 2000, seed = 42, startTs = 1700000000L)
    val bad = txn.withColumn("items", Baskets.parseItems($"product_metadata"))
      .withColumn("basket_total", aggregate($"items", lit(0L),
        (a, x) => a + x.getField("quantity").cast("long") * x.getField("item_price")))
      .filter($"total_amount" =!= $"basket_total").count()
    assert(bad == 0, "total_amount must equal the basket sum")
    val ref = Generator.asClickStream(clicks)
    assert(ref.columns.contains("event_name") && ref.columns.contains("event_time"))
  }

  test("generator is deterministic for a fixed seed and differs across seeds") {
    val a = Generator.clickBatch(spark, 500, seed = 7, startTs = 1700000000L)
    val b = Generator.clickBatch(spark, 500, seed = 7, startTs = 1700000000L)
    val c = Generator.clickBatch(spark, 500, seed = 8, startTs = 1700000000L)
    assert(a.collect().toSeq == b.collect().toSeq)
    assert(a.collect().toSeq != c.collect().toSeq)
  }

  test("generator metadata JSON parses back per event type") {
    val clicks = Generator.clickBatch(spark, 2000, seed = 42, startTs = 1700000000L)
    val searches = clicks.filter($"event_type" === "SEARCH")
      .select(get_json_object($"event_metadata", "$.search_keywords").as("kw"))
    assert(searches.count() > 0 && searches.filter($"kw".isNull).count() == 0)
    val items = clicks.filter($"event_type".isin("ITEM_DETAIL", "ADD_TO_CART"))
      .select(get_json_object($"event_metadata", "$.product_id").cast("long").as("pid"))
    assert(items.count() > 0 && items.filter($"pid".isNull).count() == 0)
  }

  test("stratified hash sample: per-stratum fractions near target, deterministic, subset of rows") {
    val orders = Tables.orders(spark, sf)
    val rates = Map("1-URGENT" -> 8, "2-HIGH" -> 4)
    def run() = Sampling.stratifiedHashSample(orders,
      $"o_orderpriority", $"o_orderkey", rates, defaultSixteenths = 2)
    val kept = run().groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = orders.groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (p, n) =>
      val want = rates.getOrElse(p, 2) / 16.0
      val got = kept.getOrElse(p, 0L).toDouble / n
      // md5 is uniform but the test SF has only ~300 rows per stratum:
      // binomial σ ≈ 0.03 at p=0.5, so allow ~3σ
      assert(math.abs(got - want) < 0.1, s"$p: got $got want ~$want")
    }
    // deterministic: same rows on re-run, regardless of partitioning
    val a = run().select("o_orderkey").collect().map(_.getLong(0)).toSet
    val b = Sampling.stratifiedHashSample(orders.repartition(13),
        $"o_orderpriority", $"o_orderkey", rates, defaultSixteenths = 2)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
  }

  test("JDBC connector round-trips through embedded Derby incl. partitioned read") {
    // keep Derby's log/db files out of the repo working dir
    System.setProperty("derby.system.home", tmp("derby"))
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE customers (id BIGINT, segment VARCHAR(16), spend DOUBLE)")
      val ins = conn.prepareStatement("INSERT INTO customers VALUES (?, ?, ?)")
      (1L to 100L).foreach { i =>
        ins.setLong(1, i); ins.setString(2, if (i % 3 == 0) "vip" else "std")
        ins.setDouble(3, i * 10.0); ins.executeUpdate()
      }
      // whole-table read
      val full = Jdbc.read(spark, url, "customers")
      assert(full.count() == 100)
      // query pushdown: the DB computes the aggregate, Spark sees 2 rows
      val agg = Jdbc.readQuery(spark, url,
        "SELECT segment, COUNT(*) AS n, SUM(spend) AS total FROM customers GROUP BY segment")
      val m = agg.collect().map(r => r.getString(0) -> r.getAs[Number](1).longValue).toMap
      assert(m == Map("vip" -> 33L, "std" -> 67L))
      // partitioned read: 4 range-striped cursors, same rows, no overlap/loss
      val part = Jdbc.readPartitioned(spark, url, "customers", "id", 1L, 101L, 4)
      assert(part.rdd.getNumPartitions == 4)
      assert(part.count() == 100)
      assert(part.agg(sum($"spend")).head.getDouble(0) == full.agg(sum($"spend")).head.getDouble(0))
      // sink: write a derived frame back, read it again
      val derived = full.filter($"segment" === "vip").select($"id", $"spend")
      Jdbc.write(derived, url, "vip_spend", org.apache.spark.sql.SaveMode.Overwrite)
      assert(Jdbc.read(spark, url, "vip_spend").count() == 33)
    } finally conn.close()
  }

  test("upsertStaged onto a PRE-EXISTING target creates the key index on " +
      "the merge path (and only once)") {
    System.setProperty("derby.system.home", tmp("derby"))
    val url = "jdbc:derby:memory:graftupsert;create=true"
    // target created by the plain writer — it never went through
    // upsertStaged's first-batch rename branch, so without the merge-path
    // guard it would stay index-less and every NOT EXISTS probe would be
    // a full scan per staged row
    Jdbc.write(Seq((1L, "a"), (2L, "b")).toDF("event_id", "v"),
      url, "landed_pre", org.apache.spark.sql.SaveMode.Overwrite)
    def land(rows: Seq[(Long, String)]): Unit = {
      Jdbc.write(rows.toDF("event_id", "v"), url, "landed_pre_stage",
        org.apache.spark.sql.SaveMode.Overwrite)
      Jdbc.upsertStaged(url, "landed_pre", "landed_pre_stage", Seq("event_id"))
    }
    land(Seq(2L -> "dup", 3L -> "c"))
    // second batch: the catalog guard must see the existing index and
    // not re-issue CREATE INDEX (Derby would throw on a duplicate name)
    land(Seq(3L -> "dup", 4L -> "d"))
    val got = Jdbc.read(spark, url, "landed_pre").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getIndexInfo(null, null, "LANDED_PRE", false, true)
      val names = collection.mutable.Set.empty[String]
      while (rs.next()) Option(rs.getString("INDEX_NAME"))
        .foreach(n => names += n.toLowerCase)
      rs.close()
      assert(names.contains("landed_pre_upsert_key"),
        s"key index missing on pre-existing target; indexes: $names")
    } finally conn.close()
  }

  test("transaction generator baskets parse with the reference item schema") {
    val txn = Generator.transactionBatch(spark, 2000, seed = 42, startTs = 1700000000L)
    val items = txn.withColumn("items", Baskets.parseItems($"product_metadata"))
    assert(items.filter(size($"items").between(1, 3)).count() == items.count())
    val exploded = Baskets.explodeItems(items, $"items", Seq($"booking_id"))
    assert(exploded.filter($"quantity".between(1, 3)).count() == exploded.count())
    assert(exploded.filter($"item_price".between(50000, 500000)).count() == exploded.count())
  }

  test("weightedTicketSample: input weight/ticket columns can't collide") {
    // the weight expression reads the INPUT's own 'weight' column; a
    // withColumn-based pipeline would overwrite it mid-plan and race
    val df = Seq((1L, 3, "x"), (2L, 9, "y")).toDF("id", "weight", "ticket")
    val out = Sampling.weightedTicketSample(df, "id", $"weight" * 2, k = 2)
    assert(out.columns.toSeq == Seq("id", "weight", "ticket"))
    val w = out.orderBy("id").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(w == Map(1L -> 6, 2L -> 16))   // 9*2 clamps to maxWeight=16
  }

  test("weightedTicketSample: deterministic across partitionings, clamped, exact k") {
    val docs = Tables.documents(spark, sf)
    val w = length($"text") / lit(100)   // cast to int + clamp happens inside
    val a = Sampling.weightedTicketSample(docs, "doc_id", w, k = 10).collect()
    val b = Sampling.weightedTicketSample(docs.repartition(13), "doc_id", w, k = 10)
      .collect()
    assert(a.toSeq == b.toSeq, "winners must not depend on partitioning")
    assert(a.length == 10)
    assert(a.forall(r => { val x = r.getAs[Int]("weight"); x >= 1 && x <= 16 }))
    // a doc's key really is its minimum ticket: recompute for the winners
    val ids = a.map(_.getLong(0)).toSet
    val recomputed = docs.filter($"doc_id".isin(ids.toSeq: _*))
      .withColumn("weight", least(greatest(w.cast("int"), lit(1)), lit(16)))
      .withColumn("i", explode(sequence(lit(1), $"weight")))
      .groupBy("doc_id")
      .agg(min(md5(concat_ws(":", $"doc_id".cast("string"),
        $"i".cast("string")).cast("binary"))).as("ticket"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a.forall(r => recomputed(r.getLong(0)) == r.getAs[String]("ticket")))
  }

  test("ZOrder2 matches a naive bit-interleave and nulls propagate") {
    import graft.plans.ZOrder2
    def naive(a: Int, b: Int): Long = {
      var z = 0L
      for (i <- 0 until 16)
        z |= (((a >> i) & 1).toLong << (2 * i)) | (((b >> i) & 1).toLong << (2 * i + 1))
      z
    }
    val cases = Seq((0, 0), (3, 5), (65535, 0), (0, 65535), (65535, 65535),
      (12345, 54321), (70000, 1))  // 70000 exercises the low-16-bit mask
    val df = cases.toDF("a", "b")
      .withColumn("z", ZOrder2($"a".cast("int"), $"b".cast("int")))
    val got = df.select("z").collect().map(_.getLong(0)).toSeq
    assert(got == cases.map { case (a, b) => naive(a & 0xFFFF, b & 0xFFFF) })
    val withNull = Seq((Some(1), None: Option[Int])).toDF("a", "b")
      .select(ZOrder2($"a", $"b").as("z"))
    assert(withNull.collect().head.isNullAt(0))
  }

  test("z-ordered layout: files cover disjoint z-ranges and box scan prunes files") {
    import graft.plans.ZOrder2
    Warehouse.ensureDatabase(spark, "graft_wh_spec")
    val withZ = Tables.part(spark, sf).withColumn("z",
      ZOrder2($"p_size".cast("int"), floor($"p_retailprice").cast("int")))
    Warehouse.writeZOrdered(withZ, "graft_wh_spec.part_z", "z", partitions = 4)
    val t = spark.table("graft_wh_spec.part_z")
    // each written file covers a disjoint z-range (repartitionByRange
    // boundaries + local sort) — the clustering min/max pruning relies on
    val ranges = t.groupBy(input_file_name().as("f"))
      .agg(min($"z").as("lo"), max($"z").as("hi"))
      .orderBy("lo").collect()
    assert(ranges.length > 1)
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"),
        s"file z-ranges overlap: $a vs $b")
    }
    // the z key is faithful: re-deriving it from the dims matches
    val rederived = t.filter(
      ZOrder2($"p_size".cast("int"), floor($"p_retailprice").cast("int")) =!= $"z")
    assert(rederived.count() == 0)
  }

  test("compactPath: 64 fragments become <= 4 files with identical content") {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-test/compact_${System.nanoTime}"
    val src = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    src.repartition(64).write.parquet(s"$tmp/frag")
    def files(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files(s"$tmp/frag") == 64)
    Warehouse.compactPath(spark, s"$tmp/frag", s"$tmp/comp", nFiles = 4)
    assert(files(s"$tmp/comp") <= 4)
    // content-preserving, multiset-exact: symmetric difference is empty
    // and row counts match (exceptAll is multiset-aware)
    val back = spark.read.parquet(s"$tmp/comp")
    assert(back.count() == src.count())
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
  }

  test("readEvolved: a pre-evolution batch backfills NULL for the added column") {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-test/evolve_${System.nanoTime}"
    val o = Tables.orders(spark, sf)
    o.filter($"o_orderkey" % 2 === 0).select("o_orderkey", "o_totalprice")
      .write.parquet(tmp)
    o.filter($"o_orderkey" % 2 === 1)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .write.mode("append").parquet(tmp)
    val merged = Warehouse.readEvolved(spark, tmp)
    assert(merged.columns.toSet ==
      Set("o_orderkey", "o_totalprice", "o_orderpriority"))
    assert(merged.count() == o.count())
    // exactly the v1 rows are NULL in the evolved column — and only them
    val nulls = merged.filter($"o_orderpriority".isNull)
    assert(nulls.count() == o.filter($"o_orderkey" % 2 === 0).count())
    assert(nulls.filter($"o_orderkey" % 2 =!= 0).count() == 0)
    // a non-merge read of the same dir would drop or misalign the column;
    // the evolved read preserves every value for the v2 rows
    val v2vals = merged.filter($"o_orderkey" % 2 === 1)
      .select("o_orderkey", "o_orderpriority")
    val expect = o.filter($"o_orderkey" % 2 === 1)
      .select("o_orderkey", "o_orderpriority")
    assert(v2vals.exceptAll(expect).count() == 0)
  }

  test("dropPartitionsWhere is metadata-only; forgetKeys rewrites only affected " +
      "partitions and drops fully-forgotten ones") {
    Warehouse.ensureDatabase(spark, "graft_test")
    // p=a holds keys 1,2; p=b holds 3; p=c holds 4,5 — forgetting {3, 4}
    // must (a) leave p=a's FILES untouched, (b) DROP p=b entirely (the
    // dynamic-overwrite gap), (c) rewrite p=c keeping key 5
    val rows = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
      (4L, "c", 40.0), (5L, "c", 50.0)).toDF("k", "p", "v")
    Warehouse.overwritePartitioned(rows, "graft_test.forget_t", "p")
    def filesOf(part: String) = {
      val base = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      val d = new java.io.File(s"$base/graft_test.db/forget_t/p=$part")
      if (!d.exists) Set.empty[String]
      else d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val aFilesBefore = filesOf("a")
    assert(aFilesBefore.nonEmpty)
    Warehouse.forgetKeys(spark, "graft_test.forget_t", "p", "k",
      Seq(3L, 4L).toDF("k"))
    val back = spark.table("graft_test.forget_t").select("k", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(back == Set((1L, 10.0), (2L, 20.0), (5L, 50.0)))
    assert(filesOf("a") == aFilesBefore, "untouched partition was rewritten")
    assert(filesOf("b").isEmpty, "fully-forgotten partition must be dropped")
    assert(spark.sql("SHOW PARTITIONS graft_test.forget_t").collect()
      .map(_.getString(0)).toSet == Set("p=a", "p=c"))
    // retention: dropping by predicate is metadata-only — the kept
    // partition's files are bit-untouched
    val aFiles2 = filesOf("a")
    val n = Warehouse.dropPartitionsWhere(spark, "graft_test.forget_t", "p",
      keep = _ == "a")
    assert(n == 1 && filesOf("a") == aFiles2 && filesOf("c").isEmpty)
    assert(spark.table("graft_test.forget_t").count() == 2)
  }

  test("Cdc.applyLog: latest event wins, seq breaks ts ties, deletes drop " +
      "the key; applyToState == one-shot applyLog") {
    import graft.operators.Cdc
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-03 00:00:00")
    val log = Seq(
      (1L, t0, 0, "I", "a", 10.0),   // plain insert, never touched again
      (2L, t0, 0, "I", "b", 20.0),   // updated at t1
      (2L, t1, 1, "U", "b2", 21.0),
      (3L, t0, 0, "I", "c", 30.0),   // two updates at the SAME ts: seq wins
      (3L, t1, 1, "U", "c1", 31.0),
      (3L, t1, 2, "U", "c2", 32.0),
      (4L, t0, 0, "I", "d", 40.0),   // deleted
      (4L, t2, 1, "D", null, 0.0)
    ).toDF("k", "ts", "seq", "op", "status", "price")
    val state = Cdc.applyLog(log, Seq("k"), Seq("status", "price"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(state == Set((1L, "a", 10.0), (2L, "b2", 21.0), (3L, "c2", 32.0)))
    // incremental: slice 1 applied, then slice 2 on top of the state —
    // identical to applying the union in one shot (incl. re-insert of a
    // deleted key and a delete arriving in the later slice)
    val s2 = Seq(
      (1L, t2, 0, "D", null, 0.0),   // late delete of an old key
      (4L, t2, 5, "I", "d2", 41.0),  // resurrection after the t2 delete
      (5L, t2, 0, "I", "e", 50.0)
    ).toDF("k", "ts", "seq", "op", "status", "price")
    val incr = Cdc.applyToState(Cdc.applyLog(log, Seq("k"), Seq("status", "price")),
      s2, Seq("k"), Seq("status", "price"))
    val oneShot = Cdc.applyLog(log.unionByName(s2), Seq("k"), Seq("status", "price"))
    assert(incr.select("k", "status", "price").collect().toSet ==
      oneShot.select("k", "status", "price").collect().toSet)
    assert(incr.filter($"k" === 4L).select("status").head.getString(0) == "d2")
  }

  test("Diff.snapshotDiff: added/removed/changed with null-safe multi-column " +
      "lists; unchanged keys dropped") {
    import graft.operators.Diff
    val v1 = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
      (4L, null.asInstanceOf[String], 4.0)).toDF("k", "s", "p")
    val v2 = Seq((1L, "a", 1.0),                      // unchanged → dropped
      (2L, "B", 2.5),                                 // both cols changed
      (4L, "d", 4.0),                                 // null → value is a change
      (5L, "e", 5.0)                                  // added
    ).toDF("k", "s", "p")                             // 3 removed
    val d = Diff.snapshotDiff(v1, v2, Seq("k"), Seq("s", "p"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(d == Set(
      (2L, "changed", "s,p"),
      (3L, "removed", null),
      (4L, "changed", "s"),
      (5L, "added", null)))
  }

  test("Checks.report: one row per constraint, metrics exact, single " +
      "aggregation pass") {
    import graft.operators.{Check, Checks}
    val df = Seq((1L, "x"), (2L, "x"), (2L, "y"),
      (3L, null.asInstanceOf[String])).toDF("id", "v")
    val rep = Checks.report(df, Seq(
      Check("rows", count(lit(1)), _ === 4.0),
      Check("dup_excess", count(lit(1)) - countDistinct($"id"), _ === 0.0),
      Check("v_complete", count($"v").cast("double") / count(lit(1)).cast("double"),
        _ === 1.0)))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(rep("rows") == ((4.0, true)))
    assert(rep("dup_excess") == ((1.0, false)))
    assert(rep("v_complete") == ((0.75, false)))
    // duplicate check names are a construction error, not a silent overwrite
    intercept[IllegalArgumentException] {
      Checks.report(df, Seq(Check("a", count(lit(1)), _ > 0),
        Check("a", count($"v"), _ > 0)))
    }
  }

  test("DataSkipping: stats rows == files; pruned read skips files and " +
      "matches the unpruned filter; empty range -> empty with schema") {
    import graft.sources.DataSkipping
    val path = tmp("skip_orders")
    Tables.orders(spark, sf)
      .repartitionByRange(8, $"o_totalprice")
      .sortWithinPartitions("o_totalprice")
      .write.mode("overwrite").parquet(path)
    val all = spark.read.parquet(path)
    val nFiles = all.inputFiles.length
    val stats = DataSkipping.fileStats(spark, path, Seq("o_totalprice")).cache()
    assert(stats.count() == nFiles)
    // row counts in the stats must re-add to the table
    assert(stats.agg(sum($"rows")).head.getLong(0) == all.count())
    val pruned = DataSkipping.prunedRead(spark, path, stats,
      "o_totalprice", 50000.0, 100000.0)
    // the clustered layout makes most files non-intersecting — the read
    // must actually skip them, not list the directory
    assert(pruned.inputFiles.length < nFiles && pruned.inputFiles.nonEmpty)
    val expect = all.filter($"o_totalprice".between(50000.0, 100000.0))
    assert(pruned.count() == expect.count() && expect.count() > 0)
    assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty)
    // a range no file can hold -> empty result, full schema preserved
    val none = DataSkipping.prunedRead(spark, path, stats,
      "o_totalprice", -2.0, -1.0)
    assert(none.count() == 0 && none.columns.sameElements(all.columns))
  }

  test("scd2Lookup: backdated facts hit the old version; boundaries " +
      "from-inclusive/to-exclusive; pre-history facts keep NULL") {
    val hist = Seq(
      (1L, "OLD", "2020-01-01 00:00:00", "2022-01-01 00:00:00"),
      (1L, "NEW", "2022-01-01 00:00:00", null),
      (2L, "ONLY", "2021-01-01 00:00:00", null)
    ).toDF("k", "segment", "f", "t")
      .select($"k", $"segment", $"f".cast("timestamp").as("valid_from"),
        $"t".cast("timestamp").as("valid_to"))
    val facts = Seq(
      (10L, 1L, "2021-06-01 00:00:00"),  // inside OLD
      (11L, 1L, "2022-01-01 00:00:00"),  // boundary: from-inclusive -> NEW
      (12L, 1L, "2019-12-31 23:59:59"),  // pre-history -> NULL
      (13L, 2L, "2023-01-01 00:00:00"),  // open-ended current
      (14L, 9L, "2023-01-01 00:00:00")   // unknown key -> NULL
    ).toDF("fid", "k", "ts").withColumn("ts", $"ts".cast("timestamp"))
    val got = Warehouse.scd2Lookup(facts, hist, "k", "k", "ts", Seq("segment"))
      .select("fid", "segment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(10L -> "OLD", 11L -> "NEW", 12L -> null,
      13L -> "ONLY", 14L -> null))
  }

  test("DataSkipping.refreshStats scans only new files and equals a full " +
      "rebuild; no new files is a no-op") {
    import graft.sources.DataSkipping
    val path = tmp("skip_refresh")
    val o = Tables.orders(spark, sf)
    o.filter($"o_orderkey" % 2 === 0).repartition(3)
      .write.mode("overwrite").parquet(path)
    val stats1 = DataSkipping.fileStats(spark, path, Seq("o_totalprice"))
      .localCheckpoint()  // freeze: stats built BEFORE the append
    o.filter($"o_orderkey" % 2 === 1).repartition(2)
      .write.mode("append").parquet(path)
    val refreshed = DataSkipping.refreshStats(spark, path, stats1, Seq("o_totalprice"))
    val full = DataSkipping.fileStats(spark, path, Seq("o_totalprice"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).sortBy(_._1).toSeq
    assert(canon(refreshed) == canon(full) && full.count() == 5)
    // idempotent: nothing new -> the same frame comes back
    assert(DataSkipping.refreshStats(spark, path, refreshed, Seq("o_totalprice"))
      eq refreshed)
  }

  test("DataSkipping survives paths with a space (encoded stats rendering " +
      "decoded before the read); refreshStats refuses a compacted directory") {
    import graft.sources.DataSkipping
    val path = tmp("skip dir with space")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
      .repartition(2).write.mode("overwrite").parquet(path)
    val stats = DataSkipping.fileStats(spark, path, Seq("v")).localCheckpoint()
    // input_file_name() renders the space as %20; prunedRead must decode
    // it or spark.read.parquet throws PATH_NOT_FOUND on the literal %20
    val pruned = DataSkipping.prunedRead(spark, path, stats, "v", 15.0, 25.0)
    assert(pruned.select("k").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // compaction: rewrite the directory into one file — a refresh against
    // the stale index must fail loudly, not double-count / crash later
    spark.read.parquet(path).repartition(1)
      .write.mode("overwrite").parquet(path)
    val e = intercept[IllegalArgumentException] {
      DataSkipping.refreshStats(spark, path, stats, Seq("v"))
    }
    assert(e.getMessage.contains("no longer exist"))
  }

  test("Cdc: a NULL op fails loudly instead of silently erasing the key") {
    import graft.operators.Cdc
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val log = Seq(
      (1L, t0, 0, "I", "a", 10.0),
      (1L, t1, 1, null.asInstanceOf[String], "a2", 11.0)  // corrupt event
    ).toDF("k", "ts", "seq", "op", "status", "price")
    val e = intercept[Exception] {
      Cdc.applyLog(log, Seq("k"), Seq("status", "price")).collect()
    }
    assert(e.getMessage.contains("NULL op"))
    val e2 = intercept[Exception] {
      Cdc.historyFrom(log, Seq("k"), Seq("status", "price")).collect()
    }
    assert(e2.getMessage.contains("NULL op"))
    // empty keyCols: immediate require, never an un-partitioned window
    val e3 = intercept[IllegalArgumentException] {
      Cdc.historyFrom(log, Seq.empty, Seq("status"))
    }
    assert(e3.getMessage.contains("keys"))
  }

  test("stratifiedKFold: per-stratum fold sizes differ by at most one; " +
      "assignment deterministic under repartitioning") {
    val docs = Tables.documents(spark, sf).select("doc_id", "lang")
    val folds = Sampling.stratifiedKFold(docs, "lang", "doc_id", 5)
    val sizes = folds.groupBy("lang", "fold").count().collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2))).toMap
    sizes.foreach { case (lang, ns) =>
      assert(ns.max - ns.min <= 1, s"$lang: ${ns.toSeq.sorted}")
    }
    assert(folds.select("fold").distinct().count() == 5)
    val again = Sampling.stratifiedKFold(docs.repartition(13), "lang", "doc_id", 5)
    assert(folds.select("doc_id", "fold").collect().toSet ==
      again.select("doc_id", "fold").collect().toSet)
  }

  test("Checks.routeInvalid: ordered multi-rule reasons; NULL predicate " +
      "quarantines; valid branch drops the marker") {
    import graft.operators.Checks
    val df = Seq(
      (1L, java.lang.Long.valueOf(10L), 5.0),   // clean
      (2L, null.asInstanceOf[java.lang.Long], 5.0),  // fails presence AND range (NULL predicate)
      (3L, java.lang.Long.valueOf(10L), -1.0),  // fails price only
      (4L, null.asInstanceOf[java.lang.Long], -2.0)  // fails all three
    ).toDF("k", "ck", "price")
    val rules = Seq(
      "present" -> $"ck".isNotNull,
      "in_range" -> ($"ck" < 100L),
      "non_negative" -> ($"price" >= 0))
    val (valid, bad) = Checks.routeInvalid(df, rules)
    assert(valid.columns.toSeq == Seq("k", "ck", "price"))
    assert(valid.select("k").collect().map(_.getLong(0)).toSeq == Seq(1L))
    val reasons = bad.select("k", "failed_rules").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reasons == Map(
      2L -> "present,in_range",
      3L -> "non_negative",
      4L -> "present,in_range,non_negative"))
  }

  test("Cdc.historyFrom: versions chain per key; deletes close without " +
      "opening; history is_current matches applyLog state") {
    import graft.operators.Cdc
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-03 00:00:00")
    val log = Seq(
      (1L, t0, 0, "I", "a", 10.0), (1L, t1, 1, "U", "a2", 11.0),
      (2L, t0, 0, "I", "b", 20.0), (2L, t2, 1, "D", null, 0.0),
      (3L, t1, 0, "I", "c", 30.0)
    ).toDF("k", "ts", "seq", "op", "status", "price")
    val hist = Cdc.historyFrom(log, Seq("k"), Seq("status", "price"))
    val rows = hist.collect().map(r => (r.getLong(0), r.getString(1),
      r.getTimestamp(3), Option(r.getTimestamp(4)), r.getBoolean(5))).toSet
    assert(rows == Set(
      (1L, "a", t0, Some(t1), false),   // closed by its own update
      (1L, "a2", t1, None, true),
      (2L, "b", t0, Some(t2), false),   // closed by the DELETE, not current
      (3L, "c", t1, None, true)))
    // consistency: current history versions == applyLog state
    val cur = hist.filter($"is_current").select("k", "status", "price")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val state = Cdc.applyLog(log, Seq("k"), Seq("status", "price"))
      .select("k", "status", "price")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(cur == state)
    // history feeds the PIT lookup directly: key 2 resolves at t1, not after
    val facts = Seq((100L, 2L, t1), (101L, 2L, t2)).toDF("fid", "k", "ts")
    val pit = Warehouse.scd2Lookup(facts, hist, "k", "k", "ts", Seq("status"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(pit == Map(100L -> Some("b"), 101L -> None))
  }

  test("compactClusteredPath restores per-file ranges so stats pruning " +
      "works again; round-robin compaction does not") {
    import graft.sources.DataSkipping
    val frag = tmp("frag_orders"); val clus = tmp("clus_orders")
    val rr = tmp("rr_orders")
    val o = Tables.orders(spark, sf)
    o.repartition(16).write.mode("overwrite").parquet(frag)
    Warehouse.compactClusteredPath(spark, frag, clus, "o_totalprice", 4)
    Warehouse.compactPath(spark, frag, rr, 4)
    // content preserved (multiset) through the clustered rewrite
    val back = spark.read.parquet(clus)
    assert(back.count() == o.count() &&
      back.exceptAll(o).isEmpty && o.exceptAll(back).isEmpty)
    def prunedFiles(path: String) = {
      val st = DataSkipping.fileStats(spark, path, Seq("o_totalprice"))
      DataSkipping.prunedRead(spark, path, st, "o_totalprice",
        0.0, 50000.0).inputFiles.length
    }
    // clustered: the low band lives in few files; round-robin: in ALL
    assert(prunedFiles(clus) < 4, s"clustered read ${prunedFiles(clus)} files")
    assert(prunedFiles(rr) == 4, "round-robin files all span the domain")
  }

  test("changedBuckets finds exactly the touched buckets; restricted diff " +
      "equals the full diff; identical snapshots -> no buckets") {
    import graft.operators.Diff
    val v1 = (1L to 400L).map(k => (k, s"s$k", k * 1.5)).toDF("k", "s", "p")
    // touch 3 keys: update, delete, insert
    val v2 = v1.filter($"k" =!= 7L)
      .withColumn("p", when($"k" === 100L, $"p" + 1.0).otherwise($"p"))
      .unionByName(Seq((9999L, "new", 1.0)).toDF("k", "s", "p"))
    val chg = Diff.changedBuckets(v1, v2, "k", Seq("s", "p"), 64)
      .collect().map(_.getInt(0)).toSet
    val expectBuckets = Seq(7L, 100L, 9999L)
      .map(k => Seq(Tuple1(k)).toDF("k")
        .select(Diff.bucketOf($"k", 64)).head.getInt(0)).toSet
    assert(chg == expectBuckets && chg.size <= 3)
    // restricted row diff == full row diff (untouched buckets carry none)
    def restrict(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("b", Diff.bucketOf($"k", 64))
        .filter($"b".isin(chg.toSeq: _*)).drop("b")
    val full = Diff.snapshotDiff(v1, v2, Seq("k"), Seq("s", "p")).collect().toSet
    val restricted = Diff.snapshotDiff(restrict(v1), restrict(v2),
      Seq("k"), Seq("s", "p")).collect().toSet
    assert(restricted == full && full.size == 3)
    assert(Diff.changedBuckets(v1, v1, "k", Seq("s", "p"), 64).count() == 0)
  }

  test("driver-side metadata bounds: 10^4-partition retention works and " +
      "stays metadata-only; the documented caps trip loudly") {
    Warehouse.ensureDatabase(spark, "graft_test")
    spark.sql("DROP TABLE IF EXISTS graft_test.many_parts")
    // a previous JVM's managed location would block CREATE
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + "/graft_test.db/many_parts")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    spark.sql("CREATE TABLE graft_test.many_parts(x BIGINT, p STRING) " +
      "USING parquet PARTITIONED BY (p)")
    // 10k partitions, registered metadata-only in 10 batched statements
    (0 until 10).foreach { b =>
      val specs = (b * 1000 until (b + 1) * 1000)
        .map(i => s"PARTITION (p='v$i')").mkString(" ")
      spark.sql(s"ALTER TABLE graft_test.many_parts ADD IF NOT EXISTS $specs")
    }
    assert(spark.sql("SHOW PARTITIONS graft_test.many_parts").count() == 10000)
    val dropped = Warehouse.dropPartitionsWhere(spark,
      "graft_test.many_parts", "p",
      keep = v => v.stripPrefix("v").toInt >= 200)
    assert(dropped == 200)
    assert(spark.sql("SHOW PARTITIONS graft_test.many_parts").count() == 9800)
    // the cap trips BEFORE any drop is issued, with the documented message
    val e = intercept[IllegalArgumentException] {
      Warehouse.dropPartitionsWhere(spark, "graft_test.many_parts", "p",
        _ => true, maxPartitions = 1000)
    }
    assert(e.getMessage.contains("driver-side listing bound"))
    assert(spark.sql("SHOW PARTITIONS graft_test.many_parts").count() == 9800)
    // DataSkipping caps: same contract on file listings
    import graft.sources.DataSkipping
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-test/ds_cap"
    (1L to 100L).map(i => (i, i * 2)).toDF("k", "v")
      .repartitionByRange(4, $"k").write.mode("overwrite").parquet(dir)
    val stats = DataSkipping.fileStats(spark, dir, Seq("k"))
    val e2 = intercept[IllegalArgumentException] {
      DataSkipping.prunedRead(spark, dir, stats, "k", 1L, 100L, maxFiles = 2)
    }
    assert(e2.getMessage.contains("driver-side bound"))
    val e3 = intercept[IllegalArgumentException] {
      DataSkipping.refreshStats(spark, dir, stats, Seq("k"), maxFiles = 2)
    }
    assert(e3.getMessage.contains("driver-side bound"))
  }

  test("dropPartitionsWhere round-trips awkward partition values: keep() " +
      "sees the real value, the drop targets the right partition") {
    Warehouse.ensureDatabase(spark, "graft_test")
    // values with a space, a quote, and a literal percent (the escape
    // character itself) — SHOW PARTITIONS renders them path-escaped; the
    // r10 fix unescapes for keep() and literal-escapes for the DROP
    val df = Seq((1L, "has space"), (2L, "it's"), (3L, "50%off"), (4L, "plain"))
      .toDF("x", "p")
    Warehouse.overwritePartitioned(df, "graft_test.awkward_parts", "p")
    val dropped = Warehouse.dropPartitionsWhere(spark,
      "graft_test.awkward_parts", "p", keep = v => v != "it's")
    assert(dropped == 1)
    val left = spark.table("graft_test.awkward_parts")
      .select("p").collect().map(_.getString(0)).toSet
    assert(left == Set("has space", "50%off", "plain"))
  }

  test("scd2Integrity: healthy chains pass; overlap/gap/double-current " +
      "flagged with ordered reasons; historyFrom output is always healthy") {
    def ts(x: String) = java.sql.Timestamp.valueOf(x + " 00:00:00")
    val hist = Seq(
      (1L, ts("2020-01-01"), Option(ts("2021-01-01"))),   // healthy chain
      (1L, ts("2021-01-01"), None),
      (2L, ts("2020-01-01"), Option(ts("2021-01-01"))),   // gap
      (2L, ts("2021-06-01"), None),
      (3L, ts("2020-01-01"), Option(ts("2021-01-01"))),   // overlap
      (3L, ts("2020-06-01"), None),
      (4L, ts("2020-01-01"), None),                        // two currents
      (4L, ts("2021-01-01"), None),
      // tie on valid_from: a closed ZERO-LENGTH version plus the open
      // one — healthy only if the open version sorts LAST (nulls-last);
      // nulls-first would see the open row first and flag a phantom
      // overlap, diverging from the SQL replay's NULLS LAST (r10 advice)
      (5L, ts("2020-01-01"), Option(ts("2020-01-01"))),
      (5L, ts("2020-01-01"), None)
    ).toDF("k", "valid_from", "valid_to")
      .withColumn("valid_to", $"valid_to")
    val got = Warehouse.scd2Integrity(hist, "k")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "gap", 3L -> "overlap",
      4L -> "overlap,multi_current"))
    // strict=false ignores gaps (close-and-reopen histories pass)
    val lax = Warehouse.scd2Integrity(hist, "k", strict = false)
      .collect().map(_.getLong(0)).toSet
    assert(lax == Set(3L, 4L))
    // a Cdc.historyFrom-built history is healthy by construction
    import graft.operators.Cdc
    val log = Seq(
      (10L, ts("2024-01-01"), 0, "I", "a"), (10L, ts("2024-01-02"), 1, "U", "b"),
      (11L, ts("2024-01-01"), 0, "I", "c"), (11L, ts("2024-01-03"), 1, "D", null)
    ).toDF("k", "ts", "seq", "op", "status")
    val built = Cdc.historyFrom(log, Seq("k"), Seq("status"))
    assert(Warehouse.scd2Integrity(built, "k").count() == 0)
  }

  test("bloom artifact round-trips byte-exactly and prunes after reload") {
    import graft.operators.RuntimeFilters
    Warehouse.ensureDatabase(spark, "graft_test")
    val dim = Tables.customer(spark, sf).filter($"c_acctbal" > 8000)
    val built = RuntimeFilters.bloomOfKeys(dim, "c_custkey", 10000L)
    RuntimeFilters.saveBloom(spark, built, "graft_test.bloom_t")
    val loaded = RuntimeFilters.loadBloom(spark, "graft_test.bloom_t")
    assert(java.util.Arrays.equals(built, loaded))
    // reload-pruned fact is a SUPERSET of true matches and a subset of all
    val fact = Tables.orders(spark, sf)
    val prunedN = fact.filter(RuntimeFilters.mightContain(loaded, $"o_custkey")).count()
    val trueN = fact.join(dim, fact("o_custkey") === dim("c_custkey"), "left_semi").count()
    assert(prunedN >= trueN && prunedN <= fact.count())
  }

  test("warehouse guardrails refuse instead of corrupting: unpartitioned " +
      "idempotent target, multi-level/mismatched retention, NULL forget " +
      "partition") {
    Warehouse.ensureDatabase(spark, "graft_test")
    // dropPartitionsWhere on a multi-level table garbles the first level's
    // value and silently no-ops the DROP — must refuse
    spark.sql("DROP TABLE IF EXISTS graft_test.ml_t")
    Seq((1L, "2020", "eu"), (2L, "2021", "us")).toDF("k", "dt", "region")
      .write.partitionBy("dt", "region").format("parquet")
      .saveAsTable("graft_test.ml_t")
    val e2 = intercept[IllegalArgumentException] {
      Warehouse.dropPartitionsWhere(spark, "graft_test.ml_t", "dt", _ => false)
    }
    assert(e2.getMessage.contains("multi-level"))
    assert(spark.table("graft_test.ml_t").count() == 2)
    // a partitionCol that isn't the table's partition key must fail, not
    // report 0 partitions dropped
    spark.sql("DROP TABLE IF EXISTS graft_test.sl_t")
    Seq((1L, "2020")).toDF("k", "dt").write.partitionBy("dt")
      .format("parquet").saveAsTable("graft_test.sl_t")
    val e3 = intercept[IllegalArgumentException] {
      Warehouse.dropPartitionsWhere(spark, "graft_test.sl_t", "region", _ => false)
    }
    assert(e3.getMessage.contains("'region'"))

    // forgetKeys with a forgotten row under a NULL partition value: the
    // null-unsafe isin would let it survive — must refuse BEFORE writing
    spark.sql("DROP TABLE IF EXISTS graft_test.nullp_t")
    Warehouse.overwritePartitioned(
      Seq((1L, Some("p1")), (2L, Option.empty[String])).toDF("k", "p"),
      "graft_test.nullp_t", "p")
    val before = spark.table("graft_test.nullp_t").inputFiles.toSet
    val e4 = intercept[IllegalArgumentException] {
      Warehouse.forgetKeys(spark, "graft_test.nullp_t", "p", "k",
        Seq(2L).toDF("k"))
    }
    assert(e4.getMessage.contains("NULL"))
    assert(spark.table("graft_test.nullp_t").inputFiles.toSet == before)
  }

  test("scd2Apply raises on duplicate update keys instead of emitting two " +
      "open versions; upsertPlan keeps one row per intra-batch duplicate key") {
    import java.sql.Date
    val cur = Seq(
      (1L, "A", Date.valueOf("2024-01-01"), null.asInstanceOf[Date], true)
    ).toDF("id", "seg", "valid_from", "valid_to", "is_current")
    val dupUpd = Seq((1L, "A2"), (1L, "A3")).toDF("id", "seg")
    val ex = intercept[Exception] {
      Warehouse.scd2Apply(cur, dupUpd, "id", Seq("seg"), lit("2024-06-01"))
        .collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("one row per key"))

    val base = Seq((1L, "a")).toDF("k", "v")
    val dupIncoming = Seq((2L, "x"), (2L, "y"), (3L, "c")).toDF("k", "v")
    val up = Warehouse.upsertPlan(base, dupIncoming, Seq("k"))
    assert(up.groupBy("k").count().filter($"count" > 1).isEmpty,
      "intra-batch duplicate keys must collapse to one row")
    assert(up.count() == 3)
  }

  test("scd2Lookup keeps the facts' own valid_from/valid_to columns; " +
      "clearTable handles catalog-qualified and mixed-case names") {
    import java.sql.Date
    val hist = Seq(
      (7L, "gold", Date.valueOf("2024-01-01"), null.asInstanceOf[Date], true)
    ).toDF("k", "seg", "valid_from", "valid_to", "is_current")
    // the fact feed itself carries valid_from/valid_to (e.g. another SCD2
    // stage's output) — a drop-by-NAME would erase the fact columns
    val facts = Seq((7L, Date.valueOf("2024-03-01"),
        Date.valueOf("2023-01-01"), Date.valueOf("2025-01-01")))
      .toDF("k", "ts", "valid_from", "valid_to")
    val got = Warehouse.scd2Lookup(facts, hist, "k", "k", "ts", Seq("seg"))
    assert(got.columns.count(_ == "valid_from") == 1)
    val r = got.head
    assert(r.getAs[String]("seg") == "gold")
    assert(r.getAs[Date]("valid_from") == Date.valueOf("2023-01-01"))
    assert(r.getAs[Date]("valid_to") == Date.valueOf("2025-01-01"))

    // 3-part and MixedCase managed-table names go through the orphan-dir
    // cleanup without MatchError / case mismatch (overwrite twice: the
    // second run exercises the cleanup against the first run's location)
    Warehouse.ensureDatabase(spark, "graft_test")
    Warehouse.overwriteTable(Seq((1L, "a")).toDF("k", "v"),
      "spark_catalog.graft_test.threepart_t")
    Warehouse.overwriteTable(Seq((2L, "b")).toDF("k", "v"),
      "spark_catalog.graft_test.threepart_t")
    assert(spark.table("graft_test.threepart_t").head.getLong(0) == 2L)
    Warehouse.overwriteTable(Seq((1L, "a")).toDF("k", "v"),
      "graft_test.MixedCase_T")
    Warehouse.overwriteTable(Seq((3L, "c")).toDF("k", "v"),
      "graft_test.MixedCase_T")
    assert(spark.table("graft_test.mixedcase_t").head.getLong(0) == 3L)
  }
}
