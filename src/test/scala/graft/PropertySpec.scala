package graft

import graft.functions.TextFns
import graft.operators.{AsofJoin, Baskets, Bins, RangeJoin}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generated properties over the operator library (SURVEY §5.3).
  * Samples are drawn deterministically (fixed seeds) so failures reproduce;
  * each invariant is checked on the Spark plan's actual output. */
class PropertySpec extends SparkSpecBase {
  import spark.implicits._

  /** Deterministic sample stream from a Gen. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  test("removeDuplicatedSpans invariants on generated small-vocab corpora") {
    // small vocab forces cross-doc trigram sharing; each doc 5-25 tokens
    val docGen = Gen.chooseNum(5, 25).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee")).map(_.mkString(" ")))
    val docs = samples(docGen, 30).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = graft.llm.TextStats.removeDuplicatedSpans(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    val cov = graft.llm.TextStats.dupSpanCoverage(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    assert(out.length == 30)
    out.zip(cov).foreach { case (r, c) =>
      val (n, kept, removed) = (r.getAs[Long]("n_tokens"),
        r.getAs[Long]("kept_tokens"), r.getAs[Long]("removed_tokens"))
      assert(kept + removed == n)
      // removal cuts exactly the covered positions of the diagnostic
      assert(removed == c.getAs[Long]("covered_tokens"))
      // the rebuilt text holds exactly the kept tokens
      val rebuilt = r.getAs[String]("deduped_text")
      assert((if (rebuilt.isEmpty) 0 else rebuilt.split(" ").length) == kept)
    }
  }

  test("sq8 quantization: codes in range, midpoint decode within half a step") {
    // generated float vectors, varied magnitudes; one constant dimension
    // (index 0) exercises the mx == mn guard
    val vecGen = Gen.listOfN(7, Gen.chooseNum(-100f, 100f)).map(1.5f :: _)
    val rows = samples(vecGen, 40).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray) }.toDF("vec_id", "embedding")
    val bounds = graft.llm.Similarity.sq8Bounds(rows)
    assert(bounds.length == 8 && bounds.head._1 == bounds.head._2) // constant dim
    val codes = graft.llm.Similarity.sq8Encode(rows, bounds).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](r.fieldIndex("codes")).toVector).toMap
    val raw = rows.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](r.fieldIndex("embedding")).toVector).toMap
    raw.foreach { case (id, v) =>
      val cs = codes(id)
      assert(cs.forall(c => c >= 0 && c <= 255))
      v.indices.foreach { d =>
        val (lo, hi) = bounds(d)
        val step = if (hi > lo) (hi.toDouble - lo.toDouble) / 255.0 else 0.0
        val decoded = lo.toDouble + (cs(d) + 0.5) * step
        // midpoint decode: reconstruction error bounded by half a step
        assert(math.abs(decoded - v(d).toDouble) <= step / 2 + 1e-9,
          s"id=$id dim=$d v=${v(d)} decoded=$decoded step=$step")
      }
    }
    // frozen-bounds usage: encoding a batch whose values fall OUTSIDE the
    // trained bounds (the standard SQ deployment — bounds are a training
    // artifact) must still clamp to valid bytes on both ends
    val outside = Seq((0L, Array.fill(8)(1000f)), (1L, Array.fill(8)(-1000f)))
      .toDF("vec_id", "embedding")
    graft.llm.Similarity.sq8Encode(outside, bounds).collect().foreach { r =>
      val cs = r.getSeq[Int](r.fieldIndex("codes"))
      assert(cs.forall(c => c >= 0 && c <= 255), s"out-of-bounds codes $cs")
    }
  }

  test("groupedRowNumber == window row_number on generated skewed groups") {
    import org.apache.spark.sql.expressions.Window
    // zipf-ish group draw: one group dominates, plus occasional null
    val rowGen = for {
      g <- Gen.frequency(8 -> Gen.const("dominant"), 2 -> Gen.oneOf("a", "b", "c"),
        1 -> Gen.const(null: String))
      v <- Gen.chooseNum(0L, 30L) // narrow range forces order ties
    } yield (g, v)
    val df = samples(rowGen, 200).zipWithIndex
      .map { case ((g, v), i) => (i.toLong, g, v) }.toDF("k", "g", "v")
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("k").asc)
    // schema-exact too: both sides INT, no cast
    val expected = df.withColumn("r", row_number().over(w))
      .select("k", "r").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = graft.operators.Ranks.groupedRowNumber(df, Seq("g"),
        Seq(col("v").desc, col("k").asc), "r", partitions = 7)
      .select("k", "r").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == expected && got.size == 200)
  }

  test("popcount64 == Long.bitCount for arbitrary longs") {
    val vals = samples(Gen.long, 100) ++
      Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue)
    val got = vals.toDF("v").select(TextFns.popcount64(col("v"))).collect()
      .map(_.getLong(0)).toSeq
    assert(got == vals.map(v => java.lang.Long.bitCount(v).toLong))
  }

  test("fixedBins assigns every non-null value its right-closed label") {
    val edges = Seq(10d, 20d, 30d)
    val labels = Seq("a", "b", "c", "d")
    val vals = samples(Gen.choose(-50d, 80d), 200) ++ Seq(10d, 20d, 30d, 30.0001)
    val out = vals.toDF("v")
      .select(Bins.fixedBins(col("v"), edges, labels).as("bin")).collect()
      .map(_.getString(0)).toSeq
    val expect = vals.map {
      case v if v <= 10 => "a"
      case v if v <= 20 => "b"
      case v if v <= 30 => "c"
      case _            => "d"
    }
    assert(out == expect)
  }

  test("asof matches a per-row reference scan on generated trades/quotes") {
    val rowGen = for {
      key <- Gen.oneOf("a", "b", "c")
      t <- Gen.chooseNum(0L, 2000L)
    } yield (key, t)
    val quotes = samples(rowGen, 120).distinct.zipWithIndex
      .map { case ((k, t), i) => (k, new java.sql.Timestamp(t * 1000), i.toDouble) }
    val trades = samples(rowGen, 80).zipWithIndex
      .map { case ((k, t), i) => (k, new java.sql.Timestamp(t * 1000), i.toLong) }
    val qDf = quotes.toDF("qk", "qts", "px")
    val tDf = trades.toDF("k", "t", "trade_id")
    val got = AsofJoin.asof(tDf, qDf, "k", "qk", "t", "qts", Seq("px"))
      .collect().map(r => r.getAs[Long]("trade_id") ->
        Option(r.getAs[java.lang.Double]("px")).map(_.toDouble)).toMap
    trades.foreach { case (k, ts, id) =>
      // reference: latest quote at or before ts for the key; quotes are
      // (key, ts)-distinct so the max-ts match is unique
      val want = quotes.filter(q => q._1 == k && !q._2.after(ts))
        .sortBy(_._2.getTime).lastOption.map(_._3)
      assert(got(id) == want, s"trade $id key $k ts $ts")
    }
  }

  test("rangeJoin self-overlap matches a quadratic reference on generated intervals") {
    val gen = for {
      key <- Gen.chooseNum(0, 3)
      s <- Gen.chooseNum(0L, 300L)
      len <- Gen.chooseNum(0L, 40L)
    } yield (key.toLong, s, s + len)
    val rows = samples(gen, 100).zipWithIndex.map { case ((k, s, e), i) => (k, i.toLong, s, e) }
    val df = rows.toDF("k", "id", "s", "e")
    val got = RangeJoin.selfOverlapPairs(df, "k", "id", "s", "e", bandWidth = 13)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val want = (for {
      a <- rows; b <- rows
      if a._1 == b._1 && a._2 < b._2 && a._3 <= b._4 && b._3 <= a._4
    } yield (a._2, b._2)).toSet
    assert(got == want)
  }

  test("sketch aggregates: HLL distinct and GK percentile within documented error of exact") {
    val events = Tables.events(spark, sf)
    val exact = events.agg(countDistinct($"user_id")).head.getLong(0)
    // HLL++ rsd default 5%; we pass 2% — error must respect the tighter bound
    val approx = events.agg(approx_count_distinct($"user_id", 0.02)).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"HLL estimate $approx vs exact $exact")
    val exactP50 = events.agg(expr("percentile(value, 0.5)")).head.getDouble(0)
    val approxP50 = events.agg(expr("approx_percentile(value, 0.5, 1000)")).head.getDouble(0)
    val spread = events.agg(max($"value") - min($"value")).head.getDouble(0)
    assert(math.abs(approxP50 - exactP50) <= spread / 100.0,
      s"approx p50 $approxP50 vs exact $exactP50 (spread $spread)")
  }

  test("pairs emits exactly C(n,2) canonical pairs per order") {
    val basketGen = Gen.chooseNum(2, 8).flatMap(n =>
      Gen.pick(n, 1 to 20).map(_.toList))
    samples(basketGen, 10).zipWithIndex.foreach { case (products, ord) =>
      val df = products.map(p => (ord.toLong, p.toLong)).toDF("order_id", "product_id")
      val got = Baskets.pairs(df, "order_id", "product_id").collect()
      val n = products.size
      assert(got.length == n * (n - 1) / 2, s"basket $products")
      assert(got.forall(r => r.getLong(1) < r.getLong(2)))
    }
  }

  test("shingles: distinct n-grams, count <= max(tokens-n+1, 0)") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
    val textGen = Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, word))
    samples(textGen, 20).foreach { words =>
      val text = words.mkString(" ")
      val got = Seq(text).toDF("t")
        .select(TextFns.shingles(col("t"), 3).as("sh")).head.getSeq[String](0)
      assert(got.size <= math.max(words.size - 2, 0), s"text '$text'")
      assert(got.distinct.size == got.size)
    }
  }

  test("ngramHashes count == distinct string shingles count for generated docs") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val textGen = Gen.chooseNum(0, 25).flatMap(n => Gen.listOfN(n, word))
    val texts = samples(textGen, 25).map(_.mkString(" "))
    val rows = texts.toDF("t")
      .select(
        size(TextFns.shingles(col("t"), 3)).as("viaStrings"),
        size(graft.plans.TextExprs.ngramHashes(
          TextFns.shingleHashes(TextFns.tokens(col("t"))), 3)).as("viaHashes"))
      .collect()
    // distinct-by-hash == distinct-by-string absent 64-bit collisions
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("PairArray: C(distinct,2) pairs, canonical and sorted, for generated arrays") {
    val arrGen = Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, Gen.chooseNum(1L, 6L)))
    samples(arrGen, 25).foreach { xs =>
      val pairs = Seq(Tuple1(xs)).toDF("arr")
        .select(explode(graft.plans.PairArray.pairArray(col("arr"))).as("p"))
        .select("p.product_1", "p.product_2").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val d = xs.distinct.size
      assert(pairs.length == d * (d - 1) / 2, s"input $xs")
      assert(pairs.forall { case (a, b) => a < b })
      assert(pairs.distinct.length == pairs.length)
    }
  }

  test("winnowing guarantee: shared substring of length >= k+w-1 shares a fingerprint") {
    import graft.plans.TextExprs
    val k = 8; val w = 4
    val passageGen = for {
      n <- Gen.chooseNum(k + w - 1, 40)
      cs <- Gen.listOfN(n, Gen.alphaLowerChar)
    } yield cs.mkString
    val prefixGen = Gen.listOfN(12, Gen.alphaUpperChar).map(_.mkString)
    samples(Gen.zip(passageGen, prefixGen, prefixGen), 20).foreach {
      case (passage, p1, p2) =>
        val fps = Seq((s"$p1$passage", s"$p2 shifted $passage")).toDF("a", "b")
          .select(
            TextExprs.rollingFingerprints(col("a"), k, w).as("fa"),
            TextExprs.rollingFingerprints(col("b"), k, w).as("fb")).head
        val shared = fps.getSeq[Long](0).toSet & fps.getSeq[Long](1).toSet
        assert(shared.nonEmpty, s"passage '$passage'")
    }
  }

  test("decimal aggregation is bit-identical under any partitioning") {
    import graft.operators.Aggregates._
    val vals = samples(Gen.choose(-99999.99, 99999.99), 500)
    def total(parts: Int): Double = vals.toDF("v").repartition(parts)
      .agg(dsum(col("v"))).head.getDouble(0)
    val one = total(1)
    assert(Seq(2, 7, 32).forall(p => total(p) == one))  // ==, not ~=
    // plain double sum is NOT guaranteed order-stable — that's the reason
    // dsum exists; don't assert its instability (it can coincide), just
    // that dsum matches the sequential reference exactly
    val seqRef = vals.map(BigDecimal(_).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
    assert(one == seqRef.toDouble)
  }

  test("explode preserves total quantity for generated baskets") {
    val itemGen = for {
      pid <- Gen.chooseNum(1, 50); qty <- Gen.chooseNum(1, 9)
      price <- Gen.chooseNum(1000L, 99999L)
    } yield s"""{"product_id":$pid,"quantity":$qty,"item_price":$price}"""
    val basketGen = Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, itemGen))
    val baskets = samples(basketGen, 15).zipWithIndex
      .map { case (items, i) => (i.toLong, items.mkString("[", ",", "]")) }
    val df = baskets.toDF("order_id", "product_metadata")
      .withColumn("items", Baskets.parseItems(col("product_metadata")))
    val exploded = Baskets.explodeItems(df, col("items"), Seq(col("order_id")))
    val viaExplode = exploded.agg(sum("quantity")).head.getLong(0)
    val viaHof = df.select(
      aggregate(col("items"), lit(0), (acc, x) => acc + x.getField("quantity")).as("t"))
      .agg(sum("t")).head.getLong(0)
    assert(viaExplode == viaHof)
  }

  test("generated partition values round-trip the tx write → dv delete " +
      "→ checkpoint path (the Hive-escape / URI-encode seam)") {
    // every ASCII character class that stresses an encoding seam
    // somewhere: spaces (URI %20), percent (double-encode), plus
    // (form-decode trap), colon/equals/hash (Hive-escaped), slashes
    // (Hive %2F), dots and dashes. (Non-ASCII values work on UTF-8
    // filesystems but this test JVM runs under a POSIX locale, so the
    // LOCAL FS itself refuses such dir names — not an engine seam.)
    val valGen = Gen.chooseNum(2, 10).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        6 -> Gen.alphaNumChar,
        1 -> Gen.oneOf(' ', '%', '+', ':', '=', '#', '.', '-'),
        1 -> Gen.const('/'))).map(_.mkString))
    val values = samples(valGen, 12).distinct.filter(_.trim.nonEmpty)
    val root =
      s"${System.getProperty("java.io.tmpdir")}/graft-prop/partvals"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val rows = values.zipWithIndex.flatMap { case (v, i) =>
      Seq((v, i.toLong * 2), (v, i.toLong * 2 + 1)) }
    graft.sources.TxLog.appendBatchTx(rows.toDF("part", "k"), root,
      "part", "pv-b1")
    // values survive the dir-name codec exactly
    assert(graft.sources.TxLog.partitionValues(spark, root) ===
      values.toSet)
    // a dv delete lands on every partition (the rel-path keying must
    // hold for every generated value) and survives the checkpoint fold
    val (_, nDel) = graft.sources.TxLog.deleteWhereDvTx(spark, root,
      col("k") % 2 === 0)
    assert(nDel === values.size.toLong)
    graft.sources.TxLog.checkpoint(spark, root)
    val got = graft.sources.TxLog.readTable(spark, root)
      .select("part", "k").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got.length === values.size)
    assert(got.forall(_._2 % 2 == 1))
    assert(got.map(_._1).toSet === values.toSet)
  }
}
