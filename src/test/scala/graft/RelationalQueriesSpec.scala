package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query must run and return rows on sf0.001; value-level
  * correctness is covered by the DuckDB oracle gate (tools/check_oracle.py
  * emulates it locally; the driver runs it per round at sf0.01).
  */
class RelationalQueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("every query has an oracle or is explicitly rows-only") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without an oracle: $missing")
  }

  test("oracle keys all have query implementations") {
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs and returns rows on sf0.001") {
      val df = fn(spark, SparkTestBase.sf)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a3_skew_agg: salted two-phase equals the direct aggregate") {
    import org.apache.spark.sql.functions._
    val direct = Tables.lineitem(spark, SparkTestBase.sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
        count(lit(1)).as("n_items"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val salted = SparkEntry.queries("a3_skew_agg")(spark, SparkTestBase.sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(salted == direct)
  }

  test("src_upsert_merge: delta wins, base-only rows untouched") {
    val rows = SparkEntry.queries("src_upsert_merge")(spark, SparkTestBase.sf)
      .collect().map(r => (r.getAs[Long]("o_orderkey"),
        r.getAs[Long]("price_cents"), r.getAs[Int]("version")))
    assert(rows.map(_._1).distinct.length == rows.length, "one row per key")
    val mod = graft.queries.Relational.UpsertDeltaMod
    rows.foreach { case (k, _, v) =>
      assert(v == (if (k % mod == 0) 1 else 0), s"key $k has version $v")
    }
    assert(rows.exists(_._3 == 1) && rows.exists(_._3 == 0))
  }

  test("src_merge_cdc: deletes vanish, upserts win, untouched rows intact") {
    val mod = graft.queries.Relational.UpsertDeltaMod
    val rows = SparkEntry.queries("src_merge_cdc")(spark, SparkTestBase.sf)
      .collect().map(r => (r.getAs[Long]("o_orderkey"),
        r.getAs[Long]("price_cents"), r.getAs[Int]("version")))
    assert(rows.map(_._1).distinct.length == rows.length, "one row per key")
    val keys = rows.map(_._1).toSet
    val allKeys = Tables.orders(spark, SparkTestBase.sf)
      .select("o_orderkey").collect().map(_.getLong(0))
    allKeys.foreach { k =>
      val touched = k % mod == 0
      val deleted = touched && k % 3 == 0
      assert(keys.contains(k) == !deleted, s"key $k presence wrong")
    }
    rows.foreach { case (k, _, v) =>
      assert(v == (if (k % mod == 0) 1 else 0), s"key $k version $v")
    }
    // Deletes actually happened and upserts survived.
    assert(allKeys.exists(k => k % mod == 0 && k % 3 == 0))
    assert(rows.exists(_._3 == 1))
  }

  test("ev_time_weighted_avg: twa bounded by the user's value range, " +
       "single-event users absent") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("ev_time_weighted_avg")(spark, SparkTestBase.sf)
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_intervals"), r.getAs[Long]("twa_milli"))).toMap
    assert(rows.nonEmpty)
    val perUser = Tables.events(spark, SparkTestBase.sf)
      .select(col("user_id"), col("value")).collect()
      .groupBy(_.getLong(0)).map { case (u, rs) =>
        u -> (rs.length, rs.map(_.getDouble(1)))
      }
    perUser.foreach { case (u, (n, vals)) =>
      if (n < 2) assert(!rows.contains(u), s"user $u has no interval")
      else {
        val (ni, twa) = rows(u)
        assert(ni == n - 1, s"user $u: ${n - 1} intervals expected, got $ni")
        // A weighted mean of the non-final values lies inside their range
        // (cents rounding gives ±5 milli of slack at the edges).
        val cents = vals.map(v => math.round(v * 100))
        assert(twa >= cents.min * 10 - 5 && twa <= cents.max * 10 + 5,
          s"user $u: twa $twa outside [${cents.min * 10}, ${cents.max * 10}]")
      }
    }
  }

  test("ev_rate_anomaly: integer flags agree with a double z-score check") {
    val rows = SparkEntry.queries("ev_rate_anomaly")(spark, SparkTestBase.sf)
      .collect().map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("n"), r.getAs[Boolean]("anomalous")))
    assert(rows.nonEmpty && rows.exists(_._3), "expected some flagged hours")
    rows.groupBy(_._1).foreach { case (_, hours) =>
      val ns = hours.map(_._2.toDouble)
      val mean = ns.sum / ns.length
      val sd = math.sqrt(ns.map(x => (x - mean) * (x - mean)).sum / ns.length)
      hours.foreach { case (t, n, flagged) =>
        // Exact boundary cases are what the integer form exists for;
        // away from the boundary the double check must agree.
        val z = if (sd == 0) 0.0 else (n - mean) / sd
        if (math.abs(z - 2.0) > 1e-9)
          assert(flagged == (z > 2.0), s"$t n=$n z=$z flagged=$flagged")
      }
    }
  }

  test("ev_retention: offset-0 diagonal covers every user exactly once") {
    val rows = SparkEntry.queries("ev_retention")(spark, SparkTestBase.sf)
      .collect().map(r => (r.getAs[java.sql.Date]("cohort_wk").toString,
        r.getAs[Int]("week_offset"), r.getAs[Long]("n_users")))
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (c, cells) =>
      val base = cells.find(_._2 == 0)
      assert(base.isDefined, s"cohort $c missing its offset-0 cell")
      cells.foreach { case (_, off, n) =>
        assert(off >= 0 && n <= base.get._3,
          s"cohort $c offset $off retains more users than its base")
      }
    }
    // Each user belongs to exactly one cohort → the offset-0 diagonal
    // sums to the total distinct-user count.
    import org.apache.spark.sql.functions._
    val totalUsers = Tables.events(spark, SparkTestBase.sf)
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    assert(rows.filter(_._2 == 0).map(_._3).sum == totalUsers)
  }

  test("ev_transition_matrix: transitions sum to events minus users") {
    import org.apache.spark.sql.functions._
    val total = SparkEntry.queries("ev_transition_matrix")(spark, SparkTestBase.sf)
      .agg(sum(col("n_transitions"))).collect()(0).getLong(0)
    val ev = Tables.events(spark, SparkTestBase.sf)
    val nEvents = ev.count()
    val nUsers = ev.select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    // Every user timeline of k events contributes exactly k-1 transitions.
    assert(total == nEvents - nUsers, s"$total != $nEvents - $nUsers")
  }

  test("ev_attribution: credits conserve each attributed purchase's cents exactly") {
    import org.apache.spark.sql.functions._
    val credits = SparkEntry.queries("ev_attribution")(spark, SparkTestBase.sf)
      .groupBy("purchase_id").agg(sum(col("credit_cents")).as("total"))
    val purchases = Tables.events(spark, SparkTestBase.sf)
      .where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        round(col("value") * 100).cast("long").as("cents"))
    // Inner-join conservation: every purchase that received ANY credit
    // received exactly its rounded cents (base shares + remainder).
    val joined = credits.join(purchases, Seq("purchase_id")).collect()
    assert(joined.nonEmpty, "no attributed purchases at this SF")
    joined.foreach { r =>
      assert(r.getAs[Long]("total") == r.getAs[Long]("cents"),
        s"credit leak on purchase ${r.get(0)}: $r")
    }
  }

  test("src_jsonl_ingest: the corpus survives the JSONL round-trip, the " +
       "planted lines are quarantined exactly, and FAILFAST genuinely " +
       "dies on the same landing file") {
    import org.apache.spark.sql.functions._
    import graft.queries.Relational
    val sf = SparkTestBase.sf
    val card = SparkEntry.queries("src_jsonl_ingest")(spark, sf).collect()
      .map(r => (r.getString(0), r.getBoolean(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // Torn lines land under the DEDICATED quarantine key (NULL lang).
    assert(card((null, true)) == (Relational.JsonlCorruptLines.toLong, 0L, 0L),
      s"quarantine row: ${card.get((null, true))}")
    // The planted GENUINE lang='_corrupt' docs land as ordinary rows —
    // the collision the old lang-sentinel scheme could not distinguish.
    val planted = Relational.JsonlPlantedCorruptLang
    assert(card(("_corrupt", false)) ==
      (planted.size.toLong, planted.map(_.length.toLong).sum,
        planted.distinct.size.toLong),
      s"genuine lang='_corrupt' row: ${card.get(("_corrupt", false))}")
    // Conservation: the parsed card equals the source corpus per lang.
    val want = Tables.documents(spark, sf)
      .groupBy("lang").agg(count(lit(1)), sum("n_chars"),
        count_distinct(md5(col("text")))).collect()
      .map(r => (r.getString(0), false) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(card - ((null, true)) - (("_corrupt", false)) == want,
      "round-trip card drifted from source")
    // The tolerance is not vacuous: a FAILFAST read of the SAME landing
    // file must throw on the planted truncated lines.
    val landing = s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_ingest_" +
      s"${spark.sparkContext.applicationId}_${Integer.toHexString(sf.hashCode)}"
    val strict = spark.read
      .schema("doc_id LONG, lang STRING, n_chars LONG, text STRING")
      .option("mode", "FAILFAST").json(landing)
    val died = intercept[org.apache.spark.SparkException](strict.count())
    assert(died.getMessage != null)
  }
}
