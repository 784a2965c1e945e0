package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.{TopK, TopKPerKeyExec}

class TopKPerKeySpec extends SparkTestBase {
  import spark.implicits._

  private def data = (1 to 1000).map(i => (i % 7, i * 31 % 997, i))
    .toDF("key", "score", "id").repartition(5)

  test("TopK.perKey matches the window row_number formulation exactly") {
    val topk = TopK.perKey(data, Seq("key"),
      Seq(col("score").desc, col("id")), k = 3)
      .orderBy("key", "score", "id").collect()
    val w = Window.partitionBy("key").orderBy(col("score").desc, col("id"))
    val expected = data.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
      .orderBy("key", "score", "id").collect()
    assert(topk.toSeq == expected.toSeq)
  }

  test("perKeyTwoPhase == perKey == window row_number (exact partial " +
      "pre-pass), and its plan stacks partial below final with ONE " +
      "exchange between them") {
    val two = TopK.perKeyTwoPhase(data, Seq("key"),
        Seq(col("score").desc, col("id")), k = 3)
      .orderBy("key", "score", "id").collect().toSeq
    val one = TopK.perKey(data, Seq("key"),
        Seq(col("score").desc, col("id")), k = 3)
      .orderBy("key", "score", "id").collect().toSeq
    assert(two == one, "two-phase must be exact for a total ordering")
    val df = TopK.perKeyTwoPhase(data, Seq("key"),
      Seq(col("score").desc, col("id")), 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.split("TopKPerKey").length - 1 >= 2,
      s"expected partial AND final TopKPerKeyExec:\n$plan")
    // the partial pass runs in place: the only key shuffle is the
    // clustered requirement between partial and final (the fixture's
    // own repartition(5) is round-robin, not a key exchange; count in
    // the FINAL plan only — AQE's toString repeats the initial plan)
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val keyExchanges =
      "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(keyExchanges == 1,
      s"two-phase top-k must key-shuffle exactly once:\n$plan")
    // the shuffle moves <= k rows per key per input partition: with
    // 5 input partitions, 7 keys, k=3 that is <= 105 rows, never 1000
    val partialOut = TopK.perKeyPartialForTest(data, Seq("key"),
      Seq(col("score").desc, col("id")), 3).count()
    assert(partialOut <= 105 && partialOut >= 21,
      s"partial pass must bound the shuffle input, got $partialOut")
  }

  test("physical plan uses TopKPerKeyExec, not Window+Sort") {
    val df = TopK.perKey(data, Seq("key"), Seq(col("score").desc, col("id")), 3)
    df.collect() // materialize so AQE finalizes the physical plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"expected TopKPerKeyExec in:\n$plan")
    assert(plan.contains("Exchange"), "keys must be clustered (one shuffle)")
    assert(!plan.contains("Window"), "no window operator")
  }

  test("WindowTopKRewrite: row_number<=k + drop(rn) plans as TopKPerKey; " +
      "queries that keep the rank column are left alone") {
    import org.apache.spark.sql.expressions.{Window => W}
    val w = W.partitionBy("key").orderBy(col("score").desc, col("id"))
    // the drop-rank idiom (Upsert.latestByKey shape) -> rewritten
    val dropped = data.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    dropped.collect()
    val p1 = dropped.queryExecution.executedPlan.toString
    assert(p1.contains("TopKPerKey") && !p1.contains("Window"), p1)
    // rank kept in output -> NOT rewritten (schema would change)
    val kept = data.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    kept.collect()
    val p2 = kept.queryExecution.executedPlan.toString
    assert(p2.contains("Window") && !p2.contains("TopKPerKey"), p2)
    // rewritten result equals the window result
    val viaRule = dropped.orderBy("key", "score", "id").collect()
    val viaTopK = graft.plans.TopK.perKey(data, Seq("key"),
      Seq(col("score").desc, col("id")), 1).orderBy("key", "score", "id").collect()
    assert(viaRule.toSeq == viaTopK.toSeq)
  }

  test("TopKJoinPushdown ranks below a unique left-outer enrichment join; " +
      "non-unique or inner joins are left alone") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import graft.plans.TopKPerKeyNode
    val dim = data.groupBy("key").agg(avg(col("score")).as("key_avg"))
    def hasTopKBelowJoin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case j: Join => j.left.collectFirst { case t: TopKPerKeyNode => t }.isDefined
      }.exists(identity)

    // unique right (Aggregate on the join key), left_outer -> pushed
    val joined = data.join(dim, Seq("key"), "left_outer")
    val pushed = TopK.perKey(joined, Seq("key"),
      Seq(col("score").desc, col("id")), 3)
    assert(hasTopKBelowJoin(pushed),
      s"expected rank below join:\n${pushed.queryExecution.optimizedPlan}")
    // result identical to ranking after the join
    val w = Window.partitionBy("key").orderBy(col("score").desc, col("id"))
    val expected = joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
      .orderBy("key", "score", "id").collect()
    assert(pushed.orderBy("key", "score", "id").collect().toSeq == expected.toSeq)

    // non-unique right side (raw fact table) -> NOT pushed
    val dup = data.select(col("key"), col("score").as("other_score"))
    val notPushed = TopK.perKey(data.join(dup, Seq("key"), "left_outer"),
      Seq("key"), Seq(col("other_score").desc, col("id")), 3)
    assert(!hasTopKBelowJoin(notPushed), "must not push below a 1:N join")

    // inner join -> NOT pushed (unmatched rows would shift the top k)
    val inner = TopK.perKey(data.join(dim, Seq("key")), Seq("key"),
      Seq(col("score").desc, col("id")), 3)
    assert(!hasTopKBelowJoin(inner), "must not push below an inner join")
  }

  test("k larger than group size returns whole groups; ascending works") {
    val small = Seq((1, 10), (1, 20), (2, 5)).toDF("key", "v")
    val r = TopK.perKey(small, Seq("key"), Seq(col("v")), k = 10)
      .orderBy("key", "v").collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(r.toSeq == Seq((1, 10), (1, 20), (2, 5)))
  }

  test("FilterThroughTopK: key predicates push below the heap and reach " +
      "the scan; value predicates stay above") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val topk = graft.plans.TopK.perKey(ev, Seq("user_id"),
      Seq(col("value").desc, col("event_id")), k = 3)

    val keyFiltered = topk.filter(col("user_id") < 100)
    keyFiltered.collect()
    // pushdown restored end-to-end: the predicate reaches the parquet scan
    val physical = keyFiltered.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(user_id), LessThan(user_id,100)"),
      s"filter did not reach the scan:\n$physical")
    // results identical to the unpushed formulation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    val expected = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn").filter(col("user_id") < 100)
    assert(keyFiltered.orderBy("event_id").collect().toSeq ==
      expected.orderBy("event_id").collect().toSeq)

    // NON-key predicate must NOT push (filter-survivors ≠ rank-filtered)
    val valFiltered = topk.filter(col("value") > 50)
    val optimized = valFiltered.queryExecution.optimizedPlan
    val filterAboveTopK = optimized match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(_, child) =>
        child.collectFirst {
          case t: graft.plans.TopKPerKeyNode => t }.isDefined ||
          child.isInstanceOf[graft.plans.TopKPerKeyNode]
      case _ => false
    }
    assert(filterAboveTopK, s"value filter must stay above the top-k:\n$optimized")
    val expectedVal = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn").filter(col("value") > 50)
    assert(valFiltered.orderBy("event_id").collect().toSeq ==
      expectedVal.orderBy("event_id").collect().toSeq)
  }

  test("FilterThroughTopK does NOT push when the key is an expression " +
      "(predicate varies within a group)") {
    import spark.implicits._
    // partition by year(ts): a ts predicate references the key's inputs
    // but is NOT constant per group — pushing would change results
    val df = Seq(
      ("2020-01-01 00:00:00", 9.0), ("2020-07-01 00:00:00", 5.0),
      ("2021-03-01 00:00:00", 7.0))
      .toDF("ts_s", "v").selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "v")
    val topk = graft.plans.TopK.perKey(
      df.withColumn("yr", expr("year(ts)")), Seq("yr"),
      Seq(col("v").desc), k = 1)
    // keys here are bare attributes (yr) — pushing a yr filter is fine;
    // build the unsafe shape via the window rewrite on an expression key
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(expr("year(ts)")).orderBy(col("v").desc)
    val ranked = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 1).drop("rn")
      .filter(col("ts") >= "2020-06-01")
    // original semantics: year 2020's top row (v=9, Jan) is filtered out
    // AFTER ranking → only 2021 survives. A bad pushdown would emit the
    // July row instead.
    val got = ranked.collect().map(_.getAs[Double]("v")).toSeq.sorted
    assert(got == Seq(7.0), s"filter-through-topk changed results: $got")
  }

  test("perKey, perKeyTwoPhase and the partial test hook resolve keys " +
      "the same way: a missing key is a named error, k must be positive; " +
      "ensureRegistered installs each rule once") {
    val entries = Seq[(org.apache.spark.sql.DataFrame, Seq[String],
        Seq[org.apache.spark.sql.Column], Int) => org.apache.spark.sql.DataFrame](
      TopK.perKey, TopK.perKeyTwoPhase, TopK.perKeyPartialForTest)
    for (f <- entries) {
      val e = intercept[IllegalArgumentException] {
        f(data, Seq("nokey"), Seq(col("id")), 3)
      }
      assert(e.getMessage.contains("key 'nokey' not in"), e.getMessage)
      intercept[IllegalArgumentException](f(data, Seq("key"), Seq(col("id")), 0))
    }
    TopK.ensureRegistered(spark)
    TopK.ensureRegistered(spark)
    import graft.plans._
    val rules = Seq(WindowTopKRewrite, TopKJoinPushdown, FilterThroughTopK,
      MergeFilterPushdown)
    val opts = spark.experimental.extraOptimizations
    assert(opts.filter(r => rules.contains(r)) == rules, opts.toString)
    assert(spark.experimental.extraStrategies
      .count(_ == TopKPerKeyStrategy) == 1)
  }
}
