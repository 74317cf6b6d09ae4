package graft

import org.apache.spark.sql.functions._

import graft.functions.TopK

/** Bounded top-k façade ([[graft.functions.TopK]]): element-for-element
  * equivalence with the sorted-slice idiom it replaces, plus the buffer and
  * plan properties that are the point of the rewrite. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  private def groups = Seq(
    ("a", 5L, 1.0), ("a", 3L, 2.0), ("a", 9L, 0.5), ("a", 1L, 3.0),
    ("b", 2L, 7.0), ("b", 8L, 7.0),
    ("c", 4L, 1.0)
  ).toDF("g", "id", "v")

  test("topKAsc == slice(sort_array(collect_list)) on struct keys") {
    val s = struct((col("v") * lit(-1.0)).as("__neg"), col("id"), col("v"))
    val viaSlice = groups.groupBy("g")
      .agg(slice(sort_array(collect_list(s)), 1, 2).as("top"))
    val viaHeap = groups.groupBy("g")
      .agg(TopK.topKAsc(s, 2).as("top"))
    assert(viaHeap.orderBy("g").collect().toSeq ===
      viaSlice.orderBy("g").collect().toSeq)
  }

  test("SQL top_k_desc == slice(sort_array(collect_list, desc)) on plain longs") {
    val viaSlice = groups.groupBy("g")
      .agg(slice(sort_array(collect_list(col("id")), asc = false), 1, 2).as("top"))
    val viaHeap = groups.groupBy("g")
      .agg(expr("top_k_desc(id, 2)").as("top"))
    assert(viaHeap.orderBy("g").collect().toSeq ===
      viaSlice.orderBy("g").collect().toSeq)
  }

  test("k larger than the group returns the whole group, sorted") {
    val out = groups.groupBy("g").agg(TopK.topKAsc(col("id"), 100).as("top"))
      .orderBy("g").collect().map(_.getSeq[Long](1).toSeq)
    assert(out.toSeq === Seq(Seq(1L, 3L, 5L, 9L), Seq(2L, 8L), Seq(4L)))
  }

  test("nulls are skipped, like collect_list") {
    val df = Seq(("a", Some(2L)), ("a", None), ("a", Some(1L)))
      .toDF("g", "id")
    val out = df.groupBy("g").agg(TopK.topKAsc(col("id"), 5).as("top"))
      .collect().head.getSeq[Long](1)
    assert(out === Seq(1L, 2L))
  }

  test("result is partition-order independent (total order on struct)") {
    val s = struct((col("v") * lit(-1.0)).as("__neg"), col("id"))
    val base = groups.groupBy("g").agg(TopK.topKAsc(s, 2).as("top"))
      .orderBy("g").collect().toSeq
    val shuffled = groups.orderBy(col("id").desc).repartition(7)
      .groupBy("g").agg(TopK.topKAsc(s, 2).as("top"))
      .orderBy("g").collect().toSeq
    assert(shuffled === base)
  }

  test("planted skew: one group holding 200k rows aggregates under a bounded buffer") {
    // the scenario the idiom swap exists for: a single hot group (one
    // stopword / one high-df query term) whose collect_list buffer would be
    // O(group). 200k rows through one group must come back as exactly k.
    val hot = spark.range(200000).select(
      lit("hot").as("g"), col("id"), (col("id") % 997).cast("double").as("v"))
    val out = hot.groupBy("g")
      .agg(TopK.topKAsc(struct(col("v"), col("id")), 3).as("top"))
      .collect().head.getSeq[org.apache.spark.sql.Row](1)
    assert(out.map(r => (r.getDouble(0), r.getLong(1))) ===
      Seq((0.0, 0L), (0.0, 997L), (0.0, 1994L)))
  }

  test("partial aggregation applies: plan shows ObjectHashAggregate with partial_collecttopk") {
    val plan = groups.groupBy("g")
      .agg(TopK.topKAsc(struct(col("v"), col("id")), 2).as("top"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.toLowerCase.contains("partial_collect_top_k") ||
      plan.toLowerCase.contains("partial_collecttopk"), plan)
  }
}
