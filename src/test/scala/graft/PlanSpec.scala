package graft

import graft.operators.{Relational, Similarity}

/** Physical-plan audit: the scale properties SURVEY §5 promises must
  * be visible in the executed plan, not just intended.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: filters and projection reach the parquet scan") {
    val p = plan(Relational.q02(spark, sf))
    // toString truncates long filter lists — presence of pushed
    // IsNotNull + shipdate bound proves the pushdown happened
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipda"), p)
    // pruned read schema — only the 6 referenced columns, no
    // l_returnflag/l_tax/etc
    assert(!p.contains("l_returnflag"), "scan reads unneeded columns")
  }

  test("q04: dimension chain is all broadcast joins, no shuffle joins") {
    val p = plan(Relational.q04(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dim join shuffled:\n$p")
  }

  test("q06: global top-k plans as TakeOrderedAndProject, not full sort") {
    val p = plan(Relational.q06(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q40: query set is broadcast, big side never shuffles before scoring") {
    val p = plan(Similarity.q40(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q05/q24: rank-filter pushes down as partial per-group top-k") {
    // WindowGroupLimit keeps a k-row heap per group on the map side
    // instead of sorting whole partitions then filtering — the
    // difference between shuffling k rows/group and ALL rows at 100 TB
    val p5 = plan(Relational.q05(spark, sf))
    assert(p5.contains("WindowGroupLimit"), p5)
    val p24 = plan(graft.operators.TextAnalysis.q24(spark, sf))
    assert(p24.contains("WindowGroupLimit"), p24)
  }

  test("q01: aggregation is partial (map-side) before the exchange") {
    val p = plan(Relational.q01(spark, sf))
    // HashAggregate appears twice around the exchange: partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Exchange"), p)
  }

  test("map-only operators plan zero exchanges") {
    // redaction (q25) and the hash split (q58) must pipeline scan →
    // project → filter with no shuffle: at 100 TB a stray Exchange
    // here would move the whole corpus for nothing
    val p25 = plan(graft.operators.TextAnalysis.q25(spark, sf))
    val p58 = plan(graft.operators.Sampling.q58(spark, sf))
    // each ends in a global sort for the verify canonicalizer — strip
    // the top-level sort's exchange from consideration by checking
    // the count: exactly one (the sort), nothing from the op itself
    assert("Exchange".r.findAllIn(p25).size <= 1, p25)
    assert("Exchange".r.findAllIn(p58).size <= 1, p58)
  }

  test("fingerprint64 and dot_d work via SQL through GraftExtensions") {
    val s2 = GraftSession.builder("local[2]", 2).getOrCreate()
    val r = s2.sql(
      "SELECT fingerprint64('abc') AS fp, dot_d(array(1D,2D), array(3D,4D)) AS d")
      .collect()(0)
    assert(r.getAs[Double]("d") === 11.0)
    assert(r.getAs[Long]("fp") !== 0L)
  }

  test("q45: repetition signals are map-only — grams never shuffle") {
    // per-doc gram analysis must stay inside the row: the only
    // exchanges are the verify-canonicalizer sort (range) and the
    // deliberate Tables.spread fan-out (round-robin) — never a hash
    // shuffle, which would mean grams left their document
    val p = plan(graft.operators.Curation.q45(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Generate"), s"grams exploded out of the row:\n$p")
  }

  test("q73: fuzzy match is candidate-driven — no nested-loop or cartesian join") {
    // the whole point of FastSS is replacing the oracle's O(n²) cross
    // join; a BroadcastNestedLoopJoin/CartesianProduct anywhere means
    // the plan regressed to all-pairs. Budget 0 runs the distributed
    // arm: the driver arm's plan is one range stage and would pass
    // whatever the distributed arm did
    val p = plan(graft.operators.Dedup.q73(spark, sf, localMaxBytes = 0L))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q72: the gram-df exchange is reused by the join back on the same key") {
    // the df aggregate groups by gram and the join back is keyed on
    // gram — same partitioning, so the executed plan must reuse the
    // exchange instead of shuffling the gram relation twice
    val df = graft.operators.Curation.q72(spark, sf)
    df.collect() // AQE materializes reuse in the final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("(reuse"),
      s"gram relation shuffled twice:\n$p")
  }

  test("q100: the positional-gram exchange is reused by the occurrence join") {
    // same shape as q72: occurrences group by gram, the join back is
    // keyed on gram — one gram shuffle, not two; islands then form on
    // narrow (doc_id, pos) rows only
    val df = graft.operators.Curation.q100(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("(reuse"),
      s"gram relation shuffled twice:\n$p")
  }

  test("q101: the line exchange is reused by the occurrence join") {
    // q100's shape at line granularity: occurrences group by line,
    // the membership join back is keyed on line — one line shuffle
    val df = graft.operators.Curation.q101(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("(reuse"),
      s"line relation shuffled twice:\n$p")
  }

  test("q43: PQ candidate stage ranks on codes, vectors join only the shortlist") {
    val p = plan(Similarity.q43(spark, sf))
    // the corpus side reaches the approx ranking via broadcast probe
    // join (cell) — no shuffle join of the full corpus anywhere
    assert(p.contains("BroadcastHashJoin"), p)
    // the approx window ranks PqRerank rows per query map-side
    assert(p.contains("WindowGroupLimit"),
      s"approx top-R not pushed into a group limit:\n$p")
  }
}
