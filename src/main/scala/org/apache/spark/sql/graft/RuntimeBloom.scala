package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.xxhash64
import org.apache.spark.sql.{Column, DataFrame}

/** Manual runtime Bloom pre-filter, built from the SAME catalyst nodes
  * Spark's own `InjectRuntimeFilter` rule uses (SPARK-32268:
  * `bloom_filter_agg` over `xxhash64(key)` in a scalar subquery, probed
  * by codegen'd `might_contain`), for the cases where the automatic
  * rule cannot fire (our build side carries engine-computed digests,
  * not a selective scan filter the optimizer can see through).
  *
  * Versus `DataFrame.stat.bloomFilter` + a probe UDF (the r20 shape):
  *   - the BUILD is one SQL aggregate job inside the query itself —
  *     partial filters merge executor-side through normal partial/final
  *     aggregation, and no separate driver-side RDD `treeAggregate` job
  *     (or sizing `count()` job) runs before the query can even be
  *     constructed;
  *   - the PROBE is a codegen'd expression (guide §4: no Scala closure
  *     in the per-row hot path) instead of a deserializing UDF;
  *   - the plan is self-contained: `might_contain(scalar-subquery(...),
  *     xxhash64(k))` shows up in EXPLAIN exactly like Spark's injected
  *     runtime filters, so every execution re-runs the filter build
  *     like every other stage.
  *
  * False positives only cost extra probe-side rows (callers must keep
  * an exact confirm step when exactness matters); there are no false
  * negatives at any sizing, so results never depend on `expectedItems`.
  */
object RuntimeBloom {
  /** `might_contain(<bloom of build.select(key)>, xxhash64(probeKey))`.
    * The returned Column filters NULL probe keys to NULL (same as the
    * IN-subquery semantics callers pair it with). */
  def preFilter(build: DataFrame, buildKey: Column, probeKey: Column,
                expectedItems: Long, fpp: Double): Column = {
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val agg = new BloomFilterAggregate(
      PlanExec.expression(xxhash64(buildKey)),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression()
    val bloom = build.select(PlanExec.column(agg).as("bf"))
    PlanExec.column(BloomFilterMightContain(
      ScalarSubquery(bloom.queryExecution.analyzed),
      PlanExec.expression(xxhash64(probeKey))))
  }
}
