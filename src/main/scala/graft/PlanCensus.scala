package graft

import org.apache.spark.sql.execution.WholeStageCodegenExec

/** Plan-fingerprint census: one JSON object per gated query counting the
  * scale-critical physical operators in its fully-PREPARED static plan
  * (executedPlan with AQE off — exchanges inserted, codegen collapsed,
  * no runtime re-planning, so the fingerprint is deterministic): file scans, shuffle and
  * broadcast exchanges, sorts, whole-stage-codegen spans, windows.
  *
  * PlanSpec asserts the invariants we KNOW matter; this census covers
  * every query COARSELY so a cross-round diff (`tools/plan_diff.py`)
  * surfaces the regressions nobody thought to pin — the r10
  * q_vocab_drift lesson (a silent plan change found only by timing
  * archaeology) turned into a mechanical check. An extra exchange or a
  * lost broadcast shows up as a one-line diff the round it lands, next
  * to the bench line that explains it.
  *
  * `runMain graft.PlanCensus [sfDir] [outPath]` — plan BUILD only; no
  * query executes (bodies that materialize a rollup/census as part of
  * plan construction do run that step, which is why the ledger drains
  * per query here exactly like Bench/Verify).
  *
  * `codegen_fallbacks` counts the spans that would NOT run compiled:
  * each WholeStageCodegenExec's generated source is janino-compiled here
  * at census time (exactly what `doExecute` does lazily), counting spans
  * whose compile throws (e.g. janino's 64KB method / constant-pool
  * limits) or whose max method bytecode exceeds
  * spark.sql.codegen.hugeMethodLimit — both cases where Spark silently
  * reverts that stage to interpreted execution at runtime. A nonzero
  * value means a plan's codegen rationale is void — the r13 judge saw
  * exactly one such InternalCompilerException inside VectorSpec.
  */
object PlanCensus {

  /** Unordered floating-point aggregate sites: Sum/Average over a
    * Double/Float child in a (final/complete-mode) hash/sort aggregate.
    * These are the q_heaps_law bug class — their result depends on the
    * partial-aggregation combine order, so a rounded gated output fed by
    * one can flip with parallelism when the true value sits on a rounding
    * boundary. The repo's sanctioned alternatives (exact decimal moments,
    * census-ORDERED window folds) don't count: decimals aren't
    * double-typed and window folds live in WindowExec, not here. The
    * count per query is part of the committed fingerprint, so a NEW
    * unordered double sum anywhere in the inventory surfaces as a
    * plan_diff CHANGE line that must be classified in PLANS.md §7u's
    * double-aggregate census the round it lands.
    */
  def doubleAggs(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      Average, Complete, Final, Sum}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    def isFp(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt == DoubleType || dt == FloatType
    plan.collect { case a: BaseAggregateExec =>
      a.aggregateExpressions.count { ae =>
        (ae.mode == Final || ae.mode == Complete) &&
        (ae.aggregateFunction match {
          case s: Sum     => isFp(s.child.dataType)
          case v: Average => isFp(v.child.dataType)
          case _          => false
        })
      }
    }.sum
  }

  /** Spans of `plan` that would fall back to interpreted execution:
    * generated source fails to compile, or compiles past the huge-method
    * bytecode limit (Spark's own two fallback conditions in
    * WholeStageCodegenExec.doExecute).
    */
  def codegenFallbacks(plan: org.apache.spark.sql.execution.SparkPlan,
                       hugeMethodLimit: Int): Int =
    plan.collect { case w: WholeStageCodegenExec => w }.map { w =>
      try {
        val (_, source) = w.doCodeGen()
        val (_, stats) = org.apache.spark.sql.catalyst.expressions.codegen
          .CodeGenerator.compile(source)
        if (stats.maxMethodCodeSize > hugeMethodLimit) 1 else 0
      } catch { case _: Throwable => 1 }
    }.sum
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLAN_CENSUS.json"
    val spark = Harness.session(Harness.cores,
      "spark.sql.adaptive.enabled" -> "false")
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, fn) =>
      val cell =
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan
          val sh = Harness.shape(plan)
          val hugeLimit =
            spark.conf.get("spark.sql.codegen.hugeMethodLimit", "65535").toInt
          val fb = codegenFallbacks(plan, hugeLimit)
          val fpAggs = doubleAggs(plan)
          s"""{"scans":${sh.scans},"exchanges":${sh.exchanges},""" +
            s""""broadcasts":${sh.broadcasts},"sorts":${sh.sorts},""" +
            s""""codegen_spans":${sh.codegen},"windows":${sh.windows},""" +
            s""""codegen_fallbacks":$fb,"double_aggs":$fpAggs}"""
        } catch {
          case e: Throwable =>
            s"""{"error":"${e.getClass.getSimpleName}"}"""
        } finally Harness.release(spark)
      s"""  "$n": $cell"""
    }
    val json = "{\n" + rows.mkString(",\n") + "\n}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(s"[plan-census] ${rows.size} queries -> $out")
    spark.stop()
  }
}
