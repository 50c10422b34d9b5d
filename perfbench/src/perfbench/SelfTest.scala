package perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.SparkEntry

/** Checks the benchmark's own instruments on a known shuffling query:
  * the plan counters must see q_agg_group's exchanges through AQE's
  * adaptive leaf (the plain tree walk sees none), and a traced noop-sink
  * run must attribute jobs, tasks and exchanges to the operation.
  */
object SelfTest {
  def run(spec: JsonNode, out: ObjectNode): Unit = {
    val spark = Main.session(spec)
    val data = spec.get("data_dir").asText
    val df = SparkEntry.queries("q_agg_group")(spark, data)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val shape = PlanShape.of(plan)
    val naive = PlanShape.naive(plan)
    out.put("adaptive_root", plan.isInstanceOf[AdaptiveSparkPlanExec])
    out.put("exchanges", shape.exchanges).put("codegen_stages", shape.codegenStages)
    out.put("naive_exchanges", naive.exchanges)

    val tracer = new Tracer(spark.sparkContext, listening = true)
    tracer.operation(1L, "q_agg_group", traced = true) {
      val d = tracer.span("build")(SparkEntry.queries("q_agg_group")(spark, data))
      tracer.span("noop_sink")(d.write.format("noop").mode("overwrite").save())
      tracer.span("release")(Main.release(spark, tracer))
    }
    tracer.finish(spec.get("spans").asText, out)
    spark.stop()
  }
}
