package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1
  *        --root CHECKOUT --work SCRATCH_DIR --out RESULT_JSON
  *
  * Writes the result (end-to-end metrics, per-layer metrics when traced,
  * failures and details) as JSON to --out, and the spans of a traced run
  * beside it. perfbench/run.py builds, launches and reports it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val st = Settings(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", Paths.get(a("root")), Paths.get(a("work")), Paths.get(a("out")))
    val workload: (SparkSession, Settings, Trace, Option[SparkProbe], Double) => Outcome =
      st.workload match {
        case "stac_search" => StacSearch.run
        case "catalog_rw" => CatalogRw.run
        case "qid_suite" => QidSuite.run
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
    val spark =
      if (st.workload == "qid_suite") QidSuite.session(st.cores)
      else graft.GraftSession.local(st.cores)
    // set-up starts with the JVM: session start counts
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val trace = new Trace(st.trace)
    val probe = if (st.trace) Some(SparkProbe.attach(spark)) else None
    val o = workload(spark, st, trace, probe, sessionS)
    val result = Map(
      "workload" -> st.workload, "seed" -> st.seed, "seconds" -> st.seconds,
      "trace" -> st.trace, "cores" -> st.cores, "clients" -> st.clients,
      "attempted" -> o.attempted, "failed" -> o.failures.size,
      "failures" -> o.failures.take(50),
      "end_to_end" -> o.endToEnd,
      "layers" -> o.layers,
      "info" -> (o.info + ("session_s" -> sessionS)))
    Files.writeString(st.out, Json.write(result))
    if (st.trace)
      trace.write(st.out.resolveSibling(st.out.getFileName.toString
        .stripSuffix(".json") + ".spans.jsonl"))
    spark.stop()
  }
}
