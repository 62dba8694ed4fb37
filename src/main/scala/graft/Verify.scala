package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump only those
    // (builder-side targeted runs, e.g. new queries at big SF; the
    // driver always passes two args and gets the full surface)
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, c) => (a, b, Some(c.split(",").toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // The driver's hash-compare sorts result rows with pandas, which dies
    // on ARRAY/MAP/STRUCT-typed columns (TypeError: unhashable type) and
    // marks the query red even when values match. Declared outputs must be
    // scalar-only — serialize containers with to_json before declaring.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    var containerViolations = List.empty[String]
    var zeroRow = List.empty[String]
    var failures = List.empty[(String, String)]
    val declared = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    declared.foreach { case (name, fn) =>
      try {
        // Label the qid in the scheduler and on stderr so log warnings
        // (e.g. WindowExec single-partition) are attributable per query.
        spark.sparkContext.setJobDescription(name)
        System.err.println(s"[verify] running $name")
        val df = fn(spark, sfDir)
        val bad = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] => f.name
        }
        if (bad.nonEmpty)
          containerViolations ::= s"$name: container-typed output columns ${bad.mkString(", ")}"
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // r15 judge finding: two qids hash-matched on EMPTY results
        // (vacuous green — an implementation returning empty for any
        // input would also pass). Count the WRITTEN parquet (footer
        // metadata read, no recompute) and warn loudly so a 0-row
        // declared result can never again hide as a pass.
        if (spark.read.parquet(s"$outDir/$name").count() == 0L)
          zeroRow ::= name
      } catch { case e: Throwable =>
        failures ::= (name -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      }
    }
    // Loud warning only — a hard exit here would zero a whole driver round
    // for one bad query; harness/check.py is the hard local gate.
    containerViolations.foreach(v => System.err.println(s"[verify] CONTAINER-OUTPUT $v"))
    if (zeroRow.nonEmpty)
      println(s"[verify] ZERO-ROW-RESULT (vacuous-green hazard): " +
        zeroRow.sorted.mkString(","))
    // Round-8 lesson: a throwing query used to simply vanish from the
    // driver's CORRECTNESS keys (21 queries absent for two rounds with no
    // red signal). Surface the gap on stdout AND as a machine-readable
    // artifact next to the dumps so absence can never be silent again.
    val written = declared.size - failures.size
    println(s"[verify] declared=${declared.size} written=$written failed=${failures.size}" +
      (if (failures.nonEmpty) s" failed_queries=${failures.map(_._1).sorted.mkString(",")}" else ""))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
  }
}
