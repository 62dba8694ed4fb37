package graft

import org.apache.spark.sql.SparkSession

/** The library's front door: a SparkSession wired the way the engine
  * expects — UTC session time, AQE on, shuffle parallelism matched to
  * cores (not the 200 default), and the graft extensions (array_dot,
  * bbox_overlaps, the bbox-join optimizer rule, the filter-constant
  * binding physical rule) installed.
  *
  *   val spark = GraftSession.local(32)          // local[32]
  *   // or on a cluster:
  *   val spark = GraftSession.configure(
  *     SparkSession.builder().master(...)).getOrCreate()
  */
object GraftSession {

  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .withExtensions(new GraftExtensions)

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    // getOrCreate may have returned a pre-existing session where
    // builder extensions don't apply — runtime registration covers it
    GraftExtensions.register(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
