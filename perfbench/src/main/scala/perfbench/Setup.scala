package perfbench

import org.apache.spark.sql.SparkSession

/** Session start-up, timed three times: stop and start the session in the
  * same JVM (the first start is JVM-cold) and keep the last session for
  * the rest of the run. `setup_s` is the median start plus the warm-up
  * the workload runs on the last session.
  */
object Setup {
  def sessions(rec: Recorder, res: Json.Obj, session: () => SparkSession): SparkSession = {
    val starts = new Json.Arr
    var spark: SparkSession = null
    for (_ <- 0 until 3) {
      val t0 = rec.nowMs()
      spark = session()
      starts += (rec.nowMs() - t0) / 1e3
    }
    res("session_start_s") = starts
    spark
  }
}
