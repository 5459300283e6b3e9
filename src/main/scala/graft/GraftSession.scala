package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built: `Bench`, `Verify`,
  * `PlanAudit`, `StreamDemo` and the specs' `SparkSpec` all plan and run
  * under these settings. */
object GraftSession {
  def create(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // timestamp literals resolve in UTC, like the DuckDB oracle
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // AQE coalescing for cached plans: a guard-persisted slice
      // otherwise pins its map partitions onto every consumer stage
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // Sort-based shuffle even at low reducer counts: the bypass-merge
      // writer opens one temp file PER REDUCER per map task and then
      // concatenates them — M·R stream creations per shuffle (profiled
      // at ~60% of executor CPU on the pair-join queries). The
      // serialized sort writer emits one file per map task.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.TopK.ensure(spark)
    spark
  }
}
