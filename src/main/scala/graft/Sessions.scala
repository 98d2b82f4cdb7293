package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: Bench, Verify, PlanDump, ScaleFixture and
  * the test suites all build their session here, so the conf set the
  * queries' semantics rest on cannot diverge between them. A caller picks
  * only the master and the shuffle partitions.
  *
  * Deployment settings (environment):
  *  - `SPARK_GRAFT_CPUS`: local core count, also the default shuffle
  *    partitions (32 when unset);
  *  - `SPARK_GRAFT_MASTER`: master override for multi-executor evidence
  *    runs, e.g. `local-cluster[4,8,8192]` (4 executor JVMs × 8 cores):
  *    real serialized exchanges, broadcast transport, per-executor memory.
  *    Launch via spark-submit with the packaged jar so executor JVMs get
  *    the app classes (`scripts/local_cluster_bench.sh`). Default
  *    `local[SPARK_GRAFT_CPUS]`;
  *  - `SPARK_GRAFT_EXECUTOR_MEM`: `spark.executor.memory` for such a
  *    master.
  */
object Sessions {

  private def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  private def defaultMaster: String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  def build(master: String = defaultMaster,
      partitions: Int = cpus): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // NOTE: size-based AQE coalescing (parallelismFirst=false) was
      // measured on the bench and REGRESSED the suite 57 s → 67 s: at
      // local[32] the CPU-bound stages (shingles, windows) want all cores,
      // and the scheduling overhead it saves is smaller than the
      // parallelism it gives up. Keep the default.
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS); read as long, converted
      // to TimestampType in graft.Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reference semantics are coercing (bad cast → null, wrapping int
      // arithmetic for hash sketches), i.e. pre-ANSI Spark behavior
      .config("spark.sql.ansi.enabled", "false")
    val spark = sys.env.get("SPARK_GRAFT_EXECUTOR_MEM")
      .fold(builder)(m => builder.config("spark.executor.memory", m))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
