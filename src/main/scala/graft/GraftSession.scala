package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine starts Spark. Bench, Verify, Smoke, Explain,
  * the CLI and the test suite all build their sessions here, so they
  * run under one policy — the same one perfbench measures:
  *
  *   - `local[cores]` (or `SPARK_MASTER` when set) with shuffle
  *     partitions = cores, both from one resolved core count;
  *   - a UTC session clock;
  *   - parquet nanosecond timestamps read as LONG (the events `ts`
  *     contract of `SyntheticEvents.readEventsTable`);
  *   - the engine's SQL functions and planner strategy installed by
  *     [[graft.functions.GraftExtensions]];
  *   - a warehouse under the [[Staged]] root, so catalog tables an
  *     entry writes (d50's bucketed index) never land in the working
  *     directory and go when the JVM exits;
  *   - no UI.
  *
  * Callers add only what is specific to them before `getOrCreate`. */
object GraftSession {

  /** Cores to run on: `SPARK_GRAFT_CPUS` when set, else every processor
    * the JVM sees. Rejects a value that is not a positive integer here,
    * not as a `local[0]` / `local[abc]` master deep inside Spark. */
  def cores(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS") match {
      case None => Runtime.getRuntime.availableProcessors
      case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  /** The session policy, resolved from `env`, as an unstarted builder. */
  def builder(env: Map[String, String] = sys.env): SparkSession.Builder = {
    val n = cores(env)
    SparkSession.builder()
      .master(env.getOrElse("SPARK_MASTER", s"local[$n]"))
      .appName("rime-graft")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", Staged.scratch("warehouse"))
      .config("spark.ui.enabled", "false")
  }

  /** An entry point's session: [[builder]] from the process env,
    * started, logging at WARN. */
  def start(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
