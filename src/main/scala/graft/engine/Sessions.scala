package graft.engine

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory — one place for the scale-oriented
  * session config shared by Verify, Bench, the CLI, and tests.
  */
object Sessions {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Capacity of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). One refit of
    * the IVF kNN, PQ near-dup, n-gram prefix dedup and PQ store rebuild
    * stages compiles ~165 distinct classes, so at 100 the LRU evicts
    * every class before its plan runs again and each warm run
    * recompiles them all (and restarts them cold in the JIT); 512 is
    * ~3x that working set. Worst-case heap: 512 classes x ~90 KB
    * ≈ 45 MB. A static conf: Spark reads it once per JVM, from the
    * session active when the first class is compiled, so it takes
    * effect only when graft builds the JVM's first session.
    */
  private[graft] val CodegenCacheEntries = 512

  /** Apply graft's standard config to any builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores ts as TIMESTAMP(NANOS), which Spark's
      // reader rejects by default; read as long and rebuild in Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native function registration (rolling_hash et al.)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // The status store keeps the last 1,000 SQL executions (plan
      // description and graph each), jobs, stages and tasks for a UI
      // that is off and that graft never reads; a scheduled session
      // would grow it run over run. Bounded, it costs less heap than
      // the larger codegen cache adds.
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "100")

  /** The WARN to log when `getOrCreate` handed back a session whose
    * codegen cache is smaller than graft's: a pre-existing session
    * keeps its static confs, so [[CodegenCacheEntries]] did not apply.
    * Pure so the check is spec-testable without a second session.
    */
  private[graft] def codegenCacheWarning(maxEntries: Int): Option[String] =
    if (maxEntries >= CodegenCacheEntries) None
    else Some(s"reusing a Spark session with spark.sql.codegen.cache.maxEntries=" +
      s"$maxEntries < $CodegenCacheEntries: warm runs will recompile generated " +
      "classes; set it when building the session")

  private def finish(spark: SparkSession): SparkSession = {
    spark.sparkContext.setLogLevel("WARN")
    codegenCacheWarning(spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt)
      .foreach(log.warn)
    spark
  }

  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession =
    finish(configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft"),
      shufflePartitions = cpus).getOrCreate())

  /** Master URL for a deployment: the explicit `--master` arg wins,
    * then `SPARK_GRAFT_MASTER`, then whatever `spark.master` the
    * launcher already set (spark-submit injects it as a system
    * property), and None means "no cluster configured" — the caller
    * falls back to local. Pure so the plumbing is spec-testable
    * without standing up a cluster.
    */
  private[graft] def resolveMaster(explicitMaster: Option[String],
      env: String => Option[String] = sys.env.get,
      sysProp: String => Option[String] =
        k => Option(System.getProperty(k))): Option[String] =
    explicitMaster.orElse(env("SPARK_GRAFT_MASTER")).orElse(sysProp("spark.master"))

  private val LocalN = """local\[(\d+)\]""".r

  /** Shuffle partitions for a resolved master. The explicit
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS` override wins everywhere;
    * otherwise local masters size to their own core count (the count
    * inside `local[N]` when given, the cpus arg for `local[*]`-style
    * masters) and cluster masters take Spark's 200 default — a
    * deliberate over-partitioning that AQE's partition coalescing
    * trims at runtime, instead of a hard-coded 32 that would starve a
    * 1000-executor cluster.
    */
  private[graft] def shufflePartitionsFor(master: String, cpus: Int,
      env: String => Option[String] = sys.env.get): Int =
    env("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt)
      .getOrElse(master match {
        case LocalN(n) => n.toInt
        case m if m.startsWith("local") => cpus
        case _ => 200
      })

  /** The deployment entry point's session: same graft config as
    * [[local]], master resolved by [[resolveMaster]] — so the same
    * jar runs `--master spark://…`/`k8s://…` on a real cluster and
    * falls back to `local[cpus]` for driverless runs.
    */
  def deployment(explicitMaster: Option[String] = None,
      cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession = {
    val master = resolveMaster(explicitMaster).getOrElse(s"local[$cpus]")
    finish(configure(
      SparkSession.builder().master(master).appName("graft"),
      shufflePartitions = shufflePartitionsFor(master, cpus)).getOrCreate())
  }
}
