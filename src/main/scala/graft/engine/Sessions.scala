package graft.engine

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory — one place for the scale-oriented
  * session config shared by Verify, Bench, the CLI, and tests.
  */
object Sessions {

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
      // keep a repeated run's generated classes resident. One run of
      // the five benchmark curation stages needs ~220 distinct classes;
      // Spark's default cache holds 100 (as 4 LRU segments of 25), so it
      // evicted each class before the next run reused it and every warm
      // run recompiled ~160 of them. 1,000 leaves headroom for uneven
      // segments and larger module sets. A static conf: CodeGenerator
      // reads it once, at the JVM's first compile, so it goes here.
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft"),
      shufflePartitions = cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

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
    val spark = configure(
      SparkSession.builder().master(master).appName("graft"),
      shufflePartitions = shufflePartitionsFor(master, cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
