package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing session facade: registers the warehouse tables as temp
  * views and the engine's native functions on a session, so the full
  * surface is reachable from SQL as well as the DataFrame API:
  *
  * {{{
  * graft.Engine.attach(spark, "/data/sf0.01")
  * spark.sql("SELECT sanitize_name(p_type), count(*) FROM part GROUP BY 1")
  * }}}
  *
  * Views are lazy relations over the parquet locations — attaching runs
  * no job; Catalyst sees straight through a view to the scan, so pushdown
  * and pruning behave exactly as with direct reads.
  */
object Engine {

  private val AttachedDirKey = "graft.engine.attachedDir"

  /** Register every test-data table as a temp view + the native function
    * set ([[graft.functions.GraftFunctions]]). Idempotent-cheap: a repeat
    * attach for the same dir on the same session is a single conf lookup
    * (the marker rides in session conf, so each `newSession()` — with its
    * own view registry AND own conf — re-attaches correctly).
    *
    * The marker tracks (session, dir), NOT view health: a caller that
    * drops or replaces one of the ten views afterwards keeps that change
    * until [[reattach]] — which restores the canonical views
    * unconditionally — is called or the dir changes. */
  def attach(spark: SparkSession, dir: String): Unit = {
    if (spark.conf.getOption(AttachedDirKey).contains(dir)) return
    reattach(spark, dir)
  }

  /** Unconditional (re-)registration — restores all canonical views even
    * when the idempotence marker says the session is already attached. */
  def reattach(spark: SparkSession, dir: String): Unit = {
    Tables.ensureNanosConf(spark)
    Tables.all.foreach { name =>
      Tables.t(spark, dir, name).createOrReplaceTempView(name)
    }
    functions.GraftFunctions.register(spark)
    spark.conf.set(AttachedDirKey, dir)
  }

  /** Convenience: attach + run one SQL statement. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    attach(spark, dir)
    spark.sql(query)
  }

  /** Cores for a `SPARK_GRAFT_CPUS` setting: its value, else every
    * processor the JVM sees. */
  private[graft] def coresFrom(setting: Option[String]): Int =
    setting.fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  /** The one session factory of the engine's mains (Bench, Verify,
    * Profile, IndexBuild, ScaleUp, FmpCli): `local[cores]` unless
    * `master` names another deployment, one shuffle partition per core,
    * UTC session time, events' TIMESTAMP(NANOS) read as longs, no UI.
    * Like any `getOrCreate`, it returns a session already active in the
    * JVM, with these SQL settings applied to it. */
  def session(appName: String, master: Option[String] = None): SparkSession = {
    val cores = coresFrom(sys.env.get("SPARK_GRAFT_CPUS"))
    SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
