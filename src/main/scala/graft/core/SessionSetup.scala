package graft.core

import org.apache.spark.sql.SparkSession

/** Shared session-config arms for the harness mains (Verify / Prof /
  * Bench / ScaleDecade), so the multi-JVM and deployment knobs behave
  * identically everywhere they are exposed (r18 verdict #1/#4/#5).
  *
  * Knobs (all env-driven, all optional):
  *  - SPARK_GRAFT_MASTER: master override. `local-cluster[n,cores,MB]`
  *    runs n SEPARATE executor JVMs — the config that exposes
  *    executor-side init / broadcast / plan-literal assumptions a
  *    single-JVM `local[k]` silently satisfies. Needs SPARK_HOME +
  *    SPARK_SCALA_VERSION in the env (Spark forks real workers).
  *  - SPARK_GRAFT_EXEC_MEM: executor heap for the local-cluster arm
  *    (the bracket's third number is the WORKER budget; executors
  *    still default to 1g and OOM without this).
  *  - SPARK_GRAFT_OFFHEAP: Tungsten off-heap size (e.g. `16g`) — the
  *    documented production bracket (SCALING.md): moves execution
  *    buffers out of the GC domain.
  *  - SPARK_GRAFT_LOCAL_DIRS: shuffle/spill scratch dirs
  *    (`spark.local.dir`), e.g. a tmpfs mount — the measured −83/−91%
  *    stime lever on the mm/stream gates (SCALING.md §single-node).
  *
  * Bench treats any of these being set as a CONFIG ARM: the artifact
  * is stamped and hard-routed away from the committed record, exactly
  * like inject (floors are captured under the default config only).
  */
object SessionSetup {

  def master(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", default)

  def offHeap: Option[String] = sys.env.get("SPARK_GRAFT_OFFHEAP")
  def localDirs: Option[String] = sys.env.get("SPARK_GRAFT_LOCAL_DIRS")

  /** True when any env knob moves the session off the default config —
    * the condition under which a bench artifact must not become the
    * committed record. `masterDefault` is the caller's default master
    * so an explicit SPARK_GRAFT_MASTER equal to it still counts as
    * default (stamping is by EFFECT, not by env presence). */
  def isConfigArm(masterDefault: String): Boolean =
    master(masterDefault) != masterDefault || offHeap.isDefined || localDirs.isDefined

  /** The session Verify and Prof run on: `local[SPARK_GRAFT_CPUS]`
    * (default 4) with as many shuffle partitions, UTC, no UI, and the
    * env arms above. SPARK_GRAFT_MASTER `local-cluster[n,cores,MB]` is
    * the multi-JVM seam gate (r18 verdict #1): executor-side init,
    * broadcasts and plan literals can no longer ride on driver-JVM
    * state the way they silently do under single-JVM local[k]. */
  def harness(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val m = master(s"local[$cpus]")
    val spark = apply(SparkSession.builder().master(m)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"), m).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the benign accumulator spam would bury a real failure in 100+
    // identical stack traces
    LogHygiene.install()
    spark
  }

  /** Applies every env-driven arm to `builder` for the given master.
    * Returns the builder (fluent). */
  def apply(builder: SparkSession.Builder, m: String): SparkSession.Builder = {
    if (m.startsWith("local-cluster"))
      builder
        // executor JVMs are forked fresh — they need the graft classes
        // (sbt runs from target/classes, no jar is shipped)
        .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
        // the bracket's third number is the WORKER's memory budget (MB);
        // executor JVMs still launch at spark.executor.memory's 1g
        // default — the first 100x attempt OOM'd exactly there
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "8g"))
        // long-GC tolerance: a full-heap collection pause on a worker
        // JVM must read as "slow", not "dead"
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.rpc.askTimeout", "600s")
        .config("spark.executor.extraJavaOptions",
          "--add-opens=java.base/java.nio=ALL-UNNAMED " +
            "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED " +
            "--add-opens=java.base/java.lang=ALL-UNNAMED " +
            "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED " +
            "--add-opens=java.base/java.util=ALL-UNNAMED " +
            "--add-opens=java.base/sun.security.action=ALL-UNNAMED")
    offHeap.foreach { sz =>
      builder
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", sz)
    }
    localDirs.foreach(d => builder.config("spark.local.dir", d))
    builder
  }
}
