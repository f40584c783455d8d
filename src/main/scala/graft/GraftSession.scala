package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: shuffle parallelism = cores (not the 200
  * default), AQE on, UTC, and — when available — a tmpfs scratch dir for
  * shuffle spills (local-mode shuffle writes otherwise bottleneck on the
  * system disk and flatten thread scaling; on a real cluster this maps to
  * NVMe-backed `spark.local.dir`). */
object GraftSession {

  def localDir: Option[String] = {
    val fromEnv = sys.env.get("SPARK_GRAFT_LOCAL_DIR")
    val shm = java.nio.file.Paths.get("/dev/shm")
    fromEnv.orElse {
      if (java.nio.file.Files.isWritable(shm)) Some("/dev/shm/spark-graft") else None
    }
  }

  /** Multi-executor local cluster (`local-cluster[n,cores,mem]`): real
    * separate executor JVMs with their own heaps, talking to the driver
    * over the standalone protocol — the honest sandbox analog of "N
    * executors" for scaling-efficiency measurement (vs `local[n]`, where
    * all "executors" share one JVM, one GC and one JIT). Requires
    * SPARK_HOME + SPARK_SCALA_VERSION in the environment (set by
    * build.sbt) so workers can spawn executor processes. */
  def buildCluster(
      executors: Int,
      coresPerExec: Int,
      memMbPerExec: Int,
      appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local-cluster[$executors,$coresPerExec,$memMbPerExec]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", (executors * coresPerExec).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // see build(): bound per-action plan-string serialization
      .config("spark.sql.maxPlanStringLength", "4096")
      .config("spark.executor.memory", s"${memMbPerExec}m")
      // ship this build's classes to executor JVMs
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      // each executor JVM must size GC/JIT pools for ITS cores, not the
      // host's: N co-located JVMs each spawning host-width service threads
      // oversubscribe the machine (the same discipline container runtimes
      // apply on real clusters)
      .config("spark.executor.extraJavaOptions",
        s"-XX:ActiveProcessorCount=${coresPerExec + 1} -XX:CICompilerCount=2")
    localDir.foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      b.config("spark.local.dir", d)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** True when the environment can spawn executor JVMs (see buildCluster). */
  def clusterCapable: Boolean =
    sys.env.contains("SPARK_HOME") && sys.env.contains("SPARK_SCALA_VERSION")

  def build(cpus: Int, appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Every DF action serializes its FULL plan to a string for the SQL
      // listener event (and AQE re-sends it per materialized stage) even
      // with the UI off — thread dumps during the dedup pipeline showed
      // the driver main thread inside QueryExecution.explainString
      // growing megabyte ArrayLists, ~2.5 s of a 2.9 s warm run. Bound
      // it; tools that need full explain output (PlanDump) raise the
      // session value before dumping.
      .config("spark.sql.maxPlanStringLength", "4096")
    localDir.foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      b.config("spark.local.dir", d)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
