package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration — the one
  * place the scale-sensitive knobs are set and documented. Library users
  * build through here; the driver mains (Verify/Bench) configure their
  * own sessions per the driver contract.
  */
object GraftSession {

  /** Local session: `cores` threads, shuffle partitions matched to cores
    * (not the 200 default, which fragments small local runs). */
  def local(cores: Int, appName: String = "graft"): SparkSession =
    configure(SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config(driverListing._1, driverListing._2), appName)
      .getOrCreate()

  /** Local and local-cluster sessions list lake files on the driver. A
    * glob over the post lake (one JSON object per post) expands to one
    * root path per file, and above Spark's threshold (32 root paths)
    * `InMemoryFileIndex` lists them in a distributed job with one task
    * per path. Those executors share the driver's filesystem, so the job
    * adds per-task overhead and no parallelism. Listing on executors pays
    * off only on a real cluster against remote storage, so `configure`
    * keeps Spark's default. */
  val driverListing: (String, String) =
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString

  /** The driver-contract session shared by the `Verify`/`Bench`/
    * `EntrySmoke` mains — ONE definition so the smoke/bench/correctness
    * paths cannot drift apart in config: `local[$SPARK_GRAFT_CPUS]`,
    * shuffle partitions matched to cores, files listed on the driver,
    * UTC, UI off, WARN logs. */
  def driverLocal(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER opts the same contract session into a real
    // multi-process master — `local-cluster[2,4,4096]` runs each executor
    // in its OWN JVM, so driver/executor state separation (broadcasts,
    // closures, memo caches, localCheckpoint blocks) is actually crossed
    // a process boundary instead of silently shared inside local[*].
    // Separate-JVM executors need the engine classes on their classpath:
    // SPARK_GRAFT_EXECUTOR_CP (e.g. target/scala-2.13/classes).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    // shuffle partitions follow the MASTER's core count, not the local[]
    // default, when an override names a parseable topology — otherwise an
    // unset SPARK_GRAFT_CPUS silently halves parallelism under
    // local-cluster (the round-14 local[4] measurement trap, again)
    val parts = (sys.env.get("SPARK_GRAFT_CPUS"), totalCores(master)) match {
      case (Some(c), _)    => c
      case (None, Some(n)) => n.toString
      case (None, None)    => cpus
    }
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", parts)
      .config(driverListing._1, driverListing._2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // each PATH-SEPARATED entry is absolutized (executors resolve relative
    // paths against their own work dir, not the driver cwd)
    sys.env.get("SPARK_GRAFT_EXECUTOR_CP").foreach(cp =>
      b.config("spark.executor.extraClassPath", absolutizeClasspath(cp)))
    sys.env.get("SPARK_GRAFT_EXECUTOR_MEM").foreach(m =>
      b.config("spark.executor.memory", m))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Absolutize every path-separated classpath entry against the driver
    * cwd. Absolutizing the STRING as one path corrupts a multi-entry
    * value (only the first element gets the prefix; executors then
    * resolve the rest against their own work dir and die with
    * ClassNotFoundException). Empty segments are dropped. */
  private[graft] def absolutizeClasspath(cp: String): String =
    cp.split(java.io.File.pathSeparator).filter(_.nonEmpty)
      .map(new java.io.File(_).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)

  /** Total executor cores implied by a master URL, when parseable:
    * `local[n]` → n, `local-cluster[w,c,m]` → w×c. `local[*]` and real
    * cluster URLs return None (the caller falls back to its default). */
  private[graft] def totalCores(master: String): Option[Int] = {
    val local = """local\[(\d+)\]""".r
    val localCluster = """local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*\d+\s*\]""".r
    master.trim match {
      case local(n)           => Some(n.toInt)
      case localCluster(w, c) => Some(w.toInt * c.toInt)
      case _                  => None
    }
  }

  /** Shared tuning, cluster or local. The settings and their 100 TB
    * rationale:
    *  - AQE on: runtime re-planning (skew-join splitting, join-strategy
    *    demotion, partition coalescing on genuinely large shuffles);
    *  - skewJoin enabled explicitly: hot-key splitting without manual
    *    salting for the common case (ScaleTechniques.saltedJoin remains
    *    for pathological keys);
    *  - 128 MB file partitions: one task per parquet row-group-ish unit,
    *    keeps scan tasks uniform;
    *  - UTC session timezone: oracle/warehouse parity;
    *  - broadcast threshold left at default 10 MB — fixed-cardinality
    *    dims are broadcast explicitly in operator code instead of
    *    raising the global knob. */
  def configure(b: SparkSession.Builder, appName: String): SparkSession.Builder =
    b.appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${128 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")

  /** Label the jobs `f` launches so the UI and job listeners can
    * attribute their cost to a phase, then restore the description the
    * calling thread had (Spark's job description is thread-local, and
    * clearing it instead would strip the caller's own label, e.g. a
    * streaming micro-batch's, from every job it launches afterwards). */
  private[graft] def labeled[T](ss: SparkSession, desc: String)(f: => T): T = {
    val sc = ss.sparkContext
    val old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(old)
  }
}
