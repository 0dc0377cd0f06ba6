package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine builds a SparkSession. Every main, the test
  * session and the benchmark harness start here, so they all run the
  * same engine: `GraftExtensions` (native functions and the band-join
  * rewrite rule, registered once at session build), AQE, UTC session
  * time, nanos-as-long parquet timestamps and zstd parquet output.
  *
  *  - `builder(master, partitions)` — that shape on any master; callers
  *    add only what is specific to them (executor class path, state-store
  *    confs) before `start`.
  *  - `local(cores)` — `builder` on `local[cores]` with `cores` shuffle
  *    partitions, created.
  *  - `cli(...)` — the command-line shape: UI off, `local[cpus]` by
  *    default, and with `honourProfile` the production block when
  *    `SPARK_GRAFT_PROFILE=production`.
  *
  * The production block holds the 100 TB-shape defaults: AQE runtime
  * coalescing and skew-join splitting (instead of hand-tuned
  * parallelism), the RocksDB state store for the big streaming
  * dedup/join states (the reference's RocksDB backend is commented out
  * at e.g. DimApp.java:30-33 — here it's on), and shuffle sizing meant
  * to be overridden per cluster via --conf.
  */
object GraftSession {

  /** Cores for the command-line mains: `SPARK_GRAFT_CPUS`, else every
    * available processor. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `SPARK_GRAFT_PROFILE=production`: the mains that honour it layer
    * [[withProductionConfs]] over their session. */
  lazy val productionProfile: Boolean =
    sys.env.get("SPARK_GRAFT_PROFILE").contains("production")

  def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // TIMESTAMP(NANOS) parquet (events table) reads as long; Tables.events
      // truncates ns→µs. Set here once so table loaders stay side-effect-free
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores).getOrCreate()

  /** The command-line session shape, not yet created. With
    * `honourProfile` the production block goes on last, so its 4096
    * shuffle width overrides `partitions`. */
  def cli(master: String = s"local[$cpus]", partitions: Int = cpus,
      honourProfile: Boolean = false): SparkSession.Builder = {
    val b = builder(master, partitions).config("spark.ui.enabled", "false")
    if (honourProfile && productionProfile) withProductionConfs(b) else b
  }

  /** Creates the session at WARN log level. */
  def start(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The production conf block applied to an arbitrary builder — lets
    * the local correctness gate run under the 100 TB profile (the
    * partition-count-invariance proof: decimal sums and integer math make
    * every oracle result independent of parallelism, so 4096-partition
    * plans must hash-match the 8-partition gate bit for bit). */
  def withProductionConfs(b: SparkSession.Builder): SparkSession.Builder =
    b
      // one-partition-per-core scheduling is left to the cluster manager;
      // shuffle partitions high enough that a 100 TB shuffle stays under
      // ~256 MB per partition, then AQE coalesces small ones at runtime
      .config("spark.sql.shuffle.partitions", "4096")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .config("spark.sql.files.maxPartitionBytes", (256L << 20).toString)
}
