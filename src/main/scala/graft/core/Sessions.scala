package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's canonical configuration.
  *
  * Conventions (see SURVEY.md §1.2, §4):
  *  - session timezone UTC (oracle parity),
  *  - parquet TIMESTAMP(NANOS) columns surface as epoch-ns LongType
  *    (`spark.sql.legacy.parquet.nanosAsLong`) — the engine's native time
  *    representation is epoch nanoseconds, like the reference's `datetime`
  *    (reference: machbase/neo-server `mods/server/http_write.go:56`,
  *    default `timeformat=ns`),
  *  - AQE on (runtime shuffle coalescing + skew-join handling at scale),
  *  - each generated class compiled once per JVM. Spark caches the
  *    classes Janino compiles, keyed on the thread's class loader and
  *    the source text, in an LRU of `spark.sql.codegen.cache.maxEntries`
  *    entries (default 100). A cyclic workload whose pass needs more
  *    classes than that (an analytics sweep pass needs ~160) evicts
  *    every entry before its reuse and recompiles them all on each
  *    pass, so the bound is raised to [[CodegenCacheEntries]].
  *    Artifact isolation gives every cloned session (each stream runs
  *    in one) a class loader of its own, so a stream's byte-identical
  *    classes missed the cache on every run; graft adds no session
  *    artifacts (no `addArtifact`, `newSession` or `cloneSession` of its
  *    own), so isolation is off and every session shares the JVM's
  *    loader. Literal values stay inlined into the source, so a query
  *    that differs only in a literal is a new class; the bound holds the
  *    serving mix's small literal sets after warm-up.
  */
object Sessions {
  /** Codegen cache bound: above the distinct classes of one sf0.01
    * Verify of every gate query (~2100), so the ~160 of an analytics pass
    * or the ~70 of the serving mix never evict each other; a compiled
    * class costs a few to tens of KB. Read once per JVM, when Spark's
    * code generator first loads. */
  val CodegenCacheEntries = 4096

  /** Apply graft defaults to a builder; caller picks master/parallelism. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    // machbase datetime-as-int64 SQL arithmetic (plans/MachTime.Coerce):
    // strictly additive resolution rule, the mixed forms it rewrites are
    // analysis errors without it
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    // let AQE coalesce CACHED plans too (off by default): the iterative
    // kernels (classifier GD, Platt fit, kmeans) persist a small
    // intermediate and then run many tiny stages over it — without this
    // the cache pins the static shuffle-partition count and every
    // iteration pays that many near-empty tasks. Scale-adaptive: at
    // production sizes partitions exceed the advisory size and nothing
    // coalesces (optimization guide §2.2).
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // full JVM charset set for CSV sources (EUC-JP etc., like the
    // reference's charset() option)
    .config("spark.sql.legacy.javaCharsets", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    .config("spark.sql.artifact.isolation.enabled", "false")

  /** Install graft's optimizer rules on an existing session. Safe by
    * default: rollup routing is a no-op until a rollup is registered. */
  def installRules(s: SparkSession): SparkSession = {
    val route = new graft.plans.RollupRouting.Route(s)
    if (!s.experimental.extraOptimizations.exists(_.isInstanceOf[graft.plans.RollupRouting.Route]))
      s.experimental.extraOptimizations = s.experimental.extraOptimizations :+ route
    s
  }

  /** Local session on `cores` task threads and as many shuffle
    * partitions. The mains (Bench, Verify, Profile, EntrySmoke) take
    * the default: `SPARK_GRAFT_CPUS`, else 4. */
  def local(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)): SparkSession = {
    val s = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    installRules(s)
  }
}
