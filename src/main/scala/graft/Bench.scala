package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * measures the append (ingest) path against the reference's published
  * numbers (BASELINE.md: tag_simple 1.49M rows/s/core, tag_data wide rows
  * 58k rows/s/core on the native engine).
  *
  * Methodology:
  *  - per query: two runs, report the best — steady-state latency, not
  *    first-run codegen/JIT noise (the reference's `go test -bench` runs
  *    until timings stabilize, so a cold single-shot is not comparable);
  *  - ingest: an aggregate run at full parallelism AND a separate
  *    single-partition run for the per-core figure — dividing a 32-way
  *    I/O-contended aggregate by 32 would understate per-core throughput
  *    vs the single-core Go benchmark it is compared against;
  *  - plan audit: each query's [[graft.core.PlanShape]] and their
  *    totals, so scale regressions (new shuffles) show up in the
  *    round-over-round JSON and can be traced to the query.
  */
object Bench {
  /** The canonical-record acceptance rule (BenchGateSpec pins it):
    * quiet sentinel AND same sf AND same core count AND total no slower
    * than the existing canonical's beyond 2% — the canonical is the
    * fastest clean record, not the latest — AND no failed query: a
    * failure is left out of the total, so a record with one would look
    * faster than it is. With no canonical yet, pristineness alone gates. */
  private[graft] def canonAccept(drift: Double, sfMatches: Boolean,
                                 cpusMatch: Boolean,
                                 prevTotal: Option[Double],
                                 total: Double,
                                 failed: Seq[String] = Nil): Boolean = {
    val pristine = drift <= 1.05 && drift >= 1 / 1.05
    val fasterOrClose = prevTotal.forall(p => total <= p * 1.02)
    pristine && sfMatches && cpusMatch && fasterOrClose && failed.isEmpty
  }

  /** The core count a record was measured on, from its `"cpus"` field. */
  private[graft] def recordCpus(record: String): Option[Int] =
    "\"cpus\":(\\d+)".r.findFirstMatchIn(record).map(_.group(1).toInt)

  /** Whether a record was measured at this (sf, cpus). A record without
    * a `"cpus"` field matches no run: it is never a mover baseline and
    * never replaced without GRAFT_BENCH_FORCE. */
  private[graft] def sameShape(record: String, sfDir: String, cpus: Int): Boolean =
    record.contains(s""""sf":"$sfDir"""") && recordCpus(record).contains(cpus)

  /** The compact line's `queries` object, most expensive first, sized to
    * `budget` chars: 3-decimal seconds, else 2-decimal, else the cheapest
    * queries dropped. Returns the object and the number dropped, which
    * the line carries as its own top-level `qdrop` key (BenchGateSpec). */
  private[graft] def compactQueries(byCost: Seq[(String, Double)],
                                    budget: Int): (String, Int) = {
    def line(scale: Int, entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) =>
        val s = BigDecimal(v).setScale(scale,
          BigDecimal.RoundingMode.HALF_UP).underlying.stripTrailingZeros.toPlainString
        s"\"" + k.stripPrefix("q_") + "\":" + s
      }.mkString("{", ",", "}")
    val qs3 = line(3, byCost)
    if (qs3.length <= budget) (qs3, 0)
    else {
      var keep = byCost.length
      while (keep > 1 && line(2, byCost.take(keep)).length > budget) keep -= 1
      (line(2, byCost.take(keep)), byCost.length - keep)
    }
  }

  /** The record's `"tables"` object: how many reads resolved a table
    * and how many reused the catalog's entry (full record only). */
  private[graft] def tablesJson(c: graft.core.Tables.Counts): String =
    s"""{"resolved":${c.resolved},"reused":${c.reused}}"""

  /** The record's `"codegen"` object: the classes the query sweep
    * compiled and their compile time (full record only). */
  private[graft] def codegenJson(c: graft.core.Codegen.Counts): String =
    s"""{"compiles":${c.compiles},"ms":${BigDecimal(c.ms).setScale(1, BigDecimal.RoundingMode.HALF_UP)}}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local()
    val cpus = spark.sparkContext.defaultParallelism
    graft.queries.StreamRun.retainProgress(spark)
    // JVM/session warm-up so the first measured query isn't charged for
    // codegen compiler + executor spin-up.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    graft.core.Tables.load(spark, sfDir, "lineitem").count()

    def time1(fn: => Unit): Double = {
      val t0 = System.nanoTime()
      fn
      (System.nanoTime() - t0) / 1e9
    }
    def median3(fn: => Double): Double = (1 to 3).map(_ => fn).sorted.apply(1)

    // Contention sentinel: a fixed single-core workload timed before the
    // probes and again after the sweep. If the host was contended during
    // the run, the drift ratio labels the record as contaminated — r8 put
    // a 24×-off per-core ingest number on file with no way to tell from
    // the artifact alone that it was environment, not code.
    def sentinelSec(): Double = median3(time1 {
      spark.range(100000000L).coalesce(1).selectExpr("sum(id * 3 + 1)").collect()
    })

    // ---- ingest benchmark (BASELINE append-path comparison) ----------
    // Runs FIRST, before the query sweep heats the JVM/disk (r8 verdict
    // task 1): the per-core probes are single-task and the most sensitive
    // to host contention, so they get the quietest part of the run and
    // median-of-3 (not best-of-2) for robustness to one bad run.
    def simpleRows(n: Long): DataFrame = spark.range(n).select(
      concat(lit("tag-"), pmod(col("id"), lit(500)).cast("string")).as("name"),
      (lit(1704067200000000000L) + col("id") * 1000L).as("time"),
      (pmod(col("id"), lit(100000)).cast("double") / 100d).as("value"))
    def wideRows(n: Long): DataFrame = spark.range(n).select(
      concat(lit("tag-"), pmod(col("id"), lit(500)).cast("string")).as("name"),
      (lit(1704067200000000000L) + col("id") * 1000L).as("time"),
      col("id").cast("double").as("value"),
      (col("id") % 32767).cast("short").as("short_value"),
      (col("id") % 65535).cast("int").as("ushort_value"),
      (col("id") % 2147483647L).cast("int").as("int_value"),
      col("id").as("uint_value"),
      col("id").as("long_value"),
      col("id").cast("decimal(20,0)").as("ulong_value"),
      concat(lit("str_"), col("id").cast("string")).as("str_value"),
      concat(lit("{\"k\":"), pmod(col("id"), lit(100)).cast("string"), lit("}")).as("json_value"),
      concat(lit("192.168."), pmod(col("id"), lit(255)).cast("string"), lit(".1")).as("ipv4_value"),
      lit("::1").as("ipv6_value"),
      col("id").cast("string").cast("binary").as("bin_value"))

    val scratch = Files.createTempDirectory("graft_ingest").toString
    def writeRun(df: DataFrame, sub: String): Double =
      time1(df.write.mode("overwrite").parquet(s"$scratch/$sub"))
    // warm the parquet writer path (class loading, codec init)
    writeRun(simpleRows(100000L), "warm")
    // The sentinel measures HOST contention, not JVM warmth: discard
    // one untimed run first — codegen + C2 for its generated loop land
    // there (r17 observed every fresh JVM reading before ≈ 1.5× after
    // purely from JIT, which the drift gate misread as a hot start).
    sentinelSec()
    val sentinelBefore = sentinelSec()

    // per-core: one partition end-to-end == one core doing generate+encode+write
    val nSimple1 = 4000000L
    val simple1Sec = median3(writeRun(simpleRows(nSimple1).coalesce(1), "simple1"))
    val nWide1 = 500000L
    val wide1Sec = median3(writeRun(wideRows(nWide1).coalesce(1), "wide1"))
    // aggregate throughput at full parallelism
    val nSimple = 32000000L
    val simpleSec = median3(writeRun(simpleRows(nSimple), "simple"))
    val nWide = 4000000L
    val wideSec = median3(writeRun(wideRows(nWide), "wide"))

    // JVM pressure per cohort of the sweep: the gate grew 121 → 182
    // queries sharing one JVM, and round-over-round movers were not
    // attributable to plan changes vs heap/GC/code-cache pressure
    // (VERDICT r10 task 7). Record (gc_ms, gc_count, heap_mb) deltas
    // every `cohortSize` queries into bench_full.json so a mover's
    // cohort shows whether the JVM was under pressure when it ran.
    def gcNow(): (Long, Long) = {
      import scala.jdk.CollectionConverters._
      val bs = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala
      (bs.map(_.getCollectionTime).sum, bs.map(_.getCollectionCount).sum)
    }
    def heapMb(): Long = java.lang.management.ManagementFactory
      .getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024L * 1024L)
    val cohortSize = 25
    val cohorts = scala.collection.mutable.ArrayBuffer.empty[String]
    var (cohortGcMs, cohortGcN) = gcNow()
    var sweepIdx = 0
    def cohortTick(): Unit = {
      sweepIdx += 1
      if (sweepIdx % cohortSize == 0) {
        val (ms, n) = gcNow()
        cohorts += s"""{"upto":$sweepIdx,"gc_ms":${ms - cohortGcMs},""" +
          s""""gc_n":${n - cohortGcN},"heap_mb":${heapMb()}}"""
        cohortGcMs = ms; cohortGcN = n
      }
    }

    val plans = scala.collection.mutable.LinkedHashMap[String, graft.core.PlanShape]()
    // a query that throws goes here, never into a total
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val codegen0 = graft.core.Codegen.counts
    val results = SparkEntry.queries.flatMap { case (name, fn) =>
      var lastDf: DataFrame = null
      val runs = (1 to 2).map { _ =>
        try Some(time1 {
          lastDf = fn(spark, sfDir)
          // executes THIS plan (df.count() would rewrite it into a count
          // aggregate, skipping sorts/projections and leaving AQE unset)
          lastDf.queryExecution.toRdd.count()
        }) catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: $e")
          None
        }
      }
      cohortTick()
      if (runs.contains(None)) { failed += name; None }
      else {
        plans(name) = graft.core.PlanShape.of(lastDf)
        Some(name -> runs.flatten.min)
      }
    }
    // close the final partial cohort
    if (sweepIdx % cohortSize != 0) {
      val (ms, n) = gcNow()
      cohorts += s"""{"upto":$sweepIdx,"gc_ms":${ms - cohortGcMs},""" +
        s""""gc_n":${n - cohortGcN},"heap_mb":${heapMb()}}"""
    }
    val codegen = graft.core.Codegen.counts - codegen0
    val audit = plans.values.foldLeft(graft.core.PlanShape.zero)(_ + _)
    // single-partition windows are the 100-TB anti-pattern: MUST stay 0
    if (audit.globalWindows > 0)
      System.err.println(s"[bench] WARNING: ${audit.globalWindows} global-window exchanges in plans")

    // round-over-round drift check: queries that moved >1.5× vs the
    // previous bench_full.json are flagged so environment noise is
    // distinguishable from real regressions at a glance (r4/r5 both
    // burned attention bisecting what turned out to be host noise).
    // A flagged SLOWDOWN self-heals: one more in-session run, keep the
    // min of three — BENCH_r06 went on record with 4.7× phantom
    // regressions purely from host contention during runs 1-2.
    val healed = scala.collection.mutable.Map[String, Double]()
    // retried queries go on the record: name -> (best-of-2, third run) so
    // the bench JSON itself shows which numbers were noise-suspect and
    // what the re-probe said (VERDICT r7 asked for this after adjudicating
    // five phantom regressions by hand).
    val retried = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    try {
      // mover baseline: prefer the protected canonical record over the
      // bench_full.json scratch — the driver's contended record runs and
      // dev smokes overwrite the scratch (recurring r15/r16 nuisance), so
      // movers are judged against the pristine record. Only a record of
      // the same (sf, cpus) is comparable: one at another scale or core
      // count would flag everything and trigger 90+ useless retries
      val baseline = Seq("BENCH_CANONICAL.json", "bench_full.json")
        .map(java.nio.file.Paths.get(_)).filter(Files.exists(_))
        .map(Files.readString(_)).find(sameShape(_, sfDir, cpus))
      baseline.foreach { prev =>
        val pair = "\"(q_\\w+)\":(-?\\d+(?:\\.\\d+)?(?:E-?\\d+)?)".r
        val prevQ = pair.findAllMatchIn(prev)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        for ((name, sec0) <- results; p <- prevQ.get(name)
             if p > 0.05 && sec0 > 0.05 && (sec0 / p > 1.5 || p / sec0 > 1.5)) {
          val sec = if (sec0 > p) {
            val third = try time1 {
              SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
            } catch { case NonFatal(_) => sec0 }
            val best = math.min(sec0, third)
            System.err.println(f"[bench] retry: $name 3rd run $third%.3f s (was $sec0%.3f, keeping $best%.3f)")
            retried(name) = (sec0, third)
            if (best < sec0) healed(name) = best
            best
          } else sec0
          if (sec / p > 1.5 || p / sec > 1.5)
            System.err.println(f"[bench] WARNING: $name moved ${sec / p}%.2fx vs previous run ($p%.3f -> $sec%.3f s)")
        }
      }
    } catch { case NonFatal(_) => }
    val resultsHealed = results.map { case (k, v) => k -> healed.getOrElse(k, v) }

    // post-sweep sentinel: same workload, same median-of-3 — drift >1.5×
    // means the host got (or stopped being) contended mid-run and the
    // record should be read with that label attached.
    val sentinelAfter = sentinelSec()
    val drift = sentinelAfter / sentinelBefore
    if (drift > 1.5 || drift < 1 / 1.5)
      System.err.println(f"[bench] WARNING: contention sentinel drifted $drift%.2fx ($sentinelBefore%.3f -> $sentinelAfter%.3f s) — record may be contaminated")

    // 3-decimal seconds keep the FINAL line compact: the driver keeps only
    // the last ~2000 chars of stdout, so the parseable metric line (plus
    // sbt's trailing "[success] …" line) must fit inside that tail. Full
    // precision + planAudit go to bench_full.json and an earlier line,
    // which the tail may truncate harmlessly.
    def d3(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).underlying.stripTrailingZeros.toPlainString
    // keys lose their uniform "q_" prefix in the compact line only (full
    // names stay in bench_full.json) — 70+ queries × 2 chars matters here.
    // The line must fit the ~2000-char stdout tail a record keeps, so its
    // queries object self-sizes (compactQueries; most-expensive first is
    // what regression analysis needs) and "qdrop" counts what it left out.
    val byCost = resultsHealed.toSeq.sortBy(-_._2)
    val qsFull = resultsHealed.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (resultsHealed.nonEmpty) resultsHealed.values.sum else 0.0
    val ingest =
      s"""{"tag_simple_rows_per_sec":${(nSimple / simpleSec).toLong},""" +
      s""""tag_simple_rows_per_sec_core":${(nSimple1 / simple1Sec).toLong},""" +
      s""""tag_data_rows_per_sec":${(nWide / wideSec).toLong},""" +
      s""""tag_data_rows_per_sec_core":${(nWide1 / wide1Sec).toLong}}"""
    val sentinel =
      s"""{"before":${d3(sentinelBefore)},"after":${d3(sentinelAfter)},"drift":${d3(drift)}}"""
    val plansJson = plans.map { case (k, v) => "\"" + k + "\":" + v.json }
      .mkString("{", ",", "}")
    val sfName = new java.io.File(sfDir).getName
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def retriesJson(stripPrefix: Boolean): String =
      retried.map { case (k, (b2, r3)) =>
        val key = if (stripPrefix) k.stripPrefix("q_") else k
        s"\"" + key + s"\":[${d3(b2)},${d3(r3)}]"
      }.mkString("{", ",", "}")
    // Compact-line retries are capped: a pathological round (many
    // outliers) must not starve the queries object of its tail budget.
    // The full map is always in bench_full.json.
    val retriesC = {
      val maxR = 10
      val kept = retried.take(maxR).map { case (k, (b2, r3)) =>
        "\"" + k.stripPrefix("q_") + s"\":[${d3(b2)},${d3(r3)}]"
      }.toSeq
      val dropped = retried.size - math.min(retried.size, maxR)
      val extra = if (dropped > 0) Seq(s"\"rdrop\":$dropped") else Nil
      (kept ++ extra).mkString("{", ",", "}")
    }
    // The queries budget is what ACTUALLY remains of the driver's
    // ~2000-char stdout tail after the fixed part — ingest, sentinel,
    // retries, framing, all known before printing — plus slack for sbt's
    // trailing "[success] Total time: …" line. A constant guess (1590,
    // r8/r9) overflowed once the retries map appeared and cut the line's
    // head off mid-key → "parsed": null in two straight round records.
    val fixedFrame =
      s"""{"metric":"total","value":${d3(total)},"unit":"sec","queries":,"qdrop":${byCost.length},"ingest":$ingest,"sentinel":$sentinel,"retries":$retriesC,"failed":$failedJson,"sf":"$sfName","cpus":$cpus}"""
    // 60-char slack only: showSuccess=false + raw forked output mean
    // nothing follows this line in stdout anymore (was 140 for sbt's
    // trailing "[success] Total time …" line)
    val qsBudget = math.max(250, 2000 - 60 - fixedFrame.length)
    val (qs, qdrop) = compactQueries(byCost, qsBudget)
    val jvmCohorts = cohorts.mkString("[", ",", "]")
    // fixed-vs-kernel split of the streaming rows (StreamRun records the
    // LAST run of each, i.e. the retry if one happened): lets a >1.5×
    // mover flag on a q_stream_* row be adjudicated from the record
    // alone — fixed-side moves are micro-batch scheduling noise,
    // kernel-side moves are real. Full record only; the compact stdout
    // line keeps its tail budget.
    val streamSplit = graft.queries.StreamRun.lastSplit.toSeq.sortBy(_._1)
      .map { case (k, (f, kn)) =>
        s"\"" + k + s"\":{\"fixed\":${d3(f)},\"kernel\":${d3(kn)}}"
      }.mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"ingest":$ingest,"planAudit":${audit.json},"plans":$plansJson,"retries":${retriesJson(stripPrefix = false)},"sentinel":$sentinel,"jvm":$jvmCohorts,"streamSplit":$streamSplit,"tables":${tablesJson(graft.core.Tables.counts)},"codegen":${codegenJson(codegen)},"failed":$failedJson,"sf":"$sfDir","cpus":$cpus}"""
    try Files.write(java.nio.file.Paths.get("bench_full.json"),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not write bench_full.json: $e") }
    // The PROTECTED canonical record: bench_full.json is the scratch
    // every run (driver record runs, dev smokes) overwrites; the quiet
    // pristine record lives under BENCH_CANONICAL.json, which only a
    // quiet-window run may replace — sentinel drift within 5%, the
    // same sf and core count as the existing canonical (so an sf0.01
    // dev smoke can't clobber the sf0.1 record, nor a 4-core run the
    // 32-core one), AND no slower than the existing canonical's total
    // beyond 2% (r17 verdict: a pristine-but-slower run replaced the
    // faster record through this door; the canonical is the fastest
    // clean record, not the latest). GRAFT_BENCH_FORCE=1 overrides all.
    try {
      val canonPath = java.nio.file.Paths.get("BENCH_CANONICAL.json")
      val canon = Some(canonPath).filter(Files.exists(_)).map(Files.readString(_))
      val prevTotal: Option[Double] = canon.flatMap(
        "\"value\":(\\d+(?:\\.\\d+)?)".r.findFirstMatchIn(_).map(_.group(1).toDouble))
      // a canonical that exists but yields no total would silently weaken
      // the ≤1.02× gate back to pristine-only — make that visible (ADVICE)
      if (canon.nonEmpty && prevTotal.isEmpty)
        System.err.println("[bench] WARNING: BENCH_CANONICAL.json exists but its total could not be parsed — slower-run gate degraded to pristine-only")
      val sfMatches = canon.forall(_.contains(s""""sf":"$sfDir""""))
      val cpusMatch = canon.forall(recordCpus(_).contains(cpus))
      if (canonAccept(drift, sfMatches, cpusMatch, prevTotal, total, failed.toSeq) ||
          sys.env.get("GRAFT_BENCH_FORCE").contains("1")) {
        Files.write(canonPath, (fullLine + "\n").getBytes("UTF-8"))
        System.err.println("[bench] BENCH_CANONICAL.json updated (pristine window)")
      } else
        System.err.println(f"[bench] BENCH_CANONICAL.json left untouched (drift $drift%.3f, sfMatch=$sfMatches, cpusMatch=$cpusMatch, total ${d3(total)} vs canonical ${prevTotal.fold("-")(d3)}; GRAFT_BENCH_FORCE=1 to override)")
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not update BENCH_CANONICAL.json: $e") }
    // NOT printing fullLine to stdout: a partial copy of it surviving in
    // the tail buffer could confuse a brace-matching extractor. The compact
    // line below is the single parseable line in the tail — printed as the
    // very LAST act (after spark.stop()), so no shutdown logging can land
    // after it in a merged stdout+stderr capture (r19: every BENCH_rNN
    // record through r18 has "parsed": null; with run/fork raw output and
    // showSuccess=false this line now ends the process output).
    val compactLine = s"""{"metric":"total","value":${d3(total)},"unit":"sec","queries":$qs,"qdrop":$qdrop,"ingest":$ingest,"sentinel":$sentinel,"retries":$retriesC,"failed":$failedJson,"sf":"$sfName","cpus":$cpus}"""
    graft.core.TempDirs.rmTree(scratch)
    // a failing stop must not cost the run its one parseable line
    try spark.stop()
    catch { case NonFatal(e) => System.err.println(s"[bench] spark.stop failed: $e") }
    println(compactLine)
    System.out.flush()
  }
}
