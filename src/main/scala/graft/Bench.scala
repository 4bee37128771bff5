package graft
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Headline benchmark: runs every catalog query at
  * `SPARK_GRAFT_SF_DIR` (default sf0.1), median-of-N per query, and
  * prints ONE JSON line. Run conditions are MEASURED AND EMBEDDED in
  * the artifact (ambient load, GC/JIT time, heap, waits) so a
  * contaminated capture is visible in the JSON instead of silently
  * poisoning round-over-round comparisons — the r4 artifact recorded
  * unchanged queries 3-7x slower under ambient VM load and nothing in
  * the file said so.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val mgmt = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def load(): Double = mgmt.getSystemLoadAverage
    def gcSec(): Double = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    def jitSec(): Double = java.lang.management.ManagementFactory
      .getCompilationMXBean.getTotalCompilationTime / 1e3
    // idle gate: a busy machine (another JVM, the driver's own jobs)
    // inflates every query uniformly. Wait (bounded) for ambient load
    // to drop below the threshold before timing; record both the
    // initial load and the load at run start so the artifact shows
    // whether the gate was met or the wait expired.
    val loadInitial = load()
    // STARTUP disqualification warning (r10 verdict ask 7): the heap
    // geometry is known the moment the JVM starts — surface an
    // oversized heap on stderr HERE, so the driver's log shows the
    // capture was compromised at capture time, not only inside the
    // JSON artifact after the fact. (The same check re-runs at the
    // end and embeds conditions_ok in the artifact.)
    locally {
      val heapGbStart = Runtime.getRuntime.maxMemory / (1 << 30)
      val warnGb =
        sys.env.getOrElse("SPARK_GRAFT_HEAP_WARN_GB", "32").toLong
      if (heapGbStart > warnGb)
        System.err.println(s"[bench] CONDITIONS NOT OK AT STARTUP: " +
          s"heap ${heapGbStart}g exceeds ${warnGb}g warn threshold " +
          "- GC geometry incomparable to pinned 16g runs " +
          "(tools/bench.sh pins -Xmx16g; this capture will be " +
          "flagged conditions_ok:false)")
    }
    val idleThr = sys.env.getOrElse("SPARK_GRAFT_IDLE_LOAD", "4.0").toDouble
    val idleWaitMax = sys.env.getOrElse("SPARK_GRAFT_IDLE_WAIT", "120").toInt
    var waited = 0
    while (load() > idleThr && waited < idleWaitMax) {
      System.err.println(f"[bench] ambient load ${load()}%.1f > $idleThr%.1f" +
        s" — waiting (${waited}s/${idleWaitMax}s)")
      Thread.sleep(5000); waited += 5
    }
    val loadAtRun = load()
    val spark = GraftSession.local(cpus)
    // ERROR, not WARN: benign WARN spam (BlockManager "already
    // exists" across cached reps, shutdown chatter) lands in the
    // driver's bounded stdout/stderr tail and can push the one JSON
    // line out of its capture window — the round-6 artifact of record
    // was lost exactly this way ("parsed": null, tail full of WARNs)
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.warmUp(spark, sfDir)
    // Per-query time varies ±30% between identical runs in one JVM
    // (GC + JIT churn); report the median of N runs so only structural
    // deltas move the number. Five reps, not three: with a 113-query
    // catalog the per-query codegen warmup bleeds through the first
    // TWO reps (rep_times in the artifact show it), and a median of 3
    // lands on a warming rep.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    // optional args = subset of query names (iteration aid; the
    // harness passes none)
    val only = args.toSet
    val catalog = if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    val gc0 = gcSec(); val jit0 = jitSec()
    val outcomes = catalog.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> timeReps(spark, sfDir, fn, reps) }
    // a query that throws is FAILED: listed by name, never timed, and
    // kept out of the totals
    val failed = outcomes.collect { case (n, Left(e)) =>
      System.err.println(s"[bench] $n FAILED: $e"); n }
    val allReps = outcomes.collect { case (n, Right(ts)) => n -> ts }
    val results = allReps.map { case (n, ts) =>
      n -> ts.sorted.apply(ts.length / 2) }
    val gcRun = gcSec() - gc0; val jitRun = jitSec() - jit0
    val loadEnd = load()
    def f3(v: Double): String = f"$v%.3f"
    // run-condition record: ambient load at JVM start / after the idle
    // gate / at end, seconds waited for idleness, GC and JIT seconds
    // spent during the TIMED section, and the pinned memory geometry —
    // enough to tell a contaminated capture from a structural change
    val heapGb = Runtime.getRuntime.maxMemory / (1 << 30)
    // SELF-DISQUALIFYING capture: five rounds of artifacts have been
    // contaminated the same two ways — an oversized heap (measured 2x
    // degradation at 90g vs the 16g tools/bench.sh pins; GC geometry,
    // not data, is what changes) and ambient load hovering just under
    // the idle gate. Make the artifact carry its own verdict so a bad
    // capture can never again masquerade as a code regression.
    val heapWarnGb =
      sys.env.getOrElse("SPARK_GRAFT_HEAP_WARN_GB", "32").toLong
    val warns = scala.collection.mutable.ArrayBuffer.empty[String]
    if (heapGb > heapWarnGb)
      warns += s"heap ${heapGb}g exceeds ${heapWarnGb}g warn " +
        "threshold - GC geometry incomparable to pinned 16g runs"
    if (loadAtRun > idleThr * 0.9)
      warns += f"load_at_run $loadAtRun%.2f within 10%% of idle " +
        f"threshold $idleThr%.1f - ambient contention likely"
    val condOk = warns.isEmpty
    val warnJson = jsonArray(warns.toSeq)
    val cond = s"""{"load_initial":${f3(loadInitial)},""" +
      s""""load_at_run":${f3(loadAtRun)},"load_end":${f3(loadEnd)},""" +
      s""""idle_wait_sec":$waited,"idle_thr":$idleThr,""" +
      s""""gc_sec":${f3(gcRun)},"jit_sec":${f3(jitRun)},""" +
      s""""heap_gb":$heapGb,"cpus":$cpus,"burn_in":true,""" +
      s""""conditions_ok":$condOk,"condition_warnings":$warnJson}"""
    if (!condOk) warns.foreach(w =>
      System.err.println(s"[bench] CONDITIONS NOT OK: $w"))
    // The driver captures only the last ~2000 chars of stdout. At 113
    // queries the single contract line ("~1.2 KB, fits") fit that
    // window; at 395 queries it is ~4.5 KB and the tail truncates its
    // FRONT, so the driver's json.loads failed for two rounds
    // (PERF_r14/r15: parsed null, n_common 0). Fix (r15 verdict item
    // 1): keep the full contract line for whole-stdout consumers, but
    // follow it with complete <=700-char part lines carrying the same
    // per-query map (slowest queries in the LAST parts, nearest the
    // tail window), and end stdout with a compact <=1 KB line — total,
    // reps, conditions, sf, pointer to BENCH_FULL.json — so whatever
    // window the driver keeps always ends in one complete parseable
    // JSON object. Full-name full-precision per-query + per-rep data
    // still lands in BENCH_FULL.json.
    val qs = results.map { case (k, v) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val repsFull = allReps.map { case (k, ts) =>
        "\"" + k + "\":[" + ts.map(f3).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = jsonArray(failed)
    val sfJson = QH.jsonString(sfDir)
    val line =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","reps":$reps,"conditions":$cond,"queries":$qs,"failed":$failedJson,"sf":$sfJson}"""
    // subset runs (iteration aid) must not clobber the full-catalog
    // artifact the driver ingests
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isEmpty) "/root/repo/BENCH_FULL.json"
      else "/tmp/bench_subset.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"conditions":$cond,"queries":$qsFull,"rep_times":$repsFull,"failed":$failedJson,"sf":$sfJson}""" + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: $e") }
    // stop BEFORE printing: Spark shutdown logs after a println would
    // trail the JSON line in the driver's tail capture
    try spark.stop() catch { case _: Throwable => }
    println(line)
    // per-query part lines: ascending by time so the slowest (most
    // informative) queries sit in the last parts, inside the tail
    // window. Every line is a complete standalone JSON object.
    val partEntries = results.sortBy(_._2).map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + f3(v) }
    val parts = scala.collection.mutable.ArrayBuffer.empty[List[String]]
    var cur = List.empty[String]; var curLen = 0
    partEntries.foreach { e =>
      if (curLen + e.length + 1 > 640 && cur.nonEmpty) {
        parts += cur.reverse; cur = Nil; curLen = 0
      }
      cur = e :: cur; curLen += e.length + 1
    }
    if (cur.nonEmpty) parts += cur.reverse
    parts.zipWithIndex.foreach { case (p, i) =>
      println(s"""{"bench_part":${i + 1},"of":${parts.size},""" +
        s""""queries":${p.mkString("{", ",", "}")}}""")
    }
    // compact FINAL line: everything except the per-query map (which
    // cannot fit — 395 entries is ~4.5 KB against a 2000-char window).
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
      s""""reps":$reps,"n_queries":${results.size},"failed":$failedJson,""" +
      s""""conditions":$cond,"per_query_parts":${parts.size},""" +
      s""""per_query_file":${QH.jsonString(outFile)},"sf":$sfJson}""")
  }

  /** A JSON array of escaped strings (run-condition warnings, failed
    * query names).
    */
  def jsonArray(xs: Seq[String]): String =
    xs.map(QH.jsonString).mkString("[", ",", "]")

  /** One run of a catalog query: Right(seconds), or Left(the error)
    * when it throws — a query that fails is reported as failed, never
    * timed as a (fast) success. Pins and cached frames are released
    * either way, untimed: queries that persist intermediates would
    * otherwise accumulate cache across the catalog × reps and inflate
    * later entries with GC pressure, and each rep recomputes from
    * parquet anyway.
    */
  def time(spark: SparkSession, sfDir: String, fn: QH.QFn)
      : Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    val r = try Right(fn(spark, sfDir).count())
      catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    Caches.release()
    try spark.catalog.clearCache() catch { case _: Throwable => }
    r.map(_ => dt)
  }

  /** An untimed burn-in run, then `reps` timed runs of one query; the
    * first failure ends it (Left). Heavyweight-codegen queries' first
    * rep is dominated by compile/JIT warm-up (r5 artifact: q110 reps
    * declined 7.4s -> 1.3s), so a median over reps that INCLUDE rep 1
    * would still sit on warm-up.
    */
  def timeReps(spark: SparkSession, sfDir: String, fn: QH.QFn,
      reps: Int): Either[Throwable, Seq[Double]] =
    (0 to reps).foldLeft[Either[Throwable, Seq[Double]]](Right(Nil)) {
      (acc, _) => acc.flatMap(ts => time(spark, sfDir, fn).map(ts :+ _))
    }.map(_.tail)
}
