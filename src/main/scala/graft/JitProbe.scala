package graft

import org.apache.spark.metrics.source.CodegenMetrics
import scala.jdk.CollectionConverters._

/** Compilation-churn probe (r13 verdict ask 2): runs the named
  * catalog entries solo and attributes time inside each rep to the
  * THREE compilers in play —
  *
  *   - Janino (Spark whole-stage-codegen source -> bytecode):
  *     `CodegenMetrics.METRIC_COMPILATION_TIME` count deltas are the
  *     generated-class CACHE MISSES (the codegen cache — 5000 entries
  *     in a [[GraftSession]] — is keyed on the comment-stripped
  *     source text, so an identical per-round plan shape hits it and
  *     the count stays flat);
  *   - the JVM JIT (C1/C2 compiling Spark itself + the generated
  *     classes): CompilationMXBean total time, which can exceed wall
  *     clock (multiple compiler threads);
  *   - GC, to rule it in/out of the same window.
  *
  * One JSON line per rep + a summary line, same capture discipline
  * as [[Bench]] (burn-in rep 0 discarded, ERROR log level, untimed
  * cache eviction between reps). Usage:
  *   MAIN=graft.JitProbe tools/bench.sh q169_pagerank [more...]
  */
object JitProbe {
  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    val names =
      if (args.nonEmpty) args.toSeq else Seq("q169_pagerank")
    def jitMs(): Long = java.lang.management.ManagementFactory
      .getCompilationMXBean.getTotalCompilationTime
    def gcMs(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def janinoCount(): Long =
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def janinoMeanMs(): Double =
      CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.warmUp(spark, sfDir)
    // SPARK_GRAFT_DUMP_DIR: per-rep dump of the codegen-cache keys
    // ADDED by that rep (i.e. the sources that MISSED) — lets a
    // steady-state miss be diffed rep-to-rep instead of guessed at.
    val dumpDir = sys.env.get("SPARK_GRAFT_DUMP_DIR")
    def cacheKeys(): Seq[(Int, String)] = dumpDir match {
      case None => Nil
      case Some(_) =>
        val cg = Class.forName(
          "org.apache.spark.sql.catalyst.expressions.codegen." +
            "CodeGenerator$")
        val mod = cg.getField("MODULE$").get(null)
        val m = cg.getDeclaredMethod("cache")
        m.setAccessible(true)
        val wrapper = m.invoke(mod)
        val lc = wrapper.getClass.getMethod("loadingCache")
          .invoke(wrapper)
        val asMap = lc.getClass.getMethod("asMap")
        asMap.setAccessible(true)
        val keySet = asMap.invoke(lc)
          .asInstanceOf[java.util.concurrent.ConcurrentMap[AnyRef, AnyRef]]
          .keySet()
        keySet.asScala.toSeq.map { k =>
          val (wref, cac) = k.asInstanceOf[(AnyRef, AnyRef)]
          val referent = wref match {
            case w: java.lang.ref.WeakReference[_] => w.get()
            case other => other
          }
          val body = cac.getClass.getMethod("body").invoke(cac)
            .asInstanceOf[String]
          val tag = if (referent == null) "loader=GONE"
            else s"loader=${referent.getClass.getSimpleName}@" +
              Integer.toHexString(System.identityHashCode(referent))
          (System.identityHashCode(cac), s"// $tag\n$body")
        }
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      var seen = Set.empty[Int]
      (0 to reps).foreach { rep =>
        val before = cacheKeys().map(_._1).toSet
        val (j0, g0, c0) = (jitMs(), gcMs(), janinoCount())
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val (j1, g1, c1) = (jitMs(), gcMs(), janinoCount())
        Caches.release()
        try spark.catalog.clearCache() catch { case _: Throwable => }
        val tag = if (rep == 0) "burnin" else s"rep$rep"
        println(f"""{"query":"$name","rep":"$tag","wall_s":$wall%.3f,""" +
          f""""janino_compiles":${c1 - c0},""" +
          f""""janino_mean_ms":${janinoMeanMs()}%.1f,""" +
          f""""jvm_jit_s":${(j1 - j0) / 1e3}%.1f,""" +
          f""""gc_s":${(g1 - g0) / 1e3}%.2f}""")
        dumpDir.foreach { d =>
          val fresh = cacheKeys().filterNot(k => before(k._1))
            .filterNot(k => seen(k._1))
          seen ++= fresh.map(_._1)
          val dir = new java.io.File(s"$d/$name/$tag")
          dir.mkdirs()
          fresh.zipWithIndex.foreach { case ((_, body), i) =>
            val w = new java.io.PrintWriter(
              new java.io.File(dir, f"miss$i%03d.java"))
            try w.write(body) finally w.close()
          }
        }
      }
    }
    spark.stop()
  }
}
