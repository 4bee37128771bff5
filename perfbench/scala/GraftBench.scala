package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.Caches
import graft.encode.Encode
import graft.exprlang.Formula
import graft.frame.SeaFrame
import graft.functions.Stats
import graft.io.Sources
import graft.llmdata.{Dedup, TextAnalysis}
import graft.ml.{Diagnostics, ModSpec, Net}
import graft.ops.Graph

/** One operation's outcome: the order-free digest of its result (when the
  * reference has one), named values for the quality checks, and the
  * number of result rows.
  */
final case class Outcome(digest: Option[Seq[Long]] = None,
    values: Map[String, Double] = Map.empty, rows: Long = 0L)

/** One call into a graft layer. `run` builds AND materializes the result
  * (a lazy DataFrame costs nothing until an action runs); `check` is
  * driver-side work on the materialized result that belongs to the pass
  * but not to the layer's span.
  */
final case class Op(span: String, run: () => Outcome,
    check: Outcome => Outcome = identity)

/** A workload: inputs bound once at set-up, then a fixed call sequence
  * per pass.
  */
trait Workload {
  def ops(): Seq[Op]
  /** Each call consumes the previous call's result. */
  def chained: Boolean = false
  def afterPass(): Unit = ()
}

/** Closed-loop benchmark runner: one client, each layer call starts once
  * the previous result is materialized. Prints nothing on stdout; writes
  * its measurements as one JSON document to `--out`.
  *
  * {{{
  * GraftBench --workload <name> --data <dir> --out <file> --seconds <s>
  *   --trace <0|1> [--t0-ms <epoch ms>] [--inject <span>=throw|wrong]
  * }}}
  */
object GraftBench {

  /** Untimed passes before the first timed one, part of set-up: the
    * first pass of a fresh JVM is mostly class loading, code generation
    * and JIT compilation, and host noise on it swamps graft's own time.
    */
  val WarmPasses = 1
  /** Timed passes at least, however long `--seconds`: pass_s is their
    * median.
    */
  val MinTimedPasses = 2

  private implicit val formats: Formats = DefaultFormats
  def json(v: Any): String = Serialization.write(v.asInstanceOf[AnyRef])

  private val Hashes = Seq((2147483647L, 1000003L), (2147483629L, 999983L))

  /** count + two polynomial row hashes (see reference.py), plus optional
    * sums, in ONE aggregate: materializes `df` exactly once.
    */
  def digest(df: DataFrame, cols: Seq[String],
      sums: Seq[String] = Nil): (Seq[Long], Map[String, Double]) = {
    def h(m: Long, b: Long): Column = cols.foldLeft(lit(0L)) { (acc, c) =>
      pmod(acc * lit(b) + pmod(col(c).cast("long"), lit(m)), lit(m))
    }
    val aggs = Seq(count(lit(1)).cast("long")) ++
      Hashes.map { case (m, b) => coalesce(sum(h(m, b)), lit(0L)) } ++
      sums.map(s => sum(col(s).cast("double")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (Seq(r.getLong(0), r.getLong(1), r.getLong(2)),
      sums.zipWithIndex.map { case (s, i) => s"sum_$s" -> r.getDouble(3 + i) }
        .toMap)
  }

  def digestOutcome(df: DataFrame, cols: Seq[String]): Outcome = {
    val (d, _) = digest(df, cols)
    Outcome(Some(d), rows = d.head)
  }

  /** Rank AUC (Mann-Whitney U, ties half) of `score` against 0/1 labels. */
  def auc(score: Array[Double], label: Array[Int]): Double = {
    val idx = score.indices.sortBy(score(_)).toArray
    val ranks = new Array[Double](idx.length)
    var i = 0
    while (i < idx.length) {
      var j = i
      while (j + 1 < idx.length && score(idx(j + 1)) == score(idx(i))) j += 1
      val r = (i + j) / 2.0 + 1.0
      (i to j).foreach(k => ranks(idx(k)) = r)
      i = j + 1
    }
    val pos = label.count(_ == 1).toDouble
    val neg = label.length - pos
    val rpos = label.indices.filter(label(_) == 1).map(ranks(_)).sum
    (rpos - pos * (pos + 1) / 2.0) / (pos * neg)
  }

  def read(spark: SparkSession, data: String, name: String): DataFrame =
    Sources.parquetToPipe(spark, s"$data/$name.parquet").result

  // ---- workloads ----------------------------------------------------------

  /** Scores with the native net as an MLlib [[Transformer]] so
    * [[Diagnostics.marginal]] can re-predict over its sweep grid.
    */
  final class NetScorer(m: ModSpec.NativeModel) extends Transformer {
    override val uid: String = Identifiable.randomUID("netScorer")
    override def transform(ds: Dataset[_]): DataFrame =
      m.transform(ds.toDF())
        .withColumn("prediction", vector_to_array(col("__prediction"))(1))
        .drop("__prediction", "__predicted_class", "__features")
    override def transformSchema(s: StructType): StructType =
      s.add("prediction", DoubleType)
    override def copy(extra: ParamMap): NetScorer = new NetScorer(m)
  }

  final class SeafanPipeline(spark: SparkSession, data: String,
      work: String) extends Workload {
    private val formulas = Seq(
      "flag" -> "if(x1 > 0.5 && x2 < 0.5, 1, 0)",
      "lag4" -> "lag(x4, -1)",
      "cum4" -> "cumeBefore(x4)",
      "age" -> "dateDiff(toDate('20250101'), dt, 'day')",
      "lx3" -> "log(x3 + 0.001)",
      "x12" -> "x1 * x2")
    private val oneHot = (0 until 20).map(i => s"x4h_$i")
    private val features = Seq("x1n", "x2n", "x3n") ++ oneHot
    private val layers = ModSpec.parse(Seq(
      s"Input(${features.mkString(" + ")})",
      "FC(size:8, activation:LeakyRelu(0.1))",
      "FC(size:2, activation:SoftMax)",
      "Target(y)"))
    override def chained: Boolean = true
    private val cached = ArrayBuffer[DataFrame]()
    private def keep(df: DataFrame): DataFrame = {
      val c = df.cache(); cached += c; c
    }

    override def afterPass(): Unit = {
      cached.foreach(_.unpersist(blocking = true)); cached.clear()
    }

    def ops(): Seq[Op] = {
      var pipe: SeaFrame = null
      var sorted: SeaFrame = null
      var derived: DataFrame = null
      var encoded: DataFrame = null
      var model: ModSpec.NativeModel = null
      var scored: DataFrame = null
      val holdout = col("t") % 5 === 0
      Seq(
        Op("io.Sources.parquetToPipe", () => {
          pipe = Sources.parquetToPipe(spark, s"$data/seafan.parquet")
          digestOutcome(pipe.result, Seq("t", "x4", "y", "x3a"))
        }),
        Op("frame.SeaFrame.sort", () => {
          sorted = pipe.sort("t")
          digestOutcome(sorted.df.select(col(SeaFrame.SEQ).as("seq"),
            col("t")), Seq("seq", "t"))
        }),
        Op("exprlang.Formula.addToPipe", () => {
          derived = keep(formulas.foldLeft(sorted.df) { case (d, (n, f)) =>
            Formula.addToPipe(d, n, f, sorted.seqCol)
          })
          val (d, s) = digest(derived,
            Seq("t", "flag", "lag4", "cum4", "age"), Seq("lx3", "x12"))
          Outcome(Some(d), s, d.head)
        }),
        Op("encode.Encode.fitEncode", () => {
          val metas =
            Seq("x1", "x2", "x3").map(c => c -> Encode.fitC(derived, c))
          val cts = metas.foldLeft(derived) { case (d, (c, m)) =>
            Encode.appendC(d, c, s"${c}n", normalize = true,
              fitted = Some(m))._1
          }
          val levels = Encode.fitD(cts, "x4")
          val coded = Encode.appendD(cts, "x4", "x4c", Some(levels))._1
          encoded = keep(Encode.makeOneHot(coded, levels, "x4c", "x4h")._1)
          val r = encoded.agg(count(lit(1)),
            sum(oneHot.map(col).reduce(_ + _))).head()
          Outcome(values = metas.flatMap { case (c, m) =>
            Seq(s"$c.loc" -> m.location, s"$c.scale" -> m.scale)
          }.toMap ++ Map("x4.levels" -> levels.levels.size.toDouble,
            "rows" -> r.getLong(0).toDouble, "onehot_sum" -> r.getDouble(1)),
            rows = r.getLong(0))
        }),
        Op("ml.ModSpec.fitNative", () => {
          model = ModSpec.fitNative(layers, encoded.where(!holdout),
            classification = true, nClasses = 2, distributed = true,
            cfg = Net.Config(epochs = 8, lrStart = 3e-1, lrEnd = 3e-2))
          val finite = model.net.layers.forall(l =>
            l.w.forall(_.forall(!_.isNaN)) && l.b.forall(!_.isNaN))
          Outcome(values = Map("weights_finite" -> (if (finite) 1.0 else 0.0)))
        }),
        Op("ml.NativeModel.transform", () => {
          scored = keep(model.transform(encoded.where(holdout))
            .select(col("t"), col("y"),
              vector_to_array(col("__prediction"))(1).as("p1")))
          val rows = scored.select(col("p1"), col("y")).collect()
          Outcome(values = Map("auc" -> auc(rows.map(_.getDouble(0)),
            rows.map(_.getInt(1))), "rows" -> rows.length.toDouble),
            rows = rows.length)
        }),
        Op("functions.Stats.assess", () => {
          val r = Stats.assess(scored, col("p1"), col("y"), 0.5).head()
          Outcome(values = Map("n" -> r.getLong(0).toDouble,
            "accuracy" -> r.getDouble(3)), rows = 1)
        }),
        Op("ml.Diagnostics.marginal", () => {
          val m = Diagnostics.marginal(new NetScorer(model),
            encoded.where(holdout), features, "x1n", nSeg = 6,
            sweepPoints = 5, tiebreak = Seq(col("t"))).collect()
          val p = m.map(_.getAs[Double]("prediction"))
          Outcome(values = Map("rows" -> m.length.toDouble,
            "min_pred" -> p.min, "max_pred" -> p.max), rows = m.length)
        }),
        Op("io.Sources.pipeToParquet", () => {
          val path = s"$work/seafan_out.parquet"
          Sources.pipeToParquet(SeaFrame(derived), path)
          val o = digestOutcome(spark.read.parquet(path),
            Seq("t", "flag", "lag4", "cum4", "age"))
          o.copy(values = Map("rows" -> o.rows.toDouble))
        }))
    }
  }

  final class PairCensus(spark: SparkSession, data: String)
      extends Workload {
    private val adj = read(spark, data, "adj")
    private val docs = read(spark, data, "docs")
    private val eval = read(spark, data, "link_eval")
    private var scores: DataFrame = null

    def ops(): Seq[Op] = Seq(
      Op("ops.Graph.commonNeighbors", () =>
        digestOutcome(Graph.commonNeighbors(adj, minCommon = 2L),
          Seq("node_a", "node_b", "n_common"))),
      Op("ops.Graph.linkScores", () => {
        scores = Graph.linkScores(adj, minCommon = 2L).cache()
        digestOutcome(scores,
          Seq("node_a", "node_b", "n_common", "aa_q", "ra_q"))
      }, check = o => try {
        // planted twins vs random member pairs, scored by Adamic-Adar
        val e = eval.join(scores.select(col("node_a").as("a"),
            col("node_b").as("b"), col("aa_q")), Seq("a", "b"), "left")
          .select(coalesce(col("aa_q"), lit(0L)).cast("double"),
            col("label").cast("int")).collect()
        o.copy(values = Map("twin_auc" ->
          auc(e.map(_.getDouble(0)), e.map(_.getInt(1)))))
      } finally scores.unpersist(blocking = true)),
      Op("llmdata.TextAnalysis.winnowSimilarity", () =>
        digestOutcome(TextAnalysis.winnowSimilarity(docs, "doc_id", "text",
          k = 8, w = 8, minShared = 12L, maxDocPermille = 100),
          Seq("doc_a", "doc_b", "n_shared"))),
      Op("llmdata.Dedup.containmentJoin", () =>
        digestOutcome(Dedup.containmentJoin(docs, "doc_id", "text",
          num = 19L, den = 20L, minTokens = 8),
          Seq("id_a", "id_b", "n_inter", "n_a", "n_b"))))
  }

  // ---- runner -------------------------------------------------------------

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def session(cores: Int, local: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // graft.Bench's setting: the default 100-entry generated-class
      // cache evicts within one pass and recompiles every pass
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // pinned execution memory (~70 MB of a 1 GB heap): pair-census's
      // hub fan-out outgrows it and spills; the other workloads fit
      .config("spark.memory.fraction", "0.1")
      .config("spark.local.dir", s"$local/spark-local")
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val wl = arg(args, "--workload").get
    val data = arg(args, "--data").get
    val out = arg(args, "--out").get
    val seconds = arg(args, "--seconds").get.toDouble
    val traced = arg(args, "--trace").contains("1")
    val t0Ms = arg(args, "--t0-ms").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val inject = arg(args, "--inject").map { s =>
      val Array(span, mode) = s.split("=", 2); span -> mode
    }
    val work = new java.io.File(out).getAbsoluteFile.getParent

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val loadStart = os.getSystemLoadAverage
    val spark = session(cores, work)
    val sc = spark.sparkContext
    val w: Workload = wl match {
      case "seafan-pipeline" => new SeafanPipeline(spark, data, work)
      case "pair-census" => new PairCensus(spark, data)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    val tracer = new Tracer
    val spans = ArrayBuffer[String]()   // trace records, JSON lines
    val codegen = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    def gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
    def jitS = ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime / 1e3

    // heap occupancy as the last collection left it, summed over the heap
    // pools: a reading of the heap right after System.gc() also counts
    // whatever other threads allocated since
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(
      _.getType == java.lang.management.MemoryType.HEAP)
    def liveHeap: Long =
      heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

    /** One pass. Its clock (wall and CPU) runs only across the calls and
      * their checks; between calls it stops for a full collection, whose
      * live heap is the pass's heap reading at that call boundary (the
      * call's pinned intermediates are still held), and for
      * `Caches.release()`.
      */
    def pass(id: Int, trace: Boolean): Map[String, Any] = {
      if (trace) sc.addSparkListener(tracer)
      val cg0 = codegen.getCount
      val passStart = System.currentTimeMillis
      var wallNs = 0L
      var cpuNs = 0L
      var heapPeak = 0L
      var upstreamFailed = false
      val opRecs = w.ops().map { op =>
        val key = s"$id/${op.span}"
        val c0 = os.getProcessCpuTime
        val n0 = System.nanoTime
        val s0 = System.currentTimeMillis
        if (trace) sc.setLocalProperty(Tracer.Prop, key)
        val res: Either[String, Outcome] =
          if (upstreamFailed) Left("skipped: an earlier call failed")
          else try {
            if (inject.exists(i => i._1 == op.span && i._2 == "throw"))
              throw new IllegalStateException("injected failure")
            Right(op.run())
          } catch { case t: Throwable =>
            Left((t.getClass.getSimpleName + ": " +
              String.valueOf(t.getMessage)).take(300))
          } finally {
            if (trace) sc.setLocalProperty(Tracer.Prop, null)
          }
        val s1 = System.currentTimeMillis
        val checked = res.flatMap { o =>
          try Right(op.check(o)) catch { case t: Throwable =>
            Left("check: " + String.valueOf(t.getMessage).take(300)) }
        }.map { o =>
          if (inject.exists(i => i._1 == op.span && i._2 == "wrong"))
            o.copy(digest = o.digest.map(d => (d.head + 1) +: d.tail),
              values = o.values.map { case (k, v) => k -> (v + 1e6) })
          else o
        }
        wallNs += System.nanoTime - n0
        cpuNs += os.getProcessCpuTime - c0
        System.gc()
        heapPeak = math.max(heapPeak, liveHeap)
        Caches.release()
        if (checked.isLeft && w.chained) upstreamFailed = true
        spans += json(Map("pass" -> id, "name" -> op.span,
          "parent" -> s"pass-$id", "start_ms" -> s0, "end_ms" -> s1))
        Map[String, Any]("span" -> op.span, "start_ms" -> s0, "end_ms" -> s1,
          "error" -> checked.left.toOption.orNull,
          "digest" -> checked.toOption.flatMap(_.digest).orNull,
          "values" -> checked.toOption.map(_.values).getOrElse(Map.empty),
          "rows" -> checked.toOption.map(_.rows).getOrElse(0L))
      }
      val passEnd = System.currentTimeMillis
      val compiles = codegen.getCount - cg0
      w.afterPass()
      Caches.release()
      val pins = sc.getPersistentRDDs.size
      spans += json(Map("pass" -> id, "name" -> "pass", "parent" -> null,
        "start_ms" -> passStart, "end_ms" -> passEnd,
        "timed_ms" -> wallNs / 1000000,
        "self_ms" -> (wallNs / 1000000 - opRecs.map(r =>
          r("end_ms").asInstanceOf[Long] - r("start_ms").asInstanceOf[Long]
        ).sum)))
      val ops = if (!trace) opRecs else {
        org.apache.spark.GraftBenchAccess.drainListeners(sc)
        sc.removeSparkListener(tracer)
        opRecs.map { r =>
          val m = tracer.metrics(s"$id/${r("span")}",
            r("start_ms").asInstanceOf[Long], r("end_ms").asInstanceOf[Long],
            r("rows").asInstanceOf[Long])
          r + ("layer" -> m)
        }
      }
      Map("pass" -> id, "traced" -> trace, "wall_s" -> wallNs / 1e9,
        "cpu_s" -> cpuNs / 1e9, "heap_peak_mb" -> heapPeak / 1048576.0,
        "codegen_compiles" -> compiles, "pins_after_pass" -> pins,
        "ops" -> ops)
    }

    // warm-up passes: checked like the others, never timed
    val w0 = System.nanoTime
    val warmups = (1 to WarmPasses).map(i =>
      pass(-i, trace = false) + ("warmup" -> true))
    val warmupS = (System.nanoTime - w0) / 1e9
    val setupS = (System.currentTimeMillis - t0Ms) / 1e3
    val gc0 = gcS
    val jit0 = jitS
    val loadAtRun = os.getSystemLoadAverage
    val passes = ArrayBuffer[Map[String, Any]]()
    val m0 = System.nanoTime
    // Timed passes repeat for `seconds`, at least MinTimedPasses. A traced
    // run alternates untraced and traced passes, starting and ending
    // untraced, so each traced pass can be compared with the mean of the
    // untraced passes on either side.
    def tracedAt(i: Int): Boolean = traced && i % 2 == 1
    while (passes.size < MinTimedPasses ||
        (System.nanoTime - m0) / 1e9 < seconds ||
        (traced && (passes.size < 3 || passes.size % 2 == 0))) {
      passes += pass(passes.size, trace = tracedAt(passes.size)) +
        ("warmup" -> false)
    }
    val conditions = Map("load_start" -> loadStart,
      "load_at_run" -> loadAtRun, "load_end" -> os.getSystemLoadAverage,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "cores" -> cores, "available_processors" ->
        Runtime.getRuntime.availableProcessors,
      "gc_s" -> (gcS - gc0), "jit_s" -> (jitS - jit0),
      "warmup_s" -> warmupS,
      "measure_s" -> (System.nanoTime - m0) / 1e9,
      "spark_version" -> spark.version)
    spark.stop()
    val doc = json(Map("workload" -> wl, "setup_s" -> setupS,
      "passes" -> (warmups ++ passes), "conditions" -> conditions))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), doc)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(work,
      "trace.jsonl"), spans.mkString("", "\n", "\n"))
  }
}
