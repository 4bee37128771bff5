package graft.llmdata

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.{ArrayBuffer, HashMap}

/** The one merge learner behind [[Bpe.fit]] and [[WordPiece.fit]]:
  * both grow a vocabulary bottom-up by repeatedly merging the best
  * adjacent symbol pair of the word-type table, and differ only in the
  * [[MergeLearner.Rule]] they supply — the initial split of a word, the
  * symbol a merge writes, and how pairs are scored.
  *
  * Scale shape — the reason this is cheap at 100 TB:
  *
  *   - The corpus is scanned ONCE, into the word-type table
  *     `(token, cnt)` ([[Subword.typeTable]]). Merge learning is
  *     defined over word types weighted by frequency, so every merge
  *     round touches only the type table (|vocabulary| rows, millions
  *     at worst), never the corpus again.
  *   - Under `maxDriverTypes` types the table is collected and the
  *     rounds run in memory ([[fitDriver]]): a DataFrame round costs
  *     seconds of plan-compile + codegen regardless of data size
  *     (measured 52s for 16 merges over a 31-type corpus vs <0.1s in
  *     memory). Past the budget each round is a distributed census,
  *     an argmax and one merge UDF ([[fitDistributed]]); both venues
  *     compute the identical argmax (spec-pinned).
  *   - Every table the fit persists is released, also on a throw.
  */
private[graft] object MergeLearner {

  /** One learned merge: the pair, its weighted count and — for a rule
    * that scores units — both sides' unit counts at merge time (0
    * otherwise).
    */
  case class Merge(l: String, r: String, count: Long, cntL: Long,
      cntR: Long)

  /** What a tokenizer supplies to the learner. */
  trait Rule extends Serializable {
    /** initial symbol split of a word type */
    def split(tok: String): Array[String]
    /** the symbol a merge of adjacent (l, r) writes */
    def merged(l: String, r: String): String
    /** Whether the score reads the unit counts. Only then does the
      * census keep them; a rule that does not has a static pair order,
      * so the in-memory census keeps an ordered index whose head is
      * the argmax.
      */
    def scoresUnits: Boolean
    /** Compares the scores of pair count c1 with side unit counts
      * (l1, r1) and of c2 with (l2, r2): > 0 when the first is higher.
      * Must be exact — it decides every merge.
      */
    def compareScore(c1: Long, l1: Long, r1: Long,
        c2: Long, l2: Long, r2: Long): Int
    /** One distributed round's argmax over [[census]] of the live
      * symbol table: the best pair reaching `minPairCount`, if any.
      */
    def pick(census: DataFrame, minPairCount: Long): Option[Merge]
  }

  /** Does `a` beat `b` under the rule: higher score, ties by
    * (sym_l, sym_r) ascending — the total order every venue decides by.
    */
  private[llmdata] def beats(rule: Rule, a: Merge, b: Merge): Boolean = {
    val s = rule.compareScore(a.count, a.cntL, a.cntR,
      b.count, b.cntL, b.cntR)
    s > 0 || s == 0 && (a.l < b.l || a.l == b.l && a.r < b.r)
  }

  /** Every non-overlapping left-to-right occurrence of (l, r) in `s`
    * rewritten to `m`; `s` itself when the pair does not occur.
    */
  private def rewrite(s: Array[String], l: String, r: String,
      m: String): Array[String] = {
    var j = 0
    while (j < s.length - 1 && !(s(j) == l && s(j + 1) == r)) j += 1
    if (j >= s.length - 1) s
    else {
      val out = ArrayBuffer[String]()
      var p = 0
      while (p < s.length) {
        if (p < s.length - 1 && s(p) == l && s(p + 1) == r) {
          out += m; p += 2
        } else { out += s(p); p += 1 }
      }
      out.toArray
    }
  }

  /** Learn up to `nMerges` merges of `rule` from the corpus, stopping
    * early when no pair reaches `minPairCount`. Returns the merges in
    * learned order plus the alphabet (every symbol of the initial
    * split).
    */
  def fit(df: DataFrame, text: String, rule: Rule, nMerges: Int,
      minPairCount: Long,
      maxDriverTypes: Int): (Seq[Merge], Set[String]) = {
    val types = Subword.typeTable(df, text)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (types.count() > maxDriverTypes)
        fitDistributed(types, rule, nMerges, minPairCount)
      else {
        val collected = types.collect().map(r =>
          (r.getAs[String]("__tok"), r.getAs[Long]("__cnt")))
        types.unpersist(blocking = false)
        (fitDriver(collected, rule, nMerges, minPairCount),
          collected.iterator.flatMap(t => rule.split(t._1)).toSet)
      }
    } finally types.unpersist(blocking = false)
  }

  /** In-memory census of a collected type table: each type's symbol
    * array, the weighted pair counts, the unit counts (only when the
    * rule scores them) and the index of which types hold which pair.
    * A merge rewrites only the types it touches — retract their pair
    * and unit contributions, rewrite, resubmit — instead of
    * recounting every symbol of every type: O(affected symbols) per
    * round rather than O(total symbols). All arithmetic is exact long
    * increments of the same census, so the merges equal
    * [[fitDriverRecount]]'s bit for bit.
    */
  private final class Census(rule: Rule, types: Array[(String, Long)]) {
    private val syms = types.map(t => rule.split(t._1))
    private val cnts = types.map(_._2)
    private val withUnits = rule.scoresUnits
    private val pairs = HashMap[(String, String), Long]()
    private val units = HashMap[String, Long]()
    // which type indices (may hold duplicates and stale entries) hold
    // a pair; rewrite() leaves a type without the pair unchanged
    private val where = HashMap[(String, String), ArrayBuffer[Int]]()
    // rules with a static pair order: the census ordered best-first,
    // kept in lockstep with `pairs`
    private val ord =
      if (withUnits) null
      else new java.util.TreeSet[(Long, String, String)](
        new java.util.Comparator[(Long, String, String)] {
          def compare(a: (Long, String, String),
              b: (Long, String, String)): Int = {
            val c = rule.compareScore(b._1, 0L, 0L, a._1, 0L, 0L)
            if (c != 0) c
            else {
              val l = a._2.compareTo(b._2)
              if (l != 0) l else a._3.compareTo(b._3)
            }
          }
        })

    private def bump(k: (String, String), delta: Long, idx: Int): Unit = {
      val old = pairs.getOrElse(k, 0L)
      val nw = old + delta
      if (ord != null && old != 0L) ord.remove((old, k._1, k._2))
      if (nw == 0L) pairs.remove(k)
      else {
        pairs(k) = nw
        if (ord != null) ord.add((nw, k._1, k._2))
      }
      if (delta > 0) where.getOrElseUpdate(k, ArrayBuffer[Int]()) += idx
    }

    /** add (sign 1) or retract (sign -1) type `idx`'s contributions */
    private def submit(idx: Int, sign: Long): Unit = {
      val s = syms(idx); val c = sign * cnts(idx)
      var j = 0
      while (j < s.length) {
        if (withUnits) units(s(j)) = units.getOrElse(s(j), 0L) + c
        if (j < s.length - 1) bump((s(j), s(j + 1)), c, idx)
        j += 1
      }
    }

    (0 until syms.length).foreach(submit(_, 1L))

    /** the best pair reaching `minPairCount`, or null */
    def argmax(minPairCount: Long): Merge =
      if (ord == null) scanArgmax(rule, pairs, units, minPairCount)
      else if (ord.isEmpty || ord.first()._1 < minPairCount) null
      else {
        val h = ord.first()
        Merge(h._2, h._3, h._1, 0L, 0L)
      }

    def merge(l: String, r: String): Unit = {
      val m = rule.merged(l, r)
      val seen = new java.util.HashSet[Integer]()
      where.remove((l, r)).foreach(_.foreach { idx =>
        if (seen.add(idx)) {
          val ns = rewrite(syms(idx), l, r, m)
          if (ns ne syms(idx)) {
            submit(idx, -1L)
            syms(idx) = ns
            submit(idx, 1L)
          }
        }
      })
    }
  }

  /** Argmax by one scan of a census (units read only when the rule
    * scores them); null when no pair reaches `minPairCount`.
    */
  private def scanArgmax(rule: Rule, pairs: HashMap[(String, String), Long],
      units: HashMap[String, Long], minPairCount: Long): Merge = {
    var best: Merge = null
    pairs.foreach { case ((l, r), c) =>
      if (c >= minPairCount) {
        val cand =
          if (rule.scoresUnits) Merge(l, r, c, units(l), units(r))
          else Merge(l, r, c, 0L, 0L)
        if (best == null || beats(rule, cand, best)) best = cand
      }
    }
    best
  }

  /** The in-memory merge loop over a collected type table (bounded by
    * `maxDriverTypes`) on the incremental [[Census]].
    */
  private[graft] def fitDriver(types: Array[(String, Long)], rule: Rule,
      nMerges: Int, minPairCount: Long): Seq[Merge] = {
    val census = new Census(rule, types)
    val merges = ArrayBuffer[Merge]()
    var stop = false
    while (merges.size < nMerges && !stop) {
      val m = census.argmax(minPairCount)
      if (m == null) stop = true
      else { merges += m; census.merge(m.l, m.r) }
    }
    merges.toSeq
  }

  /** Full-recount merge loop — the definition-of-record twin of
    * [[fitDriver]]: rebuilds the pair and unit censuses every round and
    * scans them for the argmax. Kept for the equality specs; [[fit]]
    * always runs the incremental loop.
    */
  private[graft] def fitDriverRecount(types: Array[(String, Long)],
      rule: Rule, nMerges: Int, minPairCount: Long): Seq[Merge] = {
    val syms = types.map(t => rule.split(t._1))
    val merges = ArrayBuffer[Merge]()
    var stop = false
    while (merges.size < nMerges && !stop) {
      val pairs = HashMap[(String, String), Long]()
      val units = HashMap[String, Long]()
      for (i <- syms.indices) {
        val (s, c) = (syms(i), types(i)._2)
        for (j <- s.indices) {
          units(s(j)) = units.getOrElse(s(j), 0L) + c
          if (j < s.length - 1) {
            val k = (s(j), s(j + 1))
            pairs(k) = pairs.getOrElse(k, 0L) + c
          }
        }
      }
      val best = scanArgmax(rule, pairs, units, minPairCount)
      if (best == null) stop = true
      else {
        merges += best
        val m = rule.merged(best.l, best.r)
        for (i <- syms.indices) syms(i) = rewrite(syms(i), best.l, best.r, m)
      }
    }
    merges.toSeq
  }

  /** Symbol table `(__syms, __cnt)`: the rule's initial split of a type
    * table `(__tok, __cnt)`.
    */
  private[llmdata] def symbolTable(types: DataFrame, rule: Rule): DataFrame = {
    val split = udf { (t: String) =>
      scala.collection.immutable.ArraySeq.unsafeWrapArray(rule.split(t))
    }
    types.select(split(col("__tok")).as("__syms"), col("__cnt"))
  }

  /** Distributed census of a symbol table: one row per adjacent pair,
    * `(sym_l, sym_r, pair_count)` — the weighted number of adjacent
    * occurrences across all token occurrences (overlapping positions
    * count: "aaa" contributes (a, a) twice) — plus, with `units`, both
    * sides' weighted unit counts `cnt_l`, `cnt_r`.
    */
  private[llmdata] def census(st: DataFrame, units: Boolean): DataFrame = {
    val adjacent = udf { (s: Seq[String]) =>
      if (s == null || s.length < 2) Seq.empty[Seq[String]]
      else s.indices.init.map(i => Seq(s(i), s(i + 1)))
    }
    val pairs = st.select(col("__cnt"),
        explode(adjacent(col("__syms"))).as("__p"))
      .groupBy(col("__p").getItem(0).as("sym_l"),
        col("__p").getItem(1).as("sym_r"))
      .agg(sum(col("__cnt")).as("pair_count"))
    if (!units) pairs
    else {
      val u = st.select(col("__cnt"), explode(col("__syms")).as("__u"))
        .groupBy(col("__u")).agg(sum(col("__cnt")).as("__ucnt"))
      def side(s: String) = u.select(col("__u").as(s"sym_$s"),
        col("__ucnt").as(s"cnt_$s"))
      pairs.join(side("l"), Seq("sym_l")).join(side("r"), Seq("sym_r"))
        .select(col("sym_l"), col("sym_r"), col("pair_count"),
          col("cnt_l"), col("cnt_r"))
    }
  }

  /** Distributed merge rounds for type tables past the driver budget:
    * per round the rule picks the best pair from the [[census]] of the
    * live symbol table and one merge UDF rewrites it. The
    * [[Dedup.duplicateClusters]] lifecycle (persist next, materialize,
    * unpersist previous) keeps the plan flat; the live table is
    * released also on a throw.
    */
  private def fitDistributed(types: DataFrame, rule: Rule, nMerges: Int,
      minPairCount: Long): (Seq[Merge], Set[String]) = {
    var st = symbolTable(types, rule).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the alphabet's scan of every partition materializes `st`
      val alphabet = st.select(explode(col("__syms"))).distinct()
        .collect().map(_.getString(0)).toSet
      val merges = ArrayBuffer[Merge]()
      var stop = false
      while (merges.size < nMerges && !stop) {
        rule.pick(census(st, rule.scoresUnits), minPairCount) match {
          case None => stop = true
          case Some(b) =>
            merges += b
            val m = rule.merged(b.l, b.r)
            val apply = udf { (s: Seq[String]) =>
              scala.collection.immutable.ArraySeq
                .unsafeWrapArray(rewrite(s.toArray, b.l, b.r, m))
            }
            val prev = st
            st = prev.select(apply(col("__syms")).as("__syms"), col("__cnt"))
              .persist(StorageLevel.MEMORY_AND_DISK)
            // materialize before dropping the parent lineage
            try st.count() finally prev.unpersist(blocking = false)
        }
      }
      (merges.toSeq, alphabet)
    } finally st.unpersist(blocking = false)
  }
}
