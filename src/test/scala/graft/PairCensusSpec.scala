package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops.PairCensus

/** The pair-census kernel against a brute-force Scala pair count over
  * a seeded random (key, member) input with one super-hub key.
  */
class PairCensusSpec extends SparkSuite {
  private val hub = 999L
  private val rows: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(20261017L)
    val small = (0L until 40L).flatMap { k =>
      Seq.fill(2 + rnd.nextInt(11))(rnd.nextInt(200).toLong).distinct
        .map(m => (k, m))
    }
    small ++ rnd.shuffle((0L until 200L).toList).take(150).map((hub, _))
  }
  private def wLin(d: Long): Long = d * 10 + 1
  private def wInv(d: Long): Long = 1000000L / d
  private val weights: Seq[(String, Column => Column)] = Seq(
    "w_lin" -> ((d: Column) => d * 10 + 1),
    "w_inv" -> ((d: Column) => call_function("div", lit(1000000L), d)))

  /** (a, b) -> (n, Σ w_lin, Σ w_inv) */
  private type Pairs = Map[(Long, Long), (Long, Long, Long)]

  /** brute-force pair count over the keys whose degree `keep` admits */
  private def brute(keep: Long => Boolean): Pairs = {
    val byKey = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
      .filter { case (_, ms) => keep(ms.size.toLong) }
    val pairs = for {
      (_, ms) <- byKey.toSeq
      d = ms.size.toLong
      i <- ms.indices; j <- (i + 1) until ms.size
    } yield (ms(i), ms(j)) -> (1L, wLin(d), wInv(d))
    pairs.groupMapReduce(_._1)(_._2) { case (x, y) =>
      (x._1 + y._1, x._2 + y._2, x._3 + y._3) }
  }

  private def km = {
    import spark.implicits._
    rows.toDF("key", "member")
  }

  private def run(minShared: Long, cap: Int = 0, policy: String = "refuse",
      keep: Option[Column => Column] = None): Pairs = {
    val got = PairCensus("spec", km, minShared, cap, policy, "remedy",
        keep, weights).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    graft.Caches.release()
    got
  }

  test("pair census: counts and weight sums equal the brute-force " +
      "pair count, and minShared filters on n") {
    val exact = brute(_ => true)
    assert(exact.size > 10000) // the hub's wedges are in it
    assert(run(1L) == exact)
    assert(run(3L) == exact.filter(_._2._1 >= 3L))
  }

  test("pair census: a key filter on degree (and the drop policy) " +
      "gives the brute-force answer over only the kept keys") {
    val kept = brute(_ <= 12L)
    assert(kept.nonEmpty && kept.size < brute(_ => true).size)
    assert(run(1L, keep = Some(d => d <= 12)) == kept)
    assert(run(1L, cap = 12, policy = "drop") == kept)
  }

  test("pair census: sample keeps the subset relation — no pair " +
      "added, every n <= exact") {
    val exact = brute(_ => true)
    val sampled = run(1L, cap = 5, policy = "sample")
    assert(sampled.nonEmpty)
    assert(sampled.forall { case (p, (n, _, _)) =>
      exact.get(p).exists(_._1 >= n) }, "a sampled pair broke the subset")
  }

  test("pair census: struct members with a pair predicate give the " +
      "brute-force pairs that pass it") {
    import spark.implicits._
    // the member carries a payload w = id mod 7; the predicate orders
    // by id and keeps pairs of equal payload parity
    def keepPair(a: Long, b: Long): Boolean = (a % 7 + b % 7) % 2 == 0
    val want = brute(_ => true).collect {
      case ((a, b), (n, _, _)) if keepPair(a, b) => (a, b) -> n }
    val km = rows.toDF("key", "id").select(col("key"),
      struct(col("id"), (col("id") % 7).as("w")).as("member"))
    val got = PairCensus("spec", km, 1L, remedy = "remedy",
        pair = (a, b) => a("id") < b("id") &&
          (a("w") + b("w")) % 2 === 0)
      .select(col("a.id"), col("b.id"), col("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(want.nonEmpty && want.size < brute(_ => true).size)
    assert(got == want)
  }

  test("pair census: refuse throws at the call, before any pair " +
      "stage, naming the site and the remedy; kept keys pass") {
    val ex = intercept[IllegalArgumentException] {
      PairCensus("spec", km, 1L, cap = 100, remedy = "prune the hub")
    }
    graft.Caches.release()
    assert(ex.getMessage.contains("spec: a key is shared by 150 " +
      "members (> 100)"), ex.getMessage)
    assert(ex.getMessage.contains("prune the hub"))
    // the guard reads the kept census: stripping the hub passes it
    assert(run(1L, cap = 100, keep = Some(d => d <= 12)) ==
      brute(_ <= 12L))
  }
}
