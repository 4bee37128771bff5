package graft

import graft.ml.{ModSpec, Net}
import org.apache.spark.sql.functions._

/** Native NN parity trainer (reference nn.go semantics): activations,
  * K-1-logit softmax, dropout, early stop, distributed scoring.
  */
class NetSpec extends SparkSuite {

  test("regression: a single linear unit recovers y = 2x + 1") {
    val x = Array.tabulate(64)(i => Array(i / 32.0 - 1.0))
    val y = x.map(v => 2.0 * v(0) + 1.0)
    val m = Net.fitLocal(x, y, Seq(Net.LayerSpec(1, Net.Linear)),
      nClasses = 0,
      Net.Config(batchSize = 16, epochs = 400, lrStart = 5e-2,
        lrEnd = 1e-2))
    assert(math.abs(m.layers(0).w(0)(0) - 2.0) < 0.05)
    assert(math.abs(m.layers(0).b(0) - 1.0) < 0.05)
    assert(m.trainCost.last < 0.02) // RMS
  }

  test("XOR needs working hidden-layer gradients (relu)") {
    val x = Array(Array(0.0, 0.0), Array(0.0, 1.0),
      Array(1.0, 0.0), Array(1.0, 1.0))
    val y = Array(0.0, 1.0, 1.0, 0.0)
    val m = Net.fitLocal(x, y,
      Seq(Net.LayerSpec(8, Net.Relu),
        Net.LayerSpec(2, Net.SoftMax)),
      nClasses = 2,
      Net.Config(batchSize = 4, epochs = 800, lrStart = 5e-2,
        lrEnd = 1e-2, shuffleEachEpoch = false))
    val preds = x.map(v => m.predictOne(v))
    preds.zip(y).foreach { case (p, yi) =>
      assert(math.abs(p.sum - 1.0) < 1e-9) // K probs from K-1 logits
      assert(p.indexOf(p.max) == yi.toInt,
        s"XOR misclassified: ${p.toSeq} expected $yi")
    }
  }

  test("leakyRelu(α) slope: negative inputs leak, α=0 is relu") {
    // one unit, identity weights: activation output directly visible
    val spec = Net.LayerSpec(1, Net.LeakyRelu(0.1), bias = false)
    val l = Net.Dense(Array(Array(1.0)), Array(0.0), spec)
    val m = Net.NetModel(IndexedSeq(l), 0, Array.empty, Array.empty)
    assert(m.predictOne(Array(-2.0))(0) == -0.2)
    assert(m.predictOne(Array(3.0))(0) == 3.0)
    val relu = Net.NetModel(IndexedSeq(
      l.copy(spec = spec.copy(act = Net.Relu))), 0,
      Array.empty, Array.empty)
    assert(relu.predictOne(Array(-2.0))(0) == 0.0)
  }

  test("3-class softmax head: probabilities sum to 1, separable data " +
      "classified") {
    val rnd = new scala.util.Random(7)
    val x = Array.tabulate(300)(i => Array((i % 3) * 2.0 +
      rnd.nextGaussian() * 0.2))
    val y = Array.tabulate(300)(i => (i % 3).toDouble)
    val m = Net.fitLocal(x, y,
      Seq(Net.LayerSpec(8, Net.Relu), Net.LayerSpec(3, Net.SoftMax)),
      nClasses = 3,
      Net.Config(batchSize = 30, epochs = 300, lrStart = 2e-2,
        lrEnd = 5e-3))
    // trained head has K-1 = 2 logit columns
    assert(m.layers.last.w(0).length == 2)
    val acc = x.zip(y).count { case (v, yi) =>
      val p = m.predictOne(v)
      math.abs(p.sum - 1.0) < 1e-9 && p.indexOf(p.max) == yi.toInt
    } / 300.0
    assert(acc > 0.95, s"accuracy $acc")
  }

  test("dropout: same seed reproduces identical weights; training " +
      "still converges") {
    val rnd = new scala.util.Random(11)
    val x = Array.tabulate(200)(_ =>
      Array(rnd.nextGaussian(), rnd.nextGaussian()))
    val y = x.map(v => if (v(0) + v(1) > 0) 1.0 else 0.0)
    def run() = Net.fitLocal(x, y,
      Seq(Net.LayerSpec(8, Net.Relu, dropProb = 0.3),
        Net.LayerSpec(2, Net.SoftMax)),
      nClasses = 2,
      Net.Config(batchSize = 20, epochs = 200, lrStart = 2e-2,
        lrEnd = 5e-3, seed = 5L))
    val (a, b) = (run(), run())
    assert(a.layers(0).w(0).sameElements(b.layers(0).w(0)))
    val acc = x.zip(y).count { case (v, yi) =>
      val p = a.predictOne(v); p.indexOf(p.max) == yi.toInt
    } / 200.0
    assert(acc > 0.9, s"accuracy with dropout $acc")
  }

  test("early stopping halts on a validation set that disagrees") {
    val x = Array.tabulate(40)(i => Array(i.toDouble / 40))
    val y = x.map(v => 3.0 * v(0))
    val vx = x
    val vy = x.map(v => -3.0 * v(0)) // opposite slope: valid worsens
    val m = Net.fitLocal(x, y, Seq(Net.LayerSpec(1, Net.Linear)),
      nClasses = 0,
      Net.Config(batchSize = 10, epochs = 500, lrStart = 5e-2,
        lrEnd = 5e-2, patience = 3),
      validX = vx, validY = vy)
    assert(m.validCost.length < 500, "should stop well before maxEpochs")
  }

  test("joint embedding block: frozen passthrough, trained table, " +
      "levels separate") {
    // raw = [cts, onehot3]; class = level of the one-hot
    val rnd = new scala.util.Random(13)
    val x = Array.tabulate(300) { i =>
      val lvl = i % 3
      Array(rnd.nextGaussian() * 0.1,
        if (lvl == 0) 1.0 else 0.0,
        if (lvl == 1) 1.0 else 0.0,
        if (lvl == 2) 1.0 else 0.0)
    }
    val y = Array.tabulate(300)(i => (i % 3).toDouble)
    val block = Net.EmbedBlock(offset = 1, width = 3, k = 2)
    val m = Net.fitLocal(x, y,
      Seq(Net.LayerSpec(8, Net.Relu), Net.LayerSpec(3, Net.SoftMax)),
      nClasses = 3,
      Net.Config(batchSize = 30, epochs = 300, lrStart = 2e-2,
        lrEnd = 5e-3),
      embeds = Seq(block))
    // adapter: 4 raw -> 1 passthrough + 2 embed dims; continuous slot
    // passes through a FROZEN 1.0, off-block weights stay exactly 0
    val w0 = m.layers(0).w
    assert(w0(0)(0) == 1.0 && w0(0)(1) == 0.0 && w0(0)(2) == 0.0)
    assert(w0(1)(0) == 0.0 && w0(2)(0) == 0.0 && w0(3)(0) == 0.0)
    val table = m.embeddingTable(block)
    assert(table.length == 3 && table(0).length == 2)
    // gradients reached the table: rows moved apart and are nonzero
    def d(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.zip(b).map { case (u, v) => (u - v) * (u - v) }.sum)
    assert(d(table(0), table(1)) > 0.1)
    assert(d(table(1), table(2)) > 0.1)
    val acc = x.zip(y).count { case (v, yi) =>
      m.predictOne(v).zipWithIndex.maxBy(_._1)._2 == yi.toInt
    } / 300.0
    assert(acc > 0.95, s"embed accuracy $acc")
  }

  test("L2 regularization shrinks weight norms; bias:false parses " +
      "and keeps biases at zero") {
    val rnd = new scala.util.Random(23)
    val x = Array.tabulate(120)(_ => Array(rnd.nextGaussian(),
      rnd.nextGaussian()))
    val y = x.map(v => if (v(0) > 0) 1.0 else 0.0)
    def norm(m: Net.NetModel) = math.sqrt(
      m.layers.map(_.w.map(_.map(w => w * w).sum).sum).sum)
    def run(l2: Double) = Net.fitLocal(x, y,
      Seq(Net.LayerSpec(8, Net.Relu), Net.LayerSpec(2, Net.SoftMax)),
      nClasses = 2,
      Net.Config(batchSize = 20, epochs = 150, l2 = l2))
    assert(norm(run(0.1)) < norm(run(0.0)))

    val layers = ModSpec.parse(Seq("Input(x1)",
      "FC(size:4, activation:relu, bias:false)",
      "FC(size:2, activation:SoftMax)", "Target(y)"))
    val fc = layers.collect { case f: ModSpec.FC => f }
    assert(!fc.head.bias && fc.last.bias)
    import spark.implicits._
    val df = (1 to 60).map(i => (i / 30.0 - 1.0, if (i > 30) 1 else 0))
      .toDF("x1", "y")
    val m = ModSpec.fitNative(layers, df, classification = true,
      nClasses = 2, cfg = Net.Config(batchSize = 20, epochs = 30))
    assert(m.net.layers(0).b.forall(_ == 0.0)) // bias:false frozen
  }

  test("analytic gradients match finite differences through " +
      "leakyRelu, sigmoid, softmax and an embedding adapter") {
    val rnd = new scala.util.Random(19)
    // raw = [2 continuous, 3-level one-hot]; 3 classes
    val x = Array.tabulate(7) { i =>
      val lvl = i % 3
      Array(rnd.nextGaussian(), rnd.nextGaussian(),
        if (lvl == 0) 1.0 else 0.0, if (lvl == 1) 1.0 else 0.0,
        if (lvl == 2) 1.0 else 0.0)
    }
    val y = Array.tabulate(7)(i => (i % 3).toDouble)
    val specs = Seq(
      Net.LayerSpec(4, Net.LeakyRelu(0.1)),
      Net.LayerSpec(3, Net.Sigmoid),
      Net.LayerSpec(3, Net.SoftMax))
    val embeds = Seq(Net.EmbedBlock(2, 3, 2))

    var snap: IndexedSeq[Net.Dense] = null
    var gw: Seq[Array[Array[Double]]] = null
    var gb: Seq[Array[Double]] = null
    Net.fitLocal(x, y, specs, nClasses = 3,
      Net.Config(batchSize = 7, epochs = 1, shuffleEachEpoch = false),
      embeds = embeds,
      gradProbe = (ls, w, b) => {
        snap = ls.map(l => Net.Dense(l.w.map(_.clone()), l.b.clone(),
          l.spec))
        gw = w.map(_.map(_.clone()))
        gb = b.map(_.clone())
      })
    assert(snap != null)

    // cost at a weight assignment: CE / (n*K), exactly what backprop
    // differentiates when the batch is the whole set
    def costAt(ls: IndexedSeq[Net.Dense]): Double = {
      val m = Net.NetModel(ls, 3, Array.empty, Array.empty)
      x.zip(y).map { case (xi, yi) =>
        -math.log(math.max(m.predictOne(xi)(yi.toInt), 1e-300))
      }.sum / (x.length * 3.0)
    }
    val h = 1e-6
    var checked = 0
    var maxRel = 0.0
    for (li <- snap.indices; i <- snap(li).w.indices;
         j <- snap(li).w(i).indices) {
      def perturb(d: Double): IndexedSeq[Net.Dense] = {
        val c = snap.map(l => Net.Dense(l.w.map(_.clone()),
          l.b.clone(), l.spec))
        c(li).w(i)(j) += d
        c
      }
      val fd = (costAt(perturb(h)) - costAt(perturb(-h))) / (2 * h)
      val an = gw(li)(i)(j)
      val rel = math.abs(fd - an) / math.max(1e-8,
        math.max(math.abs(fd), math.abs(an)))
      if (math.abs(fd) > 1e-10 || math.abs(an) > 1e-10) {
        maxRel = math.max(maxRel, rel); checked += 1
      }
    }
    // bias gradients too
    for (li <- snap.indices; j <- snap(li).b.indices
         if snap(li).spec.bias) {
      def perturb(d: Double): IndexedSeq[Net.Dense] = {
        val c = snap.map(l => Net.Dense(l.w.map(_.clone()),
          l.b.clone(), l.spec))
        c(li).b(j) += d
        c
      }
      val fd = (costAt(perturb(h)) - costAt(perturb(-h))) / (2 * h)
      val an = gb(li)(j)
      val rel = math.abs(fd - an) / math.max(1e-8,
        math.max(math.abs(fd), math.abs(an)))
      if (math.abs(fd) > 1e-10 || math.abs(an) > 1e-10) {
        maxRel = math.max(maxRel, rel); checked += 1
      }
    }
    assert(checked > 50, s"only $checked gradients checked")
    assert(maxRel < 1e-4, s"max relative gradient error $maxRel")
  }

  test("save/load round-trip: identical predictions, embeds and " +
      "spec metadata preserved") {
    val x = Array.tabulate(60)(i => Array(i / 30.0 - 1.0,
      if (i % 2 == 0) 1.0 else 0.0, if (i % 2 == 1) 1.0 else 0.0))
    val y = Array.tabulate(60)(i => (i % 2).toDouble)
    val block = Net.EmbedBlock(1, 2, 2)
    val m = Net.fitLocal(x, y,
      Seq(Net.LayerSpec(4, Net.LeakyRelu(0.05), dropProb = 0.1),
        Net.LayerSpec(2, Net.SoftMax)),
      nClasses = 2, Net.Config(batchSize = 10, epochs = 30),
      embeds = Seq(block))
    val root = java.nio.file.Files
      .createTempDirectory("graft_net").toString + "/model"
    Net.save(m, root)
    val loaded = Net.load(root)
    assert(loaded.nClasses == 2)
    assert(loaded.embeds == Seq(block))
    assert(loaded.layers(1).spec.act == Net.LeakyRelu(0.05))
    assert(loaded.layers(1).spec.dropProb == 0.1)
    x.take(10).foreach { v =>
      assert(m.predictOne(v).sameElements(loaded.predictOne(v)))
    }
  }

  test("fitNative trains E(f, k) jointly (adapter block present)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (1 to 300).map { i =>
      val cat = Seq("a", "b", "c")(i % 3)
      (rnd.nextGaussian() * 0.1, cat, i % 3)
    }
    val df = rows.toDF("x1", "cat", "y")
    val layers = ModSpec.parse(Seq(
      "Input(x1 + E(catoh, 2))",
      "FC(size:8, activation:relu)",
      "FC(size:3, activation:SoftMax)",
      "Target(y)"))
    val m = ModSpec.fitNative(layers, df, classification = true,
      nClasses = 3,
      cfg = Net.Config(batchSize = 30, epochs = 200, lrStart = 2e-2,
        lrEnd = 5e-3))
    assert(m.net.embeds.nonEmpty)
    assert(m.net.embeds.head.k == 2)
    val acc = m.transform(df)
      .where(col("__predicted_class") === col("y")).count() / 300.0
    assert(acc > 0.95, s"fitNative embed accuracy $acc")
  }

  test("fitNative end-to-end: LeakyRelu + DropOut spec trains and " +
      "scores distributed") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (1 to 300).map { _ =>
      val (a, b) = (rnd.nextGaussian(), rnd.nextGaussian())
      (a, b, if (a * a + b * b > 1.2) 1 else 0)
    }
    val df = rows.toDF("x1", "x2", "y")
    val layers = ModSpec.parse(Seq(
      "Input(x1+x2)",
      "FC(size:12, activation:LeakyRelu(0.1))",
      "DropOut(.1)",
      "FC(size:2, activation:SoftMax)",
      "Target(y)"))
    val m = ModSpec.fitNative(layers, df, classification = true,
      nClasses = 2,
      cfg = Net.Config(batchSize = 30, epochs = 250, lrStart = 2e-2,
        lrEnd = 5e-3))
    // the parsed spec carried the α through to the net
    assert(m.net.layers(0).spec.act == Net.LeakyRelu(0.1))
    assert(m.net.layers(0).spec.dropProb == 0.1)
    val scored = m.transform(df)
    val acc = scored.where(col("__predicted_class") === col("y")).count() /
      300.0
    assert(acc > 0.85, s"fitNative accuracy $acc")
    // probability column is a K-vector summing to 1
    val p = scored.select("__prediction").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(p.size == 2 && math.abs(p.toArray.sum - 1.0) < 1e-9)
  }

  test("saveNative -> loadNative round trip: the loaded model scores " +
      "a frame to the same predictions") {
    import spark.implicits._
    val df = (1 to 90).map(i =>
      (i.toLong, i / 45.0 - 1.0, Seq("a", "b", "c")(i % 3), i % 2))
      .toDF("id", "x1", "cat", "y")
    val layers = ModSpec.parse(Seq("Input(x1 + catoh)",
      "FC(size:6, activation:relu)", "FC(size:2, activation:SoftMax)",
      "Target(y)"))
    val m = ModSpec.fitNative(layers, df, classification = true,
      nClasses = 2, cfg = Net.Config(batchSize = 30, epochs = 20))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_native").toString + "/model"
    ModSpec.saveNative(m, dir)
    val loaded = ModSpec.loadNative(dir)
    assert(loaded.targetCol == "y")
    def scores(n: ModSpec.NativeModel) = n.transform(df)
      .orderBy("id").select("__prediction", "__predicted_class")
      .collect().toSeq
    assert(scores(loaded) == scores(m))
  }

  private def featFrame(x: Array[Array[Double]], y: Array[Double]) = {
    import spark.implicits._
    val toVec = udf { a: Seq[Double] =>
      org.apache.spark.ml.linalg.Vectors.dense(a.toArray)
    }
    x.zip(y).map { case (xi, yi) => (xi.toSeq, yi) }.toSeq
      .toDF("__raw", "label").repartition(3)
      .withColumn("__features", toVec(col("__raw")))
  }

  test("fitDistributed: one full-batch step equals fitLocal's (no " +
      "dropout, same seed) — the treeAggregate gradient is the " +
      "local gradient") {
    val rnd = new scala.util.Random(3)
    val x = Array.tabulate(90)(_ =>
      Array(rnd.nextGaussian(), rnd.nextGaussian()))
    val y = x.map(v => if (v(0) + v(1) > 0) 1.0 else 0.0)
    val cfg = Net.Config(batchSize = 90, epochs = 1, lrStart = 1e-2,
      shuffleEachEpoch = false, seed = 11)
    val specs = Seq(Net.LayerSpec(4, Net.Relu),
      Net.LayerSpec(2, Net.SoftMax))
    def assertSame(local: Net.NetModel, dist: Net.NetModel): Unit = {
      local.layers.zip(dist.layers).foreach { case (a, b) =>
        a.w.zip(b.w).foreach { case (ra, rb) =>
          ra.zip(rb).foreach { case (va, vb) =>
            assert(math.abs(va - vb) < 1e-9, s"weight drift $va vs $vb") }
        }
        a.b.zip(b.b).foreach { case (va, vb) =>
          assert(math.abs(va - vb) < 1e-9) }
      }
      Seq(local.trainCost -> dist.trainCost,
        local.validCost -> dist.validCost).foreach { case (ca, cb) =>
        assert(ca.length == cb.length, s"${ca.toSeq} vs ${cb.toSeq}")
        ca.zip(cb).foreach { case (va, vb) =>
          assert(math.abs(va - vb) < 1e-9, s"cost drift $va vs $vb") }
      }
    }
    val local = Net.fitLocal(x, y, specs, nClasses = 2, cfg)
    val dist = Net.fitDistributed(featFrame(x, y), specs, nClasses = 2,
      cfg)
    assertSame(local, dist)
    assert(local.trainCost.length == 1)

    // twelve steps with a label-flipped validation set: the LR
    // schedule, the cost histories, the early stop and the best
    // snapshot it returns all agree
    val vy = y.map(1.0 - _)
    val cfg12 = cfg.copy(epochs = 12, lrStart = 0.1, lrEnd = 0.02,
      patience = 2)
    val local12 = Net.fitLocal(x, y, specs, nClasses = 2, cfg12,
      validX = x, validY = vy)
    val dist12 = Net.fitDistributed(featFrame(x, y), specs,
      nClasses = 2, cfg12, valid = Some(featFrame(x, vy)))
    assert(local12.validCost.length < 12, "should stop early")
    assertSame(local12, dist12)
  }

  test("fitDistributed: an empty frame throws and releases what it " +
      "persisted") {
    val sc = spark.sparkContext
    val empty = featFrame(Array.empty, Array.empty)
    val before = sc.getPersistentRDDs.size
    intercept[IllegalArgumentException] {
      Net.fitDistributed(empty, Seq(Net.LayerSpec(1, Net.Linear)),
        nClasses = 0)
    }
    assert(sc.getPersistentRDDs.size == before)
  }

  test("fit: the row cap refuses a larger frame and names the " +
      "uncapped distributed fit") {
    val x = Array.tabulate(20)(i => Array(i.toDouble))
    val e = intercept[IllegalArgumentException] {
      Net.fit(featFrame(x, x.map(_(0))), Seq(Net.LayerSpec(1, Net.Linear)),
        nClasses = 0, Net.Config(maxRows = 10))
    }
    assert(e.getMessage.contains("exceeds 10 rows"))
    assert(e.getMessage.contains("ModSpec.fitNative(distributed = true)"))
    assert(e.getMessage.contains("Net.fitDistributed"))
  }

  test("fitDistributed learns XOR across partitions and is " +
      "deterministic with dropout") {
    val x = Array(Array(0.0, 0.0), Array(0.0, 1.0),
      Array(1.0, 0.0), Array(1.0, 1.0))
    val xs = Array.tabulate(80)(i => x(i % 4))
    val ys = Array.tabulate(80)(i => if (i % 4 == 1 || i % 4 == 2) 1.0
      else 0.0)
    val df = featFrame(xs, ys).cache()
    val specs = Seq(Net.LayerSpec(8, Net.Relu),
      Net.LayerSpec(2, Net.SoftMax))
    val cfg = Net.Config(epochs = 150, lrStart = 5e-2, lrEnd = 1e-2)
    val m = Net.fitDistributed(df, specs, nClasses = 2, cfg)
    x.zipWithIndex.foreach { case (v, i) =>
      val want = if (i == 1 || i == 2) 1 else 0
      val p = m.predictOne(v)
      assert(p.indexOf(p.max) == want, s"XOR distributed: ${p.toSeq}")
    }
    // per-(step,row)-seeded dropout: two runs agree to float
    // combine-order jitter (the masks themselves are deterministic)
    val dSpecs = Seq(Net.LayerSpec(8, Net.Relu, dropProb = 0.2),
      Net.LayerSpec(2, Net.SoftMax))
    val dCfg = Net.Config(epochs = 12, lrStart = 2e-2)
    val d1 = Net.fitDistributed(df, dSpecs, nClasses = 2, dCfg)
    val d2 = Net.fitDistributed(df, dSpecs, nClasses = 2, dCfg)
    d1.layers.zip(d2.layers).foreach { case (a, b) =>
      a.w.zip(b.w).foreach { case (ra, rb) =>
        ra.zip(rb).foreach { case (va, vb) =>
          assert(math.abs(va - vb) < 1e-6,
            s"dropout fit drift $va vs $vb") } }
    }
    df.unpersist(blocking = false)
  }
}
