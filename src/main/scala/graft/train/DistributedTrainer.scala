package graft.train

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.encode.Encoder.{EncoderSpec, ModelState}
import graft.encode.{Encoder, SchemaPaths}
import graft.encode.SchemaPaths.{Categorical, Numeric}

/** E-2..E-5: distributed forward+backward training.
  *
  * The reference broadcasts mutable model state, zips label/feature
  * frames positionally, runs encode+forward+backward per partition, and
  * `rdd.reduce`s `(lossSum, Map[UUID → grad])` to the driver, where a
  * MindsEye `IterativeTrainer` (gradient descent + bisection line
  * search) mutates weights in place and re-broadcasts (reference
  * `ModelingStrategy.scala:188-236`, `DataframeModeler.scala:192-244`,
  * `Trainer.scala:170-193`).
  *
  * Spark-first differences:
  *   - **No positional zip**: label and features live in ONE prepared
  *     frame (`prepare` keeps categorical keys + z-scores in Catalyst
  *     codegen; only the dense math runs in `mapPartitions`).
  *   - **`treeReduce`** (multi-level combine) instead of flat `reduce`
  *     — on a 1000-executor cluster the gradient merge is O(log n)
  *     rounds, not n-into-driver.
  *   - **Immutable state snapshots** broadcast per measurement; gradient
  *     routing (E-4) is a pure merge keyed by feature path, not UUID
  *     lookup into live layer objects.
  *   - The prepared frame is persisted once per schedule stage
  *     (MEMORY_ONLY_SER parity with reference `Trainer.scala:174`) —
  *     encoding stats are frozen, so line-search probes recompute only
  *     the dense math (SURVEY §7.4 item 6).
  */
object DistributedTrainer {

  /** Gradients for everything trainable, keyed the same way the model
    * state is. Shapes: net mirrors Network.layers; embeddings / transform
    * weights mirror their ModelState entries.
    */
  final case class Grads(
      loss: Double,
      n: Long,
      net: Vector[(Array[Array[Double]], Array[Double])],
      emb: Map[String, Array[Double]],
      trans: Map[String, Array[Array[Double]]]) {

    def merge(o: Grads): Grads = Grads(
      loss + o.loss, n + o.n,
      net.zip(o.net).map { case ((w1, b1), (w2, b2)) =>
        (addMat(w1, w2), addVec(b1, b2))
      },
      mergeMaps(emb, o.emb)(addVec),
      mergeMaps(trans, o.trans)(addMat))
  }

  private def addVec(a: Array[Double], b: Array[Double]): Array[Double] = {
    val r = a.clone(); var i = 0
    while (i < r.length) { r(i) += b(i); i += 1 }
    r
  }
  private def addMat(a: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] =
    a.zip(b).map { case (x, y) => addVec(x, y) }
  private def mergeMaps[V](a: Map[String, V], b: Map[String, V])(
      add: (V, V) => V): Map[String, V] =
    b.foldLeft(a) { case (acc, (k, v)) =>
      acc.updated(k, acc.get(k).map(add(_, v)).getOrElse(v))
    }

  /** Columns: keys array<string> (categorical leaf keys), zs
    * array<double> (z-scored numeric leaves), label int (0-based).
    * Everything here is codegen'd; the training job reads only these
    * three columns.
    */
  def prepare(df: DataFrame, state: ModelState, labelCol: String,
      labelCategories: Int): DataFrame = {
    val leaves = SchemaPaths.flatten(df.schema)
      .filterNot(p => p.path == labelCol || p.path.startsWith(labelCol + "/"))
    val catKeys = leaves.filter(_.kind == Categorical).map(p =>
      concat(lit(p.path + "="), coalesce(p.column.cast("string"), lit("null"))))
    val zs = leaves.filter(_.kind == Numeric).map { p =>
      val t = state.transforms(p.path)
      coalesce((p.column.cast("double") - lit(t.mean)) / lit(t.safeStd), lit(0.0))
    }
    // dirty labels fail HERE with an actionable message, not as an NPE /
    // ArrayIndexOutOfBounds deep inside a gradient task
    val lbl = col(labelCol).cast("int") - lit(1)
    val checkedLabel =
      when(lbl.isNull || lbl < 0 || lbl >= labelCategories,
        raise_error(concat(
          lit(s"label column '$labelCol' must be in 1..$labelCategories " +
            "and non-null; got "),
          coalesce(col(labelCol).cast("string"), lit("null"))))
          .cast("int"))
        .otherwise(lbl)
    df.select(
      (if (catKeys.nonEmpty) array(catKeys: _*) else array().cast("array<string>")).as("keys"),
      (if (zs.nonEmpty) array(zs: _*) else array().cast("array<double>")).as("zs"),
      checkedLabel.as("label"))
  }

  /** Numeric leaf paths in the column order `prepare` emitted them. */
  def numericPaths(df: DataFrame, labelCol: String): Seq[String] =
    SchemaPaths.flatten(df.schema)
      .filterNot(p => p.path == labelCol || p.path.startsWith(labelCol + "/"))
      .filter(_.kind == Numeric).map(_.path)

  /** E-2: one measurement = one Spark job. Per partition: encode each
    * row from broadcast state, forward+backward, route gradients to
    * embeddings / transform weights / network; merge partials with
    * `treeReduce`. Returns mean loss and summed gradients.
    */
  def measure(spark: SparkSession, prepared: DataFrame, state: ModelState,
      net: Network, numPaths: Seq[String]): Grads = {
    val bcState = spark.sparkContext.broadcast(state)
    val bcNet = spark.sparkContext.broadcast(net)
    val bcPaths = spark.sparkContext.broadcast(numPaths.toArray)
    val dim = state.spec.featureDim
    val zero = Grads(0.0, 0L,
      net.layers.map(l => (l.w.map(r => new Array[Double](r.length)), new Array[Double](l.b.length))),
      Map.empty, Map.empty)
    val partials = prepared.rdd.mapPartitions { rows =>
      val st = bcState.value
      val network = bcNet.value
      val paths = bcPaths.value
      var g = Grads(0.0, 0L,
        network.layers.map(l => (l.w.map(r => new Array[Double](r.length)), new Array[Double](l.b.length))),
        Map.empty, Map.empty)
      var emb = scala.collection.mutable.Map.empty[String, Array[Double]]
      var trans = scala.collection.mutable.Map.empty[String, Array[Array[Double]]]
      var netG = g.net
      var lossSum = 0.0
      var count = 0L
      rows.foreach { r =>
        val keys = r.getSeq[String](0)
        val zs = r.getSeq[Double](1)
        val label = r.getInt(2)
        // encode: x = Σ emb(key) + Σ_j (W_j[0] + W_j[1]·z_j)
        val x = new Array[Double](dim)
        keys.foreach { k =>
          val v = st.representations.getOrElse(k,
            Encoder.initialRepresentation(st.spec, k))
          var i = 0; while (i < dim) { x(i) += v(i); i += 1 }
        }
        zs.zipWithIndex.foreach { case (z, j) =>
          // x += Σ_p W[p]·z^p — the power loop follows weights.length so
          // trainer and encoder (numericExpr) cannot diverge on a
          // non-default mappingPower
          val w = st.transforms(paths(j)).weights
          var p = 0; var zp = 1.0
          while (p < w.length) {
            val wp = w(p)
            var i = 0; while (i < dim) { x(i) += wp(i) * zp; i += 1 }
            zp *= z; p += 1
          }
        }
        val (loss, layerGrads, dx) = network.gradients(x, label)
        lossSum += loss
        count += 1
        netG = netG.zip(layerGrads).map { case ((aw, ab), (bw, bb)) =>
          (addMat(aw, bw), addVec(ab, bb))
        }
        keys.foreach { k =>
          val acc = emb.getOrElseUpdate(k, new Array[Double](dim))
          var i = 0; while (i < dim) { acc(i) += dx(i); i += 1 }
        }
        zs.zipWithIndex.foreach { case (z, j) =>
          // ∂L/∂W[p] = dx · z^p, one accumulator row per power slot
          val nPowers = st.transforms(paths(j)).weights.length
          val acc = trans.getOrElseUpdate(paths(j),
            Array.fill(nPowers)(new Array[Double](dim)))
          var p = 0; var zp = 1.0
          while (p < nPowers) {
            val a = acc(p)
            var i = 0; while (i < dim) { a(i) += dx(i) * zp; i += 1 }
            zp *= z; p += 1
          }
        }
      }
      Iterator.single(Grads(lossSum, count, netG, emb.toMap, trans.toMap))
    }
    val total =
      if (prepared.rdd.getNumPartitions <= 1) partials.collect().foldLeft(zero)(_ merge _)
      else partials.treeReduce(_ merge _, depth = 2)
    bcState.destroy(); bcNet.destroy(); bcPaths.destroy()
    total
  }

  final case class TrainConfig(
      hidden: Seq[Int] = Seq(20, 20),
      classes: Int,
      labelCol: String,
      iterations: Int = 10,
      initialStep: Double = 0.5,
      lineSearchTries: Int = 6,
      embeddingsTrainable: Boolean = true,
      schedule: Seq[Double] = Seq(1.0),
      seed: Long = 42L,
      /** E-10 training monitor: invoked (iteration, meanLoss) per
        * accepted step — the engine-side hook the reference's live
        * loss plot consumes (reference `DataUtil.scala:87-123`).
        */
      monitor: (Int, Double) => Unit = (_, _) => ())

  final case class TrainResult(state: ModelState, net: Network,
      lossHistory: Seq[Double])

  /** E-5: schedule loop — per stage: sample → repartition → persist →
    * iterate (GD + bisection-style halving line search, each probe one
    * Spark job) → unpersist (reference `Trainer.scala:170-193`).
    */
  def fit(spark: SparkSession, df: DataFrame, encSpec: EncoderSpec,
      cfg: TrainConfig): TrainResult = {
    var state = Encoder.fit(
      df.drop(cfg.labelCol), encSpec)
    var net = Network.classifier(encSpec.featureDim, cfg.hidden, cfg.classes)
    val numPaths = numericPaths(df, cfg.labelCol)
    var history = Vector.empty[Double]

    cfg.schedule.foreach { fraction =>
      val stageDf0 =
        if (fraction >= 1.0) df else df.sample(fraction, cfg.seed)
      val nRows = stageDf0.count()
      val parts = math.max((nRows / 10000).toInt, 2) // reference heuristic
      val prepared = prepare(stageDf0, state, cfg.labelCol, cfg.classes)
        .repartition(parts)
        .persist(StorageLevel.MEMORY_ONLY_SER)
      try {
        var g = measure(spark, prepared, state, net, numPaths)
        var step = cfg.initialStep
        var iter = 0
        while (iter < cfg.iterations) {
          val meanLoss = g.loss / math.max(g.n, 1L)
          history = history :+ meanLoss
          cfg.monitor(history.length - 1, meanLoss)
          // descend: probe step, halve until improvement (bisection-style)
          var tried = 0
          var accepted = false
          while (!accepted && tried < cfg.lineSearchTries) {
            val scale = -step / math.max(g.n, 1L)
            val candNet = net.addScaled(
              g.net.map { case (w, b) =>
                (w.map(_.map(_ * scale)), b.map(_ * scale)) },
              1.0)
            val candState =
              if (!cfg.embeddingsTrainable) state
              else state.copy(
                representations = state.representations.map { case (k, v) =>
                  k -> g.emb.get(k).map(d =>
                    v.zip(d).map { case (x, dx) => x + scale * dx }).getOrElse(v)
                },
                transforms = state.transforms.map { case (p, t) =>
                  p -> g.trans.get(p).map(d =>
                    t.copy(weights = t.weights.zip(d).map { case (w, dw) =>
                      w.zip(dw).map { case (x, dx) => x + scale * dx }
                    })).getOrElse(t)
                })
            val gNew = measure(spark, prepared, candState, candNet, numPaths)
            if (gNew.loss / math.max(gNew.n, 1L) < meanLoss) {
              net = candNet; state = candState; g = gNew
              step = step * 1.5
              accepted = true
            } else {
              step = step / 2
              tried += 1
            }
          }
          if (!accepted) iter = cfg.iterations // converged / stuck: stop stage
          iter += 1
        }
        history = history :+ g.loss / math.max(g.n, 1L)
      } finally prepared.unpersist()
    }
    TrainResult(state, net, history)
  }

  /** E-8: prediction report — features + softmax prediction + label in
    * one frame (the reference zips three frames positionally,
    * `Trainer.scala:195-200`; ours is a single select).
    */
  def predictionReport(spark: SparkSession, df: DataFrame, state: ModelState,
      net: Network, labelCol: String, limit: Int = 100): DataFrame = {
    val leaves = SchemaPaths.flatten(df.schema)
      .filterNot(p => p.path == labelCol || p.path.startsWith(labelCol + "/"))
    val features = Encoder.encodeColumn(spark, state, leaves)
    val bcNet = spark.sparkContext.broadcast(net)
    val predictUdf = udf((x: Seq[Double]) =>
      bcNet.value.predict(x.toArray).toSeq)
    df.limit(limit).select(
      col(labelCol).as("label"),
      features.as("features"))
      .withColumn("prediction", predictUdf(col("features")))
  }
}
