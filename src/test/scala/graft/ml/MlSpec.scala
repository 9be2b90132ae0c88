package graft.ml

import graft.SparkSpec
import graft.sources.Generators
import org.apache.spark.sql.functions._

class MlSpec extends SparkSpec {

  test("fitCents recovers a known linear relationship exactly") {
    import spark.implicits._
    // y = 3 + 2x with no noise, in whole units
    val df = (1 to 100).map(i => (i.toDouble, 3.0 + 2.0 * i)).toDF("x", "y")
    val m = Predict.fitCents(df, "x", "y")
    // cents domain: yc = 300 + 2*xc
    assert(math.abs(m.slope - 2.0) < 1e-9, s"slope ${m.slope}")
    assert(math.abs(m.intercept - 300.0) < 1e-6, s"intercept ${m.intercept}")
  }

  test("broadcast predict scores every lineitem row") {
    val out = Predict.predictLineitem(spark, sfDir)
    val n = graft.core.Tables.lineitem(spark, sfDir).count()
    assert(out.count() == n)
    assert(out.filter(col("pred_cents").isNull).count() == 0)
  }

  test("generated classification data is deterministic and separable by its own rule") {
    val a = Generators.makeClassification(spark, 1000, 8, seed = 3L)
    val b = Generators.makeClassification(spark, 1000, 8, seed = 3L)
    assert(a.select(sum(col("label"))).head.getDouble(0)
        == b.select(sum(col("label"))).head.getDouble(0))
    val frac = a.select(avg(col("label"))).head.getDouble(0)
    assert(frac > 0.2 && frac < 0.8, s"degenerate label balance: $frac")
  }

  test("ml02: broadcast scorer reproduces the generator's ground truth") {
    // the scorer uses the same hyperplane as the generator -> 100% accuracy;
    // run at reduced n here (the 800k shape runs in the bench gate)
    import spark.implicits._
    val data = Generators.makeClassification(spark, 20000, 20, seed = 5L)
    val w = Array.tabulate(20)(j => graft.array.DMatrix.mixedUniform(9999L, j, 20, 5L) - 0.5)
    val bc = spark.sparkContext.broadcast(w)
    val nCorrect = data.select(col("features"), col("label"))
      .as[(Array[Double], Double)]
      .mapPartitions { it =>
        val ww = bc.value
        it.map { case (x, label) =>
          var dot = 0.0; var j = 0
          while (j < ww.length) { dot += ww(j) * x(j); j += 1 }
          if ((if (dot > 0) 1.0 else 0.0) == label) 1L else 0L
        }
      }.reduce(_ + _)
    assert(nCorrect == 20000L)
  }

  test("ml02 integer domain: LCG scorer confusion counts are exact and stable") {
    import spark.implicits._
    val data = Generators.makeClassificationLcg(spark, 20000, 20, seed = 5L)
    // scoring with the GROUND-TRUTH weights must give 100% accuracy;
    // the gate's ml02 scorer uses a different salt on purpose
    val wg = Array.tabulate(20)(j => ((9999L * 20 + j) * 1103515245L + 5L) % 2147483647L % 1000L - 500L)
    val bc = spark.sparkContext.broadcast(wg)
    val nCorrect = data.select(col("features"), col("label"))
      .as[(Array[Long], Long)]
      .mapPartitions { it =>
        val w = bc.value
        it.map { case (x, label) =>
          var dot = 0L; var j = 0
          while (j < w.length) { dot += w(j) * x(j); j += 1 }
          if ((if (dot > 0L) 1L else 0L) == label) 1L else 0L
        }
      }.reduce(_ + _)
    assert(nCorrect == 20000L)
  }

  test("ml03: LinearSVC fit on a slice scores the full set near ground truth") {
    import org.apache.spark.ml.classification.LinearSVC
    import org.apache.spark.ml.functions.array_to_vector
    val data = Generators.makeClassification(spark, 10000, 20, seed = 11L)
      .withColumn("features_v", array_to_vector(col("features")))
    val model = new LinearSVC().setMaxIter(20).setRegParam(0.01)
      .setFeaturesCol("features_v").setLabelCol("label")
      .fit(data.filter(col("row_id") % 20 === 0))
    val scored = model.transform(data)
    val acc = scored.select(avg(when(col("prediction") === col("label"), 1.0).otherwise(0.0)))
      .head.getDouble(0)
    // linearly-separable ground truth: a hinge-loss linear model fit on
    // 5% must generalize well above chance
    assert(acc >= 0.9, s"LinearSVC accuracy too low: $acc")
  }

  test("ml03 gate entry: margin construction yields the exact ground-truth profile") {
    // the hash-match contract of the ml03 oracle (Predict.predictSvc
    // scaladoc): on |wg·x| > 2e5 points the trained separator must agree
    // with the ground truth on EVERY row, so n_correct == n and n_pos is
    // the ground-truth positive count. If a solver change ever breaks
    // perfect margin classification, this fails before the driver gate.
    val r = graft.ml.Predict.predictSvc(spark, sfDir).head
    val (n, nCorrect, nPos) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(n > 50000L, s"margin filter kept only $n rows")
    assert(nCorrect == n, s"misclassified ${n - nCorrect} margin rows")
    assert(nPos > 0L && nPos < n)
  }

  test("ml03's scoring model serializes without a SparkSession") {
    // the model's UDF ships inside every scoring task; a fitted model's
    // training summary would drag the session (and whatever state it
    // holds) into that closure
    val (_, model, _) = graft.ml.Predict.svcMarginFixture(spark)
    val out = new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream()) {
      enableReplaceObject(true)
      override def replaceObject(obj: AnyRef): AnyRef = obj match {
        case _: org.apache.spark.sql.SparkSession =>
          throw new java.io.NotSerializableException("SparkSession reached from the scoring model")
        case other => other
      }
    }
    out.writeObject(model)
    out.close()
  }

  test("ml05: polynomial-kernel scorer is deterministic and nondegenerate") {
    val a = Predict.predictKernel(spark, sfDir).head()
    val b = Predict.predictKernel(spark, sfDir).head()
    assert(a == b, "kernel scorer must be bit-deterministic across runs")
    val n = a.getLong(0); val nCorrect = a.getLong(1); val nPos = a.getLong(2)
    assert(n == 200000L)
    // a nonlinear scorer over a linear ground truth: must beat chance but
    // not be degenerate (all-one-class would make the gate entry vacuous)
    assert(nCorrect > n / 2, s"kernel scorer below chance: $nCorrect / $n")
    assert(nPos > 0 && nPos < n, s"degenerate prediction balance: $nPos / $n")
  }

  test("ml05: kernel score magnitude stays within exact int64 bounds") {
    // worst case per support vector: alpha<500, |1+dot|<=1+20*500*500
    val maxDot = 1L + 20L * 500L * 500L
    val maxScore = 16L * 500L * maxDot * maxDot
    assert(maxScore > 0 && maxScore < Long.MaxValue / 10,
      s"headroom check failed: $maxScore")
  }

  test("ml07: hashed-feature scores equal a local hash+weight fold") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h64(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def weight(tok: String): Long = (h64(tok) % 512L) * 2654435761L % 1001L - 500L
    val docs = graft.core.Tables.documents(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim)
    val got = Predict.hashFeatureScore(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.size == docs.length)
    docs.foreach { case (id, text) =>
      val score = text.split(" ").iterator.map(weight).sum
      assert(got(id) == ((score, if (score > 0) 1L else 0L)), s"doc $id")
    }
    // both classes must occur, or the scorer is degenerate on the fixture
    assert(got.values.exists(_._2 == 1L) && got.values.exists(_._2 == 0L))
  }

  test("ml08: scaler stats and z-scores equal the local fit, and z standardizes") {
    val vecs = graft.core.Tables.embeddings(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray)
    val dims = vecs.head._2.length
    val stats = (0 until dims).map { d =>
      val qs = vecs.map(_._2(d))
      val n = qs.length.toDouble
      val sx = qs.sum.toDouble
      val sxx = qs.map(q => q * q).sum.toDouble
      (d, sx / n, math.sqrt((n * sxx - sx * sx) / (n * (n - 1.0))))
    }
    val got = Predict.standardScaler(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val probe = vecs.filter(_._1 % 20 == 0)
    assert(got.size == probe.length * 8)
    probe.foreach { case (id, q) =>
      (0 until 8).foreach { d =>
        val (_, mean, std) = stats(d)
        val (z, m, sd) = got((id, d.toLong))
        assert(math.abs(m - mean) < 1e-6 && math.abs(sd - std) < 1e-6, s"vec $id dim $d stats")
        assert(math.abs(z - (q(d) - mean) / std) < 1e-6, s"vec $id dim $d z")
      }
    }
    // the fitted transform standardizes: full-corpus z has mean ~0, std ~1
    (0 until 8).foreach { d =>
      val (_, mean, std) = stats(d)
      val zs = vecs.map { case (_, q) => (q(d) - mean) / std }
      val zm = zs.sum / zs.length
      val zv = zs.map(z => (z - zm) * (z - zm)).sum / (zs.length - 1)
      assert(math.abs(zm) < 1e-9 && math.abs(zv - 1.0) < 1e-9, s"dim $d not standardized")
    }
  }

  test("ml09 one-hot: dummies partition each nation's count and recover the segment histogram") {
    val got = Predict.oneHotDummies(spark, sfDir).collect()
    val segCols = Predict.oneHotDummies(spark, sfDir).columns.drop(2)
    // pass-1 category discovery must surface every segment present
    val segs = graft.core.Tables.customer(spark, sfDir)
      .select("c_mktsegment").distinct().collect().map(_.getString(0)).sorted
    assert(segCols.toSeq == segs.toSeq.map("seg_" + _.toLowerCase))
    got.foreach { r =>
      val n = r.getLong(1)
      val dummies = segCols.indices.map(i => r.getLong(2 + i))
      assert(dummies.sum == n, s"dummies of nation ${r.get(0)} don't partition n_cust")
      assert(dummies.forall(_ >= 0))
    }
    // column sums reproduce the global segment histogram
    val hist = graft.core.Tables.customer(spark, sfDir)
      .groupBy("c_mktsegment").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    segs.zipWithIndex.foreach { case (seg, i) =>
      assert(got.map(_.getLong(2 + i)).sum == hist(seg), s"column sum for $seg")
    }
  }

  test("timeseries generator: bounds, frequency and value domain") {
    val ts = Generators.makeTimeseries(spark, 500, 946684800L, 7200L, 1L)
    assert(ts.count() == 500)
    val r = ts.agg(min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))),
                   min(col("value")), max(col("value"))).head()
    assert(r.getLong(0) == 946684800L)
    assert(r.getLong(1) == 946684800L + 499 * 7200L)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(3) < 1000.0)
  }

  test("ml10 parallel SGD equals a local 3-epoch batch-perceptron loop") {
    val rows = graft.core.Tables.lineitem(spark, sfDir)
      .select(col("l_quantity").cast("long"),
              round(col("l_discount") * 100).cast("long"),
              when(col("l_returnflag") === "R", 1L).otherwise(-1L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var w = (0L, 0L, 0L)
    val expect = (1 to 3).map { e =>
      val mis = rows.filter { case (x1, x2, y) => y * (w._1 * x1 + w._2 * x2 + w._3) <= 0 }
      w = (w._1 + mis.map(r => r._3 * r._1).sum,
           w._2 + mis.map(r => r._3 * r._2).sum,
           w._3 + mis.map(_._3).sum)
      (e.toLong, mis.length.toLong, w._1, w._2, w._3)
    }
    val got = Predict.parallelSgd(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(got == expect, s"training curves diverge: $got vs $expect")
    // epoch 1 must touch every row (w=0 misclassifies everything)
    assert(got.head._2 == rows.length.toLong)
  }

  test("ml11 ridge closed form matches a Breeze (XtX+lambda*I) solve per group") {
    import org.apache.spark.sql.functions._
    val rows = graft.core.Tables.lineitem(spark, sfDir).select(
        col("l_returnflag"), round(col("l_quantity")).cast("long"),
        round(col("l_discount") * 100).cast("long"),
        round(col("l_extendedprice") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val got = Predict.ridgeClosedForm(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    rows.groupBy(_._1).foreach { case (k, g) =>
      val xtx = breeze.linalg.DenseMatrix(
        (g.map(r => r._2.toDouble * r._2).sum + 1000.0, g.map(r => r._2.toDouble * r._3).sum),
        (g.map(r => r._2.toDouble * r._3).sum, g.map(r => r._3.toDouble * r._3).sum + 1000.0))
      val xtt = breeze.linalg.DenseVector(
        g.map(r => r._2.toDouble * r._4).sum, g.map(r => r._3.toDouble * r._4).sum)
      val beta = xtx \ xtt
      val (n, bq, bd) = got(k)
      assert(n == g.length.toLong)
      assert(math.abs(bq - beta(0)) < 1e-4, s"$k beta_qty $bq vs ${beta(0)}")
      assert(math.abs(bd - beta(1)) < 1e-4, s"$k beta_disc $bd vs ${beta(1)}")
    }
  }

  test("ml12 PCA explained-variance ratio matches Breeze eigSym per group") {
    import org.apache.spark.sql.functions._
    val rows = graft.core.Tables.lineitem(spark, sfDir).select(
        col("l_returnflag"), round(col("l_quantity")).cast("long"),
        round(col("l_discount") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val got = Predict.pcaClosedForm(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    rows.groupBy(_._1).foreach { case (k, g) =>
      val n = g.length.toDouble
      val xs = g.map(_._2.toDouble); val ys = g.map(_._3.toDouble)
      val cxx = n * xs.map(v => v * v).sum - math.pow(xs.sum, 2)
      val cyy = n * ys.map(v => v * v).sum - math.pow(ys.sum, 2)
      val cxy = n * xs.zip(ys).map { case (a, b) => a * b }.sum - xs.sum * ys.sum
      val ev = breeze.linalg.eigSym(
        breeze.linalg.DenseMatrix((cxx, cxy), (cxy, cyy))).eigenvalues
      val evr = ev.toArray.max / ev.toArray.sum
      val (gn, gevr) = got(k)
      assert(gn == g.length.toLong)
      assert(math.abs(gevr - evr) < 1e-6, s"$k evr $gevr vs breeze $evr")
      assert(gevr >= 0.5 && gevr <= 1.0, s"$k evr out of [0.5, 1]")
    }
  }

  test("ml13 centroid classifier equals a local Rocchio recompute") {
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def toks(t: String): Seq[String] =
      t.toLowerCase.replaceAll("\\s+", " ").trim.split(" ", -1).filter(_.nonEmpty).toSeq
    val train = docs.filter(_._1 % 5 != 0)
    val counts = train.flatMap { case (_, l, t) => toks(t).map(w => (l, w)) }
      .groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val classTot = counts.groupBy(_._1._1).map { case (c, m) => c -> m.values.sum }
    val rates = counts.map { case ((c, w), n) => (c, w) -> n * 1000000L / classTot(c) }
    val expect = docs.filter(_._1 % 5 == 0).flatMap { case (id, lang, t) =>
      val tf = toks(t).groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
      // a (doc, class) row exists iff some token matches the class
      // profile (inner-join semantics), even when the summed score is 0
      val scores = classTot.keys.toSeq
        .filter(c => tf.keys.exists(w => rates.contains((c, w))))
        .map(c => c -> tf.map { case (w, n) => n * rates.getOrElse((c, w), 0L) }.sum)
      if (scores.isEmpty) None
      else {
        val (c, sc) = scores.minBy { case (cl, s) => (-s, cl) }
        Some((id, c, sc, if (c == lang) 1L else 0L))
      }
    }.sorted
    val got = Predict.centroidClassify(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    assert(got == expect.toSeq)
    // exactly one prediction per eligible held-out doc, from the label set
    // (the fixture's lang is synthetic noise w.r.t. text, so accuracy is
    // chance — the contract here is the training/scoring mechanics)
    assert(got.map(_._1).distinct.length == got.length)
    val classes = classTot.keySet
    got.foreach(g => assert(classes.contains(g._2)))
  }

  test("ml17 PSI equals a local floor-nano recompute and is non-negative") {
    import org.apache.spark.sql.functions._
    val rows = graft.core.Tables.orders(spark, sfDir).select(
        col("o_orderpriority"),
        expr("cast(round(o_totalprice * 100) as bigint) div 100000"),
        when(year(col("o_orderdate").cast("date")) <= 1995, "a").otherwise("b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val expect = rows.groupBy(_._1).map { case (prio, xs) =>
      val byB = xs.groupBy(_._2).map { case (b, g) =>
        b -> ((g.count(_._3 == "a").toLong, g.count(_._3 == "b").toLong))
      }
      val (ta, tb) = (byB.values.map(_._1).sum, byB.values.map(_._2).sum)
      val nanos = byB.values.map { case (ca, cb) =>
        if (ca > 0 && cb > 0) {
          val p = ca.toDouble / ta.toDouble; val q = cb.toDouble / tb.toDouble
          Some(math.floor((p - q) * math.log(p / q) * 1.0e9).toLong)
        } else None
      }
      (prio, byB.size.toLong, nanos.count(_.isEmpty).toLong,
       nanos.flatten.sum)
    }.toSet
    val got = Predict.psiDrift(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect)
    got.foreach(g => assert(g._4 >= 0L, s"${g._1} psi negative"))
  }

  test("ml18 KS statistic equals a local exact CDF-gap maximum") {
    import org.apache.spark.sql.functions._
    val rows = graft.core.Tables.orders(spark, sfDir).select(
        expr("cast(round(o_totalprice * 100) as bigint) div 100000"),
        when(year(col("o_orderdate").cast("date")) <= 1995, 1L).otherwise(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val grid = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, xs) => (b, xs.map(_._2).sum, xs.count(_._2 == 0L).toLong) }
    val (ta, tb) = (grid.map(_._2).sum, grid.map(_._3).sum)
    var (cuma, cumb) = (0L, 0L)
    val dNum = grid.map { case (_, ca, cb) =>
      cuma += ca; cumb += cb; math.abs(cuma * tb - cumb * ta)
    }.max
    val row = Predict.ksTest(spark, sfDir).collect().head
    assert(row.getLong(0) == ta && row.getLong(1) == tb)
    assert(row.getLong(2) == dNum)
    assert(row.getLong(3) == dNum * 1000000L / (ta * tb))
    assert(row.getLong(3) <= 1000000L)
  }

  test("ml16 chi-square cells match a local contingency recompute; margins add up") {
    val rows = graft.core.Tables.lineitem(spark, sfDir).select(
        col("l_returnflag"), expr("(cast(l_quantity as bigint) - 1) div 10"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val o = rows.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val rT = rows.groupBy(_._1).map { case (k, xs) => k -> xs.length.toLong }
    val cT = rows.groupBy(_._2).map { case (k, xs) => k -> xs.length.toLong }
    val t = rows.length.toLong
    val got = Predict.chi2Contingency(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
                ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
                  r.getLong(6), r.getDouble(7)))).toMap
    assert(got.keySet == o.keySet)
    got.foreach { case ((f, b), (oo, rr, cc, tt, delta, chi2)) =>
      assert(oo == o((f, b)) && rr == rT(f) && cc == cT(b) && tt == t)
      assert(delta == oo * tt - rr * cc)
      val expect = (delta.toDouble * delta.toDouble) / (rr * cc * tt).toDouble
      assert(math.abs(chi2 - expect) < 1e-6, s"($f,$b) chi2 $chi2 vs $expect")
    }
    // margins must reproduce the grand total
    assert(rT.values.sum == t && cT.values.sum == t)
  }

  test("ml15 AUC: grid identity equals brute-force pair counting") {
    val rows = graft.core.Tables.lineitem(spark, sfDir).select(
        expr("cast(round(l_extendedprice * 100) as bigint) div 1000"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // brute force 2U over all pos/neg pairs (fixture scale only)
    val pos = rows.filter(_._2 == 1L).map(_._1)
    val neg = rows.filter(_._2 == 0L).map(_._1)
    var u2 = 0L
    pos.foreach { p => neg.foreach { n =>
      if (p > n) u2 += 2L else if (p == n) u2 += 1L } }
    val row = Predict.aucEval(spark, sfDir).collect().head
    assert(row.getLong(0) == pos.length.toLong)
    assert(row.getLong(1) == neg.length.toLong)
    assert(row.getLong(2) == u2, s"u2 ${row.getLong(2)} vs brute $u2")
    assert(row.getLong(3) == u2 * 500000L / (pos.length.toLong * neg.length),
      "ppm mismatch")
    assert(row.getLong(3) >= 0L && row.getLong(3) <= 1000000L)
  }

  test("ml14 stump sweep equals a local histogram recompute; the flagged split is optimal") {
    val rows = graft.core.Tables.lineitem(spark, sfDir).select(
        col("l_quantity").cast("long"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val hist = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (x, xs) => (x, xs.length.toLong, xs.map(_._2).sum) }
    val (nt, pt) = (rows.length.toLong, rows.map(_._2).sum)
    var (nl, pl) = (0L, 0L)
    val sweep = hist.map { case (x, n, np) =>
      nl += n; pl += np
      val (nr, pr) = (nt - nl, pt - pl)
      (x, nl, pl, nr, pr, math.min(pl, nl - pl) + math.min(pr, nr - pr))
    }
    val bestThr = sweep.minBy(s => (s._6, s._1))._1
    val expect = sweep.map(s =>
      (s._1, s._2, s._3, s._4, s._5, s._6, if (s._1 == bestThr) 1L else 0L)).sorted
    val got = Predict.stumpTrain(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5), r.getLong(6))).toSeq.sorted
    assert(got == expect)
    assert(got.map(_._7).sum == 1L, "exactly one flagged split")
    // the stump can never be worse than predicting the majority class
    val baseline = math.min(pt, nt - pt)
    assert(got.filter(_._7 == 1L).head._6 <= baseline)
  }
}
