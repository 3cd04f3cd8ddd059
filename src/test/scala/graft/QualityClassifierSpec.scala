package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The learned quality-classifier family (t23 closed-form scorer +
  * ml09 spark.ml LogisticRegression twin): teacher-label construction,
  * split hygiene, the held-out separation the driver bands assert
  * (constant-TRUE oracles — TRUE is earned here), and the exact
  * integer determinism of the t23 scorer.
  */
class QualityClassifierSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val out = Text.qualityClassifier(spark, sfDir)
    .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      r.getInt(3), r.getInt(4)))

  /** Mann-Whitney AUC with average ranks for ties. */
  private def auc(scored: Seq[(Long, Int)]): Double = {
    val sorted = scored.sortBy(_._1)
    val pos = sorted.count(_._2 == 1)
    val neg = sorted.size - pos
    var i = 0
    var posRanks = 0.0
    while (i < sorted.size) {
      var j = i
      while (j < sorted.size && sorted(j)._1 == sorted(i)._1) j += 1
      val avgRank = (i + j + 1) / 2.0
      posRanks += avgRank * (i until j).count(k => sorted(k)._2 == 1)
      i = j
    }
    (posRanks - pos * (pos + 1) / 2.0) / (pos.toDouble * neg)
  }

  test("teacher labels are a balanced median split") {
    val y = Text.qcLabels(spark, sfDir).collect().map(_.getInt(1))
    val pos = y.count(_ == 1)
    // median split: both classes within [25%, 75%] of the corpus at
    // any scale (ties at the median can skew it off exactly half)
    assert(pos >= y.length / 4 && pos <= 3 * y.length / 4,
      s"teacher degenerated: $pos/${y.length} positive")
  }

  test("t23: one row per doc, held-out fifth, preds are score signs") {
    assert(out.length ===
      Tables.documents(spark, sfDir).count().toInt)
    // ids 0..n-1 with id % folds == 0 number ceil(n / folds)
    assert(out.count(_._5 == 1) ===
      (out.length + Text.qcFolds - 1) / Text.qcFolds)
    out.foreach { case (did, y, s8, pred, held) =>
      assert(pred === (if (s8 > 0) 1 else 0))
      assert(held === (if (did % Text.qcFolds == 0) 1 else 0))
      assert(y == 0 || y == 1)
    }
  }

  test("t23: held-out AUC and accuracy back the driver bands") {
    val held = out.filter(_._5 == 1)
    val a = auc(held.map(h => (h._3, h._2)).toSeq)
    val acc = held.count(h => h._4 == h._2).toDouble / held.length
    info(f"t23 held-out auc=$a%.3f acc=$acc%.3f n=${held.length}")
    assert(a >= 0.85, f"t23 held-out AUC $a%.3f under the 0.85 band")
    assert(acc >= 0.55, f"t23 held-out accuracy $acc%.3f under 0.55")
  }

  test("t23 is deterministic across invocations") {
    val again = Text.qualityClassifier(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(again.toSeq === out.map(r => (r._1, r._3)).toSeq)
  }

  test("ml09: LR twin's held-out metrics clear the driver bands") {
    val (a, acc, n) = MlQueries.qcLrMetrics(spark, sfDir)
    info(f"ml09 auc=$a%.3f acc=$acc%.3f n=$n")
    assert(n > 0)
    assert(a >= 0.85 && a <= 1.0, f"ml09 AUC $a%.3f outside [0.85, 1]")
    assert(acc >= 0.55 && acc <= 1.0, f"ml09 accuracy $acc%.3f outside bands")
    val bands = MlQueries.qualityClassifierLr(spark, sfDir).collect()(0)
    assert((0 until 4).forall(bands.getBoolean), s"driver bands: $bands")
  }

  test("ml10: rate-matched selections of LR twin and t23 agree held-out") {
    // the measured agreement backs the constant-TRUE driver oracle:
    // independent driver-side recomputation of the rate-matched
    // selection (each model keeps its own top-k by score, k = t23's
    // positive count) — measured 0.915/0.878/0.979 at sf0.001/.01/.1
    val lr = MlQueries.qcLrPreds(spark, sfDir)
      .select(col("doc_id"),
        org.apache.spark.ml.functions.vector_to_array(col("rawPrediction"))
          .getItem(1).as("raw"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val held = out.filter(_._5 == 1)
    assert(lr.keySet === held.map(_._1).toSet,
      "LR eval split differs from t23's held-out fifth")
    val k = held.count(_._4 == 1)
    val sel23 = held.sortBy(h => (-h._3, h._1)).take(k).map(_._1).toSet
    val selLr = held.map(h => (h._1, lr(h._1)))
      .sortBy(t => (-t._2, t._1)).take(k).map(_._1).toSet
    val agree = (sel23 & selLr).size.toDouble / math.max(k, 1)
    info(f"ml10 rate-matched selection agreement $agree%.3f at k=$k")
    assert(agree >= 0.85, f"selection agreement $agree%.3f under 0.85")
    val bands = MlQueries.qcAgreement(spark, sfDir).collect()(0)
    assert((0 until 3).forall(bands.getBoolean), s"driver bands: $bands")
  }
}
