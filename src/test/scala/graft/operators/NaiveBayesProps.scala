package graft.operators

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.SparkSpec

/** ScalaCheck: the distributed Naive Bayes (broadcast bits table +
  * one keyed combine) reproduces a sequential driver-side reference —
  * same top-K vocabulary cut, same floor-log₂ quantization, same
  * (bits, label) tie-break — on random corpora whose vocabulary
  * EXCEEDS the prune cut (so the OOV-drop and unseen-in-class paths
  * execute), any partitioning. Documents with zero in-vocab tokens
  * fall back to the prior argmin.
  */
object NaiveBayesProps extends Properties("NaiveBayes") {
  private lazy val spark = SparkSpec.session
  import spark.implicits._

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(15)

  private val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
  private val corpusGen: Gen[(List[(Long, String, String)],
      List[(Long, String)])] = for {
    train <- Gen.nonEmptyListOf(for {
      label <- Gen.oneOf("x", "y", "z")
      toks <- Gen.nonEmptyListOf(Gen.oneOf(words))
    } yield (label, toks.mkString(" ")))
    score <- Gen.nonEmptyListOf(
      Gen.nonEmptyListOf(Gen.oneOf(words)).map(_.mkString(" ")))
  } yield (
    train.zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) },
    score.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  private def flog2(v: Long): Long = {
    require(v > 0)
    63 - java.lang.Long.numberOfLeadingZeros(v)
  }

  /** Sequential reference: same model, same quantization, same ties. */
  private def reference(train: List[(Long, String, String)],
      score: List[(Long, String)], vocabK: Int)
      : Map[Long, (String, Long, Long)] = {
    val toks = train.flatMap { case (_, l, t) =>
      t.split("\\s+").toList.map(w => (l, w))
    }
    val wc = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val totals = toks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val vocab = totals.toSeq.sortBy { case (w, c) => (-c, w) }
      .take(vocabK).map(_._1).toSet
    val v = vocab.size.toLong
    val nDocs = train.size.toLong
    val labels = train.map(_._2).distinct.sorted
    val nDocsC = train.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nC = labels.map { l =>
      l -> vocab.toSeq.map(w => wc.getOrElse((l, w), 0L)).sum
    }.toMap
    score.map { case (id, text) =>
      val ts = text.split("\\s+").toList.filter(vocab)
      val scored = labels.map { l =>
        val prior = flog2(nDocs) - flog2(nDocsC(l))
        val bits = prior + ts.map(w =>
          flog2(nC(l) + v) - flog2(wc.getOrElse((l, w), 0L) + 1L)).sum
        (l, bits, ts.size.toLong)
      }
      id -> scored.minBy { case (l, b, _) => (b, l) }
    }.toMap
  }

  property("predict == sequential reference (vocab cut binds, " +
      "OOV drops, prior-only fallback)") =
    forAll(corpusGen) { case (train, score) =>
      val vocabK = 3 // < 7 distinct words: the cut always binds
      val model = NaiveBayes.train(
        train.toDF("doc_id", "lang", "text").repartition(4),
        "lang", org.apache.spark.sql.functions.col("text"), vocabK)
      val got = NaiveBayes.predict(
          score.toDF("doc_id", "text").repartition(3),
          Seq("doc_id"), org.apache.spark.sql.functions.col("text"),
          model)
        .as[(Long, String, Long, Long)].collect()
        .map { case (id, pred, bits, nTok) => id -> (pred, bits, nTok) }
        .toMap
      got == reference(train, score, vocabK)
    }

  property("all-OOV document still predicted (prior argmin)") = {
    val model = NaiveBayes.train(
      List((0L, "x", "aa aa bb"), (1L, "y", "cc")).toDF(
        "doc_id", "lang", "text"),
      "lang", org.apache.spark.sql.functions.col("text"), 3)
    val out = NaiveBayes.predict(
        List((9L, "zz zz")).toDF("doc_id", "text"), Seq("doc_id"),
        org.apache.spark.sql.functions.col("text"), model)
      .as[(Long, String, Long, Long)].collect()
    // priors: x has 2 of 3 docs? no — 1 of 2 each: flog2(2)-flog2(1)=1
    // for both; tie breaks to the smaller label "x"; n_tok = 0
    out.toList == List((9L, "x", 1L, 0L))
  }

  property("empty labeled corpus trains an empty model (no NPE on " +
      "the doc-count fold)") = {
    val model = NaiveBayes.train(
      List.empty[(Long, String, String)].toDF("doc_id", "lang", "text"),
      "lang", org.apache.spark.sql.functions.col("text"), 3)
    model.bits.count() == 0L && model.classes.count() == 0L
  }
}
