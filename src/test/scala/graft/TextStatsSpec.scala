package graft

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** Equivalence of the per-document text metrics (field reads of one
  * [[graft.functions.TextStatsExpr]] pass) with the split / regex /
  * lambda Column forms they replaced, kept here verbatim as the reference.
  * ScalaCheck draws batches of mixed texts; each batch is compared row by
  * row in one query, under compiled (whole-stage codegen, `doGenCode`) and
  * interpreted (`eval`) evaluation.
  */
class TextStatsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** The replaced Column forms, verbatim. */
  private object Reference {
    def tokens(text: Column): Column = split(text, " ")
    def nTokens(text: Column): Column = size(tokens(text))
    def subwordTokens(text: Column): Column =
      regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))
    private val enStopwords = Seq("the", "a", "of", "and", "in", "to", "is")
    def stopwordRatio(text: Column): Column =
      size(filter(tokens(text), t => t.isInCollection(enStopwords))).cast("double") /
        nTokens(text).cast("double")
    def alphaRatio(text: Column): Column =
      (length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
        length(text).cast("double"))
    def qualityScore(text: Column): Column =
      round(
        least(nTokens(text).cast("double") / 50.0, lit(1.0)) * 0.4
          + alphaRatio(text) * 0.4
          + (lit(1.0) - least(stopwordRatio(text) * 2.0, lit(1.0))) * 0.2,
        6)
    def langScore(text: Column, markers: Seq[String]): Column =
      size(filter(tokens(text), t => t.isInCollection(markers)))
    def langId(text: Column): Column = {
      val scores = TF.langMarkers.map { case (l, m) => l -> langScore(text, m) }
      val maxAll = greatest(scores.map(_._2): _*)
      scores.foldRight(lit("und")) { case ((l, s), acc) =>
        when(s === maxAll && maxAll > 0, lit(l)).otherwise(acc)
      }
    }
  }

  private val t = col("text")

  /** (name, new form, reference form). */
  private val forms: Seq[(String, Column, Column)] = Seq(
    ("nTokens", TF.nTokens(t), Reference.nTokens(t)),
    ("nSubwords", TF.nSubwords(t), size(Reference.subwordTokens(t))),
    ("length", TF.nChars(t), length(t)),
    ("langId", TF.langId(t), Reference.langId(t)),
    ("stopwordRatio", TF.stopwordRatio(t), Reference.stopwordRatio(t)),
    ("alphaRatio", TF.alphaRatio(t), Reference.alphaRatio(t)),
    ("qualityScore", TF.qualityScore(t), Reference.qualityScore(t)))

  private val fragment: Gen[String] = Gen.frequency(
    4 -> Gen.choose(1, 8).flatMap(n => Gen.stringOfN(n, Gen.alphaChar)),
    2 -> Gen.choose(1, 4).flatMap(n => Gen.stringOfN(n, Gen.numChar)),
    3 -> Gen.oneOf(" ", "  ", "   "),
    2 -> Gen.oneOf(",", ".", "!", "-", "'", "(", ")", "#", "\t", "\n", "\r\n"),
    2 -> Gen.oneOf("é", "中", "😀", "ß", "日本", "naïve", "x😀y"),
    4 -> Gen.oneOf(TF.langMarkers.flatMap(_._2) ++ Seq("in", "to"))
      .flatMap(w => Gen.oneOf(w, w.capitalize, w.toUpperCase)))

  private val text: Gen[String] =
    Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, fragment)).map(_.mkString)

  /** A batch always carries "" and null beside the drawn texts. */
  private val batch: Gen[Seq[String]] =
    Gen.listOfN(150, text).map(ts => ts ++ Seq("", null))

  private def frame(texts: Seq[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(texts.map(Row(_)), 2),
      StructType(Seq(StructField("text", StringType, nullable = true))))

  /** Mismatch descriptions for one batch; empty when every form agrees. */
  private def mismatches(texts: Seq[String]): Seq[String] = {
    val df = frame(texts)
    val nonEmpty = df.filter(t.isNull || t =!= "")
    val rows = nonEmpty.select(t +: forms.flatMap { case (_, a, b) => Seq(a, b) }: _*)
      .collect()
    val rowDiffs = for {
      r <- rows.toSeq
      ((name, _, _), i) <- forms.zipWithIndex
      if r.get(1 + 2 * i) != r.get(2 + 2 * i)
    } yield s"$name(${Option(r.getString(0)).map(s => "\"" + s + "\"")}): " +
      s"${r.get(1 + 2 * i)} vs reference ${r.get(2 + 2 * i)}"
    // "" divides by zero in the ratios: both sides must throw, or agree
    val empty = df.filter(t === "")
    val emptyDiffs = forms.flatMap { case (name, a, b) =>
      val x = Try(empty.select(a).collect().map(_.get(0)).toSeq)
      val y = Try(empty.select(b).collect().map(_.get(0)).toSeq)
      if (x.isFailure == y.isFailure && (x.isFailure || x.get == y.get)) None
      else Some(s"""$name(""): $x vs reference $y""")
    }
    rowDiffs ++ emptyDiffs
  }

  private def withCodegen[A](wholeStage: Boolean, factoryMode: String)(body: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), wholeStage.toString)
    spark.conf.set(keys(1), factoryMode)
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def checkEquivalence(): Unit = {
    var firstFailure = Seq.empty[String]
    // no shrinking: every shrink step would be another Spark job; the
    // first failing batch's mismatches are reported instead
    val prop = Prop.forAllNoShrink(batch) { texts =>
      val diffs = mismatches(texts)
      if (diffs.nonEmpty && firstFailure.isEmpty) firstFailure = diffs.take(10)
      diffs.isEmpty
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(Seed(20261018L))
        .withWorkers(1),
      prop)
    assert(result.passed,
      if (firstFailure.nonEmpty) firstFailure.mkString("\n") else result.status.toString)
  }

  test("text stats equal the split/regex/lambda forms under whole-stage codegen") {
    withCodegen(wholeStage = true, "CODEGEN_ONLY") {
      val plan = frame(Seq("a b")).select(TF.qualityScore(t))
        .queryExecution.executedPlan.toString
      assert(plan.contains("*(") && plan.contains("text_stats"), plan)
      checkEquivalence()
    }
  }

  test("text stats equal the split/regex/lambda forms under interpreted evaluation") {
    withCodegen(wholeStage = false, "NO_CODEGEN") {
      val plan = frame(Seq("a b")).select(TF.qualityScore(t))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("*(") && plan.contains("text_stats"), plan)
      checkEquivalence()
    }
  }

  test("null text yields null counts on both sides") {
    val r = frame(Seq(null)).select(TF.nTokens(t), Reference.nTokens(t),
      TF.nSubwords(t), TF.langId(t), Reference.langId(t)).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2), r)
    assert(r.get(3) == r.get(4), r)
  }
}
