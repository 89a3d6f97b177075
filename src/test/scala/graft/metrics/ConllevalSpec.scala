package graft.metrics

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.corpus.RefCorpus
import graft.io.ConllCodec
import graft.tag.Hmm

/** A7: our span metric must agree with the official CoNLL Perl scorer
  * (`/root/reference/conlleval`) on real predictions.
  */
class ConllevalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val conlleval = Paths.get("/root/reference/conlleval")

  /** Serialize prediction triples `word gold pred` with a blank line per
    * sentence (models/estimator.py:151-159), the scorer's input format.
    */
  def predsText(sents: Seq[(Seq[String], Seq[String], Seq[String])]): String = {
    val sb = new StringBuilder
    sents.foreach { case (words, gold, pred) =>
      words.indices.foreach { i =>
        sb.append(words(i)).append(' ').append(gold(i)).append(' ')
          .append(pred(i)).append('\n')
      }
      sb.append('\n')
    }
    sb.toString
  }

  test("SpanMetrics agrees with the official conlleval scorer") {
    assume(Files.exists(conlleval), "conlleval not present")
    assume(new java.io.File("/usr/bin/perl").exists, "perl not present")

    val train = ConllCodec.read(spark, s"${RefCorpus.RefData}/valid").cache()
    val test = ConllCodec.read(spark, s"${RefCorpus.RefData}/test").cache()
    try {
      val model = Hmm.fit(spark, train, timeSteps = 1, useFeatures = true)

      val decoded = Hmm.predict(spark, model, test).collect()
      val triplesTxt = predsText(decoded.map { case (s, pred) =>
        (s.tkns, s.bio, pred.map(Hmm.Labels(_)): Seq[String])
      }.toSeq)

      // ours
      val counts = decoded.map { case (s, pred) =>
        SpanMetrics.sentenceCounts(pred.map(Hmm.Labels(_)), s.bio)
      }.reduce(_ + _)
      val ours = SpanMetrics.finish(counts)

      // official perl scorer
      val tmp = Files.createTempFile("preds", ".txt")
      Files.writeString(tmp, triplesTxt)
      import scala.sys.process._
      val out = (s"perl $conlleval" #< tmp.toFile).!!
      Files.delete(tmp)
      // line: "accuracy:  97.47%; precision:  82.64%; recall:  75.27%; FB1:  78.78"
      val m = """precision:\s+([\d.]+)%; recall:\s+([\d.]+)%; FB1:\s+([\d.]+)""".r
        .findFirstMatchIn(out)
      assert(m.isDefined, s"unexpected conlleval output:\n$out")
      val (p, r, f1) = (m.get.group(1).toDouble, m.get.group(2).toDouble,
        m.get.group(3).toDouble)
      info(f"conlleval: P=$p%.2f R=$r%.2f F1=$f1%.2f | " +
        f"ours: P=${ours.precision * 100}%.2f R=${ours.recall * 100}%.2f " +
        f"F1=${ours.f1 * 100}%.2f")
      assert(math.abs(p - ours.precision * 100) < 0.005 + 1e-9)
      assert(math.abs(r - ours.recall * 100) < 0.005 + 1e-9)
      assert(math.abs(f1 - ours.f1 * 100) < 0.005 + 1e-9)
    } finally { train.unpersist(); test.unpersist() }
  }
}
