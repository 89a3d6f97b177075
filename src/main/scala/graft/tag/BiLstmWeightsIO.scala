package graft.tag

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Parquet save/load for [[BiLstmCrfScorer]] weights — the import half
  * of the "score with reference-trained weights" contract. One generic
  * tensor table `(tensor: string, row: int, values: array<float>)` holds
  * every matrix/vector; the vocab tables ride along as string-keyed
  * tensors. A TF checkpoint exports into this layout with a ~20-line
  * dump script (kernel [(in+units) x 4*units] gate order i,j,f,o; conv
  * kernel [k x emb x filters]); the engine then never needs TF.
  *
  * Precision: every tensor is stored float32 — lossless for TF-exported
  * weights (TF trains in float32), but an engine-constructed scorer's
  * double-precision CRF `transition` is quantized on save, so
  * save->load is decode-equivalent rather than bit-identical for
  * transitions carrying sub-float32-epsilon differences.
  */
object BiLstmWeightsIO {

  private def matRows(name: String, m: Array[Array[Float]]): Seq[(String, Int, Seq[Float])] =
    m.zipWithIndex.map { case (r, i) => (name, i, r.toSeq) }
  private def vecRow(name: String, v: Array[Float]): Seq[(String, Int, Seq[Float])] =
    Seq((name, 0, v.toSeq))

  def save(spark: SparkSession, scorer: BiLstmCrfScorer, path: String): Unit = {
    import spark.implicits._
    val tensors: Seq[(String, Int, Seq[Float])] =
      matRows("word_emb", scorer.wordEmb) ++
      matRows("fw_kernel", scorer.fw.kernel) ++ vecRow("fw_bias", scorer.fw.bias) ++
      matRows("bw_kernel", scorer.bw.kernel) ++ vecRow("bw_bias", scorer.bw.bias) ++
      matRows("dense", scorer.dense) ++ vecRow("dense_bias", scorer.denseBias) ++
      matRows("transition", scorer.transition.map(_.map(_.toFloat))) ++
      scorer.charCnn.toSeq.flatMap { c =>
        matRows("char_emb", c.charEmb) ++ vecRow("char_bias", c.bias) ++
          c.kernel.zipWithIndex.flatMap { case (km, k) =>
            matRows(s"char_kernel_$k", km)
          }
      } ++
      scorer.charLstm.toSeq.flatMap { c =>
        matRows("cl_emb", c.charEmb) ++
          matRows("cl_fw_kernel", c.fw.kernel) ++ vecRow("cl_fw_bias", c.fw.bias) ++
          matRows("cl_bw_kernel", c.bw.kernel) ++ vecRow("cl_bw_bias", c.bw.bias)
      }
    tensors.toDF("tensor", "row", "values")
      .repartition(1).write.mode("overwrite").parquet(s"$path/tensors")
    (scorer.vocab.toSeq.map { case (w, i) => ("word", w, i) } ++
      scorer.charCnn.toSeq.flatMap(_.charVocab.toSeq.map {
        case (c, i) => ("char", c.toString, i)
      }) ++
      scorer.charLstm.toSeq.flatMap(_.charVocab.toSeq.map {
        case (c, i) => ("clchar", c.toString, i)
      }))
      .toDF("kind", "key", "id")
      .repartition(1).write.mode("overwrite").parquet(s"$path/vocab")
  }

  def load(spark: SparkSession, path: String): BiLstmCrfScorer = {
    val tensors: Map[String, Array[Array[Float]]] =
      spark.read.parquet(s"$path/tensors").collect()
        .groupBy(_.getString(0))
        .map { case (name, rows) =>
          name -> rows.sortBy(_.getInt(1))
            .map(_.getAs[scala.collection.Seq[Float]](2).toArray)
        }
    def mat(n: String) = tensors(n)
    def vec(n: String) = tensors(n).head
    val vocabRows = spark.read.parquet(s"$path/vocab").collect()
    val wordVocab = vocabRows.filter(_.getString(0) == "word")
      .map(r => r.getString(1) -> r.getInt(2)).toMap
    val charVocab = vocabRows.filter(_.getString(0) == "char")
      .map(r => r.getString(1).charAt(0) -> r.getInt(2)).toMap
    val charCnn =
      if (!tensors.contains("char_emb")) None
      else {
        val ks = tensors.keys.filter(_.startsWith("char_kernel_")).toSeq
          .sortBy(_.stripPrefix("char_kernel_").toInt)
        Some(BiLstm.CharCnnWeights(charVocab, mat("char_emb"),
          ks.map(mat).toArray, vec("char_bias")))
      }
    val charLstm =
      if (!tensors.contains("cl_emb")) None
      else {
        val clVocab = vocabRows.filter(_.getString(0) == "clchar")
          .map(r => r.getString(1).charAt(0) -> r.getInt(2)).toMap
        Some(BiLstm.CharLstmWeights(clVocab, mat("cl_emb"),
          BiLstm.CellWeights(mat("cl_fw_kernel"), vec("cl_fw_bias")),
          BiLstm.CellWeights(mat("cl_bw_kernel"), vec("cl_bw_bias"))))
      }
    BiLstmCrfScorer(
      vocab = wordVocab,
      wordEmb = mat("word_emb"),
      charCnn = charCnn,
      fw = BiLstm.CellWeights(mat("fw_kernel"), vec("fw_bias")),
      bw = BiLstm.CellWeights(mat("bw_kernel"), vec("bw_bias")),
      dense = mat("dense"),
      denseBias = vec("dense_bias"),
      transition = mat("transition").map(_.map(_.toDouble)),
      charLstm = charLstm)
  }
}
