package graft.tools

/** Regenerates the checked-in BPE fixture vocabulary
  * ([[graft.functions.BpeFixture]]) from a corpus directory:
  *
  *   sbt "runMain graft.tools.BpeTrainMain /root/testdata/sf0.01 256 400"
  *
  * prints one Scala string literal per vocab entry. The fixture is a
  * PRETRAINED vocabulary by design — production pipelines budget
  * tokens under a FIXED tokenizer (retraining per corpus would change
  * the unit mid-accounting), and a fixed vocab is what lets the DuckDB
  * oracle replay the encoding exactly. */
object BpeTrainMain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val numMerges = if (args.length > 1) args(1).toInt else 256
    val sampleDocs = if (args.length > 2) args(2).toInt else 400
    val spark = graft.GraftSession(appName = "graft-bpe-train")
    val vocab = graft.functions.Bpe.trainOnSample(
      graft.Tables.documents(spark, dir), "doc_id", "text",
      numMerges, sampleDocs)
    println(s"// trained: $dir sample=$sampleDocs merges=$numMerges")
    vocab.foreach { v =>
      val esc = v.replace("\\", "\\\\").replace("\"", "\\\"")
      println("    \"" + esc + "\",")
    }
    spark.stop()
  }
}
