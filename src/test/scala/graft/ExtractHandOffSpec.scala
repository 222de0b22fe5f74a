package graft

import graft.cli.ExtractMain
import graft.operators.ReactionTable

/** The CLI hand-off: what `ExtractMain` writes is what `CleanMain`'s
  * [[ReactionTable.load]] reads, with every list intact. */
class ExtractHandOffSpec extends SparkSpec {
  import spark.implicits._

  test("ExtractMain's write loads back with every row's lists") {
    val rows = Seq(
      ("ord_a", "r1", Seq("CCO", "O", "CC", "N", "Cl"), Seq("[Na+]"), Seq("O"),
        Seq("CCOC"), Seq(Option(81.5))),
      ("ord_a", "r2", Seq("c1ccccc1"), Seq.empty[String], Seq("CO", "O"),
        Seq("c1ccccc1Br", "Br"), Seq(Option(40.0), Option.empty[Double])),
      ("ord_b", "r3", Seq("C=O", "N"), Seq("[Pd]", "[Cu]", "[K+]"), Seq.empty[String],
        Seq("CN"), Seq(Option.empty[Double])))
    val extracted = rows.toDF("extracted_from_file", "rxn_str", "reactants", "agents",
      "solvents", "products", "yields")
    val out = java.nio.file.Files.createTempDirectory("graft_handoff_").toString
    ExtractMain.writeExtracted(extracted, out)
    val loaded = ReactionTable.load(spark, s"$out/extracted_ords")
      .select("extracted_from_file", "rxn_str", "reactants", "agents", "solvents",
        "products", "yields")
      .as[(String, String, Seq[String], Seq[String], Seq[String], Seq[String],
        Seq[Option[Double]])]
      .collect().toSet
    assert(loaded == rows.toSet)
  }
}
