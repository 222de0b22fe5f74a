package pipebench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.{Extract, ExtractConfig, IdentityChemistry, OrdSource}
import graft.operators.{CleanConfig, Cleaner, Features, Fingerprints, ReactionTable}

/** The paper's stage chain, called through each layer's public functions.
  * Every call and every output write runs inside a span when a [[Tracer]]
  * is given; without one the calls are made bare. */
final class Pipeline(spark: SparkSession, work: Path) {
  val corpusDir: Path = work.resolve("corpus")
  val wideDir: Path = work.resolve("wide")
  val trainDir: Path = work.resolve("train")
  val testDir: Path = work.resolve("test")
  val fpDirs: Seq[Path] = Seq(work.resolve("fp_train"), work.resolve("fp_test"))

  val extractCfg: ExtractConfig = ExtractConfig()
  /** The ORDerly-condition cleaning flags (the paper's default dataset). */
  val cleanCfg: CleanConfig = CleanConfig(
    numReactant = 2, numProduct = 1, numAgent = 3, numCat = 0, numReag = 0,
    numSolv = 2, consistentYield = false, minFrequencyOfOccurrence = 100,
    mapRareMoleculesToOther = false, scramble = true, trainSize = 0.9)
  /** Wide-sink widths: each longer than any list [[CorpusGen]] makes,
    * which the output check confirms on every run. */
  val widths: Map[String, Int] = Map("reactants" -> 4, "agents" -> 8,
    "solvents" -> 4, "products" -> 4, "yields" -> 4)
  val fpBits = 2048
  val heads: Seq[String] =
    Seq("solvent_1", "solvent_2", "agent_1", "agent_2", "agent_3")

  private var tracer: Option[Tracer] = None
  def traced[T](t: Option[Tracer])(body: => T): T = {
    tracer = t
    try body finally tracer = None
  }
  private def at[T](layer: String, kind: String)(body: => T): T =
    tracer.fold(body)(_.span(layer, kind)(body))

  private def parquet(df: DataFrame, dir: Path): Unit =
    df.write.mode("overwrite").parquet(dir.toString)
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** OrdSource + Extract → wide Parquet, one directory per source file. */
  def extract(): Unit = {
    val nested = at("OrdSource", "call")(OrdSource.readNested(spark, corpusDir.toString))
    val ex = at("Extract", "call")(Extract.extractReactions(nested, extractCfg,
      IdentityChemistry, CorpusGen.solvents))
    at("Extract", "sink")(Extract.toWideSink(ex, widths).write.mode("overwrite")
      .partitionBy("extracted_from_file").parquet(wideDir.toString))
  }

  /** ReactionTable → Cleaner → Split → train/test Parquet. */
  def cleanSplit(): Unit = {
    val table = at("ReactionTable", "call")(ReactionTable.load(spark, wideDir.toString))
    val cleaned = at("Cleaner", "call")(Cleaner.clean(table, cleanCfg))
    val (train, test) = at("Split", "call")(Cleaner.splitWithLeakageMove(cleaned, cleanCfg))
    at("Split", "sink")(parquet(train, trainDir))
    at("Split", "sink")(parquet(test, testDir))
  }
  /** Number of output writes in [[cleanSplit]]; each one recomputes the
    * whole clean plan. */
  val splitSinks = 2

  /** Fingerprints of both splits at [[fpBits]] bits. */
  def fingerprints(): Unit =
    Seq(trainDir, testDir).zip(fpDirs).foreach { case (in, out) =>
      val fp = at("Fingerprints", "call")(
        Fingerprints.reactionFingerprintsDense(spark.read.parquet(in.toString), fpBits))
      at("Fingerprints", "sink")(parquet(fp.toDF(), out))
    }

  def withHeads(df: DataFrame): DataFrame = heads.foldLeft(df) { (d, h) =>
    val Array(family, i) = h.split('_')
    d.withColumn(h, try_element_at(col(s"${family}s"), lit(i.toInt)))
  }

  /** The frequency baseline: top-3 accuracy over the five condition heads.
    * Returns (matched, total). */
  def features(): (Long, Long) = at("Features", "call") {
    val r: Row = Features.beamAccuracyN(
      withHeads(spark.read.parquet(trainDir.toString)),
      withHeads(spark.read.parquet(testDir.toString)), heads, 3).collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** The upstream part of each fused job, written alone to `noop`, so the
    * downstream layer's self time is the difference (traced runs only).
    * Calls that only prepare a probe run in `aux` spans, which no layer is
    * charged for. */
  def probeExtract(): Unit =
    at("OrdSource", "probe")(noop(OrdSource.readNested(spark, corpusDir.toString)))

  def probeClean(): Unit = {
    val table = at("ReactionTable", "aux")(ReactionTable.load(spark, wideDir.toString))
    at("ReactionTable", "probe")(noop(table))
    val cleaned = at("Cleaner", "aux")(Cleaner.clean(table, cleanCfg))
    at("Cleaner", "probe")(noop(cleaned))
  }
}
