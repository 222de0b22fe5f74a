package pipebench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.OrdSource
import graft.functions.XHash
import graft.operators.{Cleaner, ReactionTable}

/** Output checks against the generator's ground truth, run once per run on
  * the last timed iteration's outputs (every iteration writes the same
  * outputs), plus the row counts the per-layer metrics report
  * (`layerRows`: the counts only a traced run needs). */
final class Checks(spark: SparkSession, p: Pipeline) {
  val errors = mutable.ArrayBuffer[String]()
  val rows = mutable.LinkedHashMap[String, Long]()
  val digests = mutable.LinkedHashMap[String, String]()

  private def expect(ok: Boolean, msg: => String): Unit = if (!ok) errors += msg
  private def read(dir: java.nio.file.Path): DataFrame = spark.read.parquet(dir.toString)

  /** Order-independent digest: row count and the exact sum of each row's
    * 64-bit hash over every column. */
  private def digest(name: String, df: DataFrame): Unit = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))).head()
    digests(name) = s"rows=${r.getLong(0)} hashsum=${r.get(1)}"
  }

  /** Extracted rows equal generated rows, file by file, and no row fills
    * the last column of a list, so no list was cut to the sink's width. */
  def wide(corpus: Corpus, layerRows: Boolean): Unit = {
    val w = read(p.wideDir)
    val full = p.widths.keys.filter(_ != "yields").toSeq.sorted.map { c =>
      val last = col(f"${c.stripSuffix("s")}_${p.widths(c) - 1}%03d")
      when(last.isNotNull && last =!= "<missing>", 1).otherwise(0)
    }.reduce(_ + _)
    val perFile = w.groupBy("extracted_from_file").agg(count(lit(1)), sum(full)).collect()
    val counts = perFile.map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = corpus.files.map { case (n, rs) => n -> rs.size.toLong }.toMap
    expect(counts == expected, s"extracted rows per file ${counts.toSeq.sorted.take(3)}... " +
      s"differ from generated ${expected.toSeq.sorted.take(3)}...")
    val filled = perFile.map(_.getLong(2)).sum
    expect(filled == 0, s"$filled rows fill a list's last wide column; widen the sink")
    rows("Extract") = counts.values.sum
    if (layerRows)
      rows("OrdSource") = OrdSource.readNested(spark, p.corpusDir.toString).count()
    digest("wide", w)
  }

  private def sortedKey(df: DataFrame): Column = md5(concat_ws("\u0001",
    Seq("reactants", "agents", "solvents").map(c =>
      concat_ws("\u0002", array_sort(col(c)))) :+
      array_sort(arrays_zip(col("products"), col("yields"))).cast("string"): _*))

  private def rxnHash: Column =
    md5(concat_ws(".", array_sort(concat(col("reactants"), col("products")))))

  /** No dedup key repeats, train ∩ test reaction hashes are empty, and
    * train + test rows equal cleaned rows. */
  def split(layerRows: Boolean): Unit = {
    val table = ReactionTable.load(spark, p.wideDir.toString)
    if (layerRows) rows("ReactionTable") = table.count()
    rows("Cleaner") = Cleaner.clean(table, p.cleanCfg).count()
    val (train, test) = (read(p.trainDir), read(p.testDir))
    val (nTrain, nTest) = (train.count(), test.count())
    rows("Split") = nTrain + nTest
    rows("Split.test") = nTest
    expect(nTrain + nTest == rows("Cleaner"),
      s"train $nTrain + test $nTest != cleaned ${rows("Cleaner")}")
    val all = train.unionByName(test)
    val keys = all.select(sortedKey(all)).distinct().count()
    expect(keys == nTrain + nTest, s"${nTrain + nTest - keys} dedup keys repeat")
    val leaked = train.select(rxnHash.as("h")).distinct()
      .join(test.select(rxnHash.as("h")), "h").count()
    expect(leaked == 0, s"$leaked test rows share a reaction hash with train")
    // train rows whose split bucket is a test bucket came from the C20 move
    val trainPct = (p.cleanCfg.trainSize * 100).toInt
    rows("Split.moved") = train.filter(XHash.bucket(p.cleanCfg.seed + "split", 100,
      col("original_index").cast("string")) >= trainPct).count()
    digest("train", train)
    digest("test", test)
  }

  /** Each fingerprint row has 2 × fpBits entries; one row per split row. */
  def fingerprints(): Unit = {
    Seq(p.trainDir, p.testDir).zip(p.fpDirs).foreach { case (in, out) =>
      val fp = read(out)
      val r = fp.select(count(lit(1)),
        count(when(size(col("fp")) =!= 2 * p.fpBits, 1))).head()
      val n = read(in).count()
      expect(r.getLong(0) == n, s"${out.getFileName}: ${r.getLong(0)} rows for $n inputs")
      expect(r.getLong(1) == 0,
        s"${out.getFileName}: ${r.getLong(1)} rows without ${2 * p.fpBits} entries")
      rows("Fingerprints") = rows.getOrElse("Fingerprints", 0L) + r.getLong(0)
      digest(out.getFileName.toString, fp)
    }
  }

  /** The baseline scores every test row. */
  def features(result: (Long, Long)): Unit = {
    val (matched, total) = result
    expect(total == rows("Split.test"), s"features scored $total of ${rows("Split.test")} test rows")
    expect(matched >= 0 && matched <= total, s"features matched $matched of $total")
    rows("Features") = total
  }
}
