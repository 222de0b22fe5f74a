package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.extract.Chemistry
import graft.plans.Md5Bucket60

/** F1/F2 — the gen_fp stage (gen_fp/fingerprints.py:37-99): per-molecule
  * fingerprints and the reaction-difference feature matrix.
  *
  * Reference shape: numpy vstack of the whole dataset in RAM. Spark shape:
  * a narrow projection producing `array<int>` columns written to parquet —
  * no driver materialization, linear scan, scales to any row count. The
  * fingerprint kernel itself is pluggable [[Chemistry]] (RDKit Morgan in a
  * real deployment, stable-hash stand-in for engine tests).
  */
object Fingerprints {

  /** F2 — elementwise difference fingerprint:
    * product_fp − reactant0_fp − reactant1_fp (fingerprints.py:58-74). */
  def diffFp(product: Column, r0: Column, r1: Column): Column =
    zip_with(zip_with(product, r0, (a, b) => a - b), r1, (a, b) => a - b)

  /** Scatter-style dense fingerprint for large bit widths: the expression
    * formulation is O(nBits·len) per molecule (a membership probe per
    * bit), fine at spec widths but quadratic-feeling at the reference's
    * 2048 bits. This typed mapPartitions kernel allocates one int array
    * per row and scatters 3-gram bucket hits — O(len + nBits), matching
    * [[IdentityChemistry.fingerprint]] bit-for-bit (spec-locked).
    */
  final case class FpRow(original_index: Long, fp: Seq[Int])

  private val fpSeed = "fpb".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** The one scatter kernel both dense paths share — any fix here keeps
    * them bit-identical by construction. Null → zero vector. Each 3-gram
    * is `bucketHash("fpb", gram)`, hashed straight from its UTF-8 bytes. */
  private def fpOf(s: String, nBits: Int): Array[Int] = {
    val fp = new Array[Int](nBits)
    if (s != null) {
      val n = math.max(s.length - 2, 1)
      var i = 0
      while (i < n) {
        val gram = UTF8String.fromString(s.substring(i, math.min(i + 3, s.length)))
        val b = (Md5Bucket60.computeSeeded(fpSeed, gram) % nBits).toInt
        fp(b) = 1
        i += 1
      }
    }
    fp
  }

  def denseFingerprints(df: DataFrame, smiles: Column, nBits: Int)
      : org.apache.spark.sql.Dataset[FpRow] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[FpRow]
    df.select(col("original_index").cast("long"), smiles.cast("string"))
      .mapPartitions { rows =>
        rows.map { r =>
          val s = if (r.isNullAt(1)) null else r.getString(1)
          FpRow(r.getLong(0), fpOf(s, nBits).toSeq)
        }
      }
  }

  /** Scatter-style [[reactionFingerprints]]: computes all three molecule
    * fingerprints and the difference feature in one typed pass —
    * O(len + nBits) per row vs the expression kernel's O(nBits·len)
    * membership probes, which is what makes the reference's default 2048
    * bits practical (fp_size, run.py:332-341). Bit-for-bit equal to
    * `reactionFingerprints(df, IdentityChemistry, nBits)` (spec-locked).
    */
  def reactionFingerprintsDense(df: DataFrame, nBits: Int)
      : org.apache.spark.sql.Dataset[FpRow] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[FpRow]
    df.select(col("original_index").cast("long"),
        try_element_at(col("products"), lit(1)).cast("string"),
        try_element_at(col("reactants"), lit(1)).cast("string"),
        try_element_at(col("reactants"), lit(2)).cast("string"))
      .mapPartitions { rows =>
        rows.map { r =>
          val p = fpOf(if (r.isNullAt(1)) null else r.getString(1), nBits)
          val r0 = fpOf(if (r.isNullAt(2)) null else r.getString(2), nBits)
          val r1 = fpOf(if (r.isNullAt(3)) null else r.getString(3), nBits)
          val out = new Array[Int](2 * nBits)
          var i = 0
          while (i < nBits) {
            out(i) = p(i)
            out(nBits + i) = p(i) - r0(i) - r1(i)
            i += 1
          }
          FpRow(r.getLong(0), out.toSeq)
        }
      }
  }

  /** The gen_fp output: concat(product_fp, diff_fp) per reaction over
    * (product_000, reactant_000, reactant_001), null molecules → zero
    * vector (fingerprints.py:46-54, 76-99). */
  def reactionFingerprints(df: DataFrame, chem: Chemistry, nBits: Int): DataFrame = {
    def fpOrZero(c: Column): Column =
      when(c.isNotNull, chem.fingerprint(c, nBits))
        .otherwise(array_repeat(lit(0), nBits))
    val p = fpOrZero(try_element_at(col("products"), lit(1)))
    val r0 = fpOrZero(try_element_at(col("reactants"), lit(1)))
    val r1 = fpOrZero(try_element_at(col("reactants"), lit(2)))
    df.select(
      col("original_index"),
      concat(p, diffFp(p, r0, r1)).as("fp"))
  }
}
