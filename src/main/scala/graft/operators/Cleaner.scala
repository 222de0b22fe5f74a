package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{ArrayOps, XHash}

/** The reference's clean stage end-to-end (clean/cleaner.py:533-882 +
  * split 1375-1419), as one lazy DataFrame pipeline over the array-typed
  * reaction table. Config mirrors the CLI knobs 1:1 (SURVEY.md §7.1);
  * validation reproduces cleaner.py:1288-1300.
  *
  * Execution shape (vs the reference's fully-materialized pandas steps):
  * C2–C8 fuse into a single scan under whole-stage codegen; the only
  * shuffles are the dedup key exchange (C13), the value-counts aggregate
  * (C9) and the leakage-move window (C20), one exchange each. The
  * deduplicated table is a lazy local checkpoint, so the C9–C11
  * frequent-set collect and every later write read its blocks instead of
  * re-running scan → C8 → dedup. A local checkpoint is not fault tolerant:
  * on a cluster, losing an executor that holds its blocks fails the job.
  */
final case class CleanConfig(
    numReactant: Int = 5,
    numProduct: Int = 5,
    numAgent: Int = 5,
    numCat: Int = 0,
    numReag: Int = 0,
    numSolv: Int = 2,
    consistentYield: Boolean = true,
    minFrequencyOfOccurrence: Long = 100,
    mapRareMoleculesToOther: Boolean = false,
    moleculesToRemove: Seq[String] = Nil,
    badNameMode: CleanOps.BadNameMode = CleanOps.NullifyIfMapped,
    scramble: Boolean = true,
    trainSize: Double = 0.9,
    seed: String = "12345") {
  require(trainSize >= 0 && trainSize <= 1, "trainSize in [0,1]")
}

object Cleaner {

  private val conditionCols = Seq("agents", "reagents", "solvents", "catalysts")

  private def presentConditionCols(df: DataFrame): Seq[String] =
    conditionCols.filter(df.columns.contains)

  private def componentCols(df: DataFrame): Seq[String] =
    (Seq("reactants", "products") ++ presentConditionCols(df))

  /** Dedup key: all component lists plus (optionally) yields, like the
    * reference's subset columns (clean/cleaner.py:767-794). */
  private def dedupKey(df: DataFrame): Column = {
    // Null-safe, collision-free serialization: elements are joined with an
    // \u0002 separator (never present in SMILES/yield text) and nulls map to
    // an \u0003 sentinel BEFORE the join — concat_ws silently drops nulls,
    // which would otherwise collide ["50", null] with [null, "50"].
    def part(c: Column): Column =
      concat_ws("\u0002", transform(c, x => coalesce(x, lit("\u0003"))))
    md5(concat_ws("\u0001",
      componentCols(df).map(c => part(col(c))) :+
        part(col("yields").cast("array<string>")): _*))
  }

  /** C12+C13 — keep-first dedup on [[dedupKey]], the kept row chosen by a
    * seeded hash of `original_index` (clean/cleaner.py:767-804). */
  private def dedup(df: DataFrame, cfg: CleanConfig): DataFrame =
    Relational.dedupKeepFirst(
      df.withColumn("__dk", dedupKey(df)),
      Seq("__dk"),
      Seq(XHash.bucketHash(cfg.seed, col("original_index").cast("string"))))
      .drop("__dk")

  /** The full operator chain C2→C18 in reference order
    * (clean/cleaner.py:533-882). */
  def clean(dfIn: DataFrame, cfg: CleanConfig): DataFrame = {
    var df = dfIn
    val conds = presentConditionCols(df)

    // C2 — unresolved molecule names
    if (cfg.moleculesToRemove.nonEmpty)
      df = CleanOps.handleBadNames(df, componentCols(df), cfg.moleculesToRemove,
        cfg.badNameMode)

    // C3 — catalyst→reagent overflow (only with separate catalysts/reagents)
    if (df.columns.contains("catalysts") && df.columns.contains("reagents")
      && cfg.numCat > 0)
      df = CleanOps.renameCatalystOverflow(df, cfg.numCat)

    // C4 — width trims (row-filter semantics on arrays)
    df = CleanOps.trimComponents(df, "reactants", cfg.numReactant)
    df = CleanOps.trimComponents(df, "products", cfg.numProduct)
    if (df.columns.contains("agents"))
      df = CleanOps.trimComponents(df, "agents", cfg.numAgent)
    if (df.columns.contains("solvents"))
      df = CleanOps.trimComponents(df, "solvents", cfg.numSolv)
    if (df.columns.contains("catalysts"))
      df = CleanOps.trimComponents(df, "catalysts", cfg.numCat)
    if (df.columns.contains("reagents"))
      df = CleanOps.trimComponents(df, "reagents", cfg.numReag)

    // C5 — non-empty reactants and products
    df = CleanOps.requireNonEmpty(df, "reactants")
    df = CleanOps.requireNonEmpty(df, "products")
    // C6 — at least one condition component
    df = CleanOps.requireAnyCondition(df, conds)
    // C7 — reactants != products
    df = CleanOps.dropNoopReactions(df)
    // C8 — yield consistency
    if (cfg.consistentYield) df = CleanOps.filterYieldConsistent(df, "yields")

    // C12+C13 — seeded-shuffle keep-first dedup (drop a *random* duplicate).
    // The C9–C11 frequent-set collect and then each output write read this
    // table; the first of them fills the checkpoint and the rest reuse it.
    df = dedup(df, cfg).localCheckpoint(eager = false)

    // C9/C10/C11 — rare molecules across condition columns
    if (cfg.minFrequencyOfOccurrence > 0) {
      df =
        if (cfg.mapRareMoleculesToOther)
          // C13 again: mapping rare values to "other" can make two rows equal
          dedup(CleanOps.mapRareToOtherArrays(df, conds, cfg.minFrequencyOfOccurrence),
            cfg)
        else
          // only deletes rows, so no duplicate key can appear
          CleanOps.removeRareRowsArrays(df, conds, cfg.minFrequencyOfOccurrence)
    }

    // C15 — per-row scramble (agents keep metal-first order, products
    // co-permute yields: clean/cleaner.py:471-509)
    if (cfg.scramble) {
      Seq("reactants", "reagents", "solvents", "catalysts")
        .filter(df.columns.contains).foreach { c =>
          df = df.withColumn(c, ArrayOps.scramble(col(c), cfg.seed + c,
            col("original_index").cast("string")))
        }
      val zipped = zip_with(col("products"), col("yields"),
        (p, y) => struct(p.as("p"), y.as("y")))
      val keyed = transform(zipped, (z, i) => struct(
        md5(concat_ws("\u0001", lit(cfg.seed + "products"),
          col("original_index").cast("string"), z.getField("p"), i)).as("h"),
        z.as("z")))
      val perm = transform(array_sort(keyed), s => s.getField("z"))
      df = df
        .withColumn("products", transform(perm, z => z.getField("p")))
        .withColumn("yields", transform(perm, z => z.getField("y")))
    }

    // C18 — canonical column order
    df.select(col("original_index") +:
      df.columns.filterNot(_ == "original_index").sorted.map(col): _*)
  }

  /** C19 + C20 — seeded split plus leakage move. Returns (train, test);
    * the reaction hash is the `.`-joined sorted reactants+products
    * (clean/cleaner.py:885-945). */
  def splitWithLeakageMove(df: DataFrame, cfg: CleanConfig): (DataFrame, DataFrame) = {
    val bucket = XHash.bucket(cfg.seed + "split", 100,
      col("original_index").cast("string"))
    val rxnHash = md5(concat_ws(".",
      array_sort(concat(col("reactants"), col("products")))))
    Relational.leakageMove(df, bucket < (cfg.trainSize * 100).toInt, rxnHash)
  }
}
