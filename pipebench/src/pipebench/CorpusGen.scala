package pipebench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.extract.OrdWire._

/** The shape of a generated ORD corpus. */
final case class CorpusSpec(
    reactions: Int,
    files: Int,
    /** The first file holds this many times the reactions of each other
      * file; 1 spreads them evenly. */
    bigFileWeight: Int)

/** A generated corpus: the files written and the reactions in each. */
final case class Corpus(files: Seq[(String, Seq[OrdReaction])],
    planted: Map[String, Int]) {
  def reactions: Int = files.map(_._2.size).sum
}

/** Seeded ORD corpus generator. The same seed and spec give the same bytes.
  *
  * Molecule strings are SMILES-shaped tokens; reactants and products carry
  * an atom map (`[CH2:3]`), so mapped reaction strings go through the
  * participation logic. Agents are a head of [[commonAgents]] plus a Zipf
  * tail, so the cleaner's rare-molecule pruning has a long tail to remove;
  * solvents come from [[solvents]], which is also the extract stage's
  * solvent set. The head, the solvents and the tail are sized so that each
  * common agent and solvent occurs well over the pruning threshold and
  * every tail agent well under it: which molecules survive does not then
  * depend on the seed, and neither does the amount of work after pruning.
  */
object CorpusGen {

  /** A reaction that repeats an earlier one's components and yields. */
  val dupRate = 0.15
  /** A reaction that repeats an earlier one's reactants and products with
    * other conditions or yields: a train/test leakage candidate. */
  val leakRate = 0.15
  /** Share of agent draws from [[commonAgents]]; the rest come from a Zipf
    * tail of [[agentTail]] agents with exponent [[agentZipf]]. In 4,000
    * reactions each common agent occurs about 600 times and the most
    * frequent tail agent about 16 times, on either side of the cleaner's
    * threshold of 100. */
  val commonAgentShare = 0.7
  val agentTail = 2000
  val agentZipf = 0.5
  val reactantVocab = 20000
  val reactantZipf = 0.7
  /** Two products, or one product with a counter-ion part. */
  val multiProductRate = 0.15

  val solvents: Seq[String] = Seq("O", "CO", "CCO", "ClCCl", "C1CCOC1",
    "CN(C)C=O", "CS(C)=O", "CC#N")

  val commonAgents: Seq[String] = Seq("[Pd]", "CCN(CC)CC", "Cl[Pd]Cl",
    "[Li]CCCC", "O=C([O-])[O-]", "[Cu]I")

  private val tokens = Seq("C", "C", "C", "N", "O", "c1ccccc1", "Cl", "F",
    "(C)", "(=O)", "S", "C(F)(F)F", "c1ccncc1", "Br", "(O)", "CC")

  /** Cumulative Zipf weights over ranks 1..n. */
  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def body(rng: SplittableRandom, minTok: Int, maxTok: Int): String = {
    val n = minTok + rng.nextInt(maxTok - minTok + 1)
    (0 until n).map(_ => tokens(rng.nextInt(tokens.size))).mkString
  }

  /** Components and yields: the part of a reaction the dedup key sees.
    * `mode`: 0 mapped reaction string, 1 unmapped string, 2 none (the
    * extract falls back to the labelled inputs). */
  private final case class Chem(reactants: Seq[String], agents: Seq[String],
      solvents: Seq[String], products: Seq[(String, Option[Double])], mode: Int)

  def generate(seed: Long, spec: CorpusSpec): Corpus = {
    val rng = new SplittableRandom(seed)
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      while (seen.size < reactantVocab)
        seen += s"[CH2:${1 + seen.size % 9}]" + body(rng, 3, 12)
      seen.toIndexedSeq
    }
    val tail = {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      while (seen.size < agentTail) seen += "[Si]" + body(rng, 2, 8)
      seen.toIndexedSeq
    }
    val zr = new Zipf(vocab.size, reactantZipf)
    val za = new Zipf(tail.size, agentZipf)
    def agent(): String =
      if (rng.nextDouble() < commonAgentShare) commonAgents(rng.nextInt(commonAgents.size))
      else tail(za.draw(rng))
    var productSerial = 0

    def distinctDraws(k: Int, draw: () => String): Seq[String] = {
      val out = scala.collection.mutable.LinkedHashSet[String]()
      var tries = 0
      while (out.size < k && tries < 8 * k) { out += draw(); tries += 1 }
      out.toSeq.sorted
    }
    def pick(weights: Double*): Int = {
      val u = rng.nextDouble(); var acc = 0.0; var i = 0
      while (i < weights.size - 1 && { acc += weights(i); u >= acc }) i += 1
      i
    }
    def yieldPct(): Option[Double] =
      if (rng.nextDouble() < 0.1) None else Some(5 + rng.nextInt(180) / 2.0)
    def freshProduct(): String = {
      productSerial += 1
      s"[NH:${1 + productSerial % 9}]" + body(rng, 4, 14) + "N" * (productSerial % 3) +
        s"C$productSerial"
    }
    def conditions(): (Seq[String], Seq[String]) = (
      distinctDraws(pick(0.15, 0.45, 0.3, 0.1), () => agent()),
      distinctDraws(pick(0.2, 0.55, 0.25), () => solvents(rng.nextInt(solvents.size))))
    def freshChem(): Chem = {
      val reactants = distinctDraws(1 + pick(0.45, 0.5, 0.05),
        () => vocab(zr.draw(rng)))
      val (agents, solv) = conditions()
      val products =
        if (rng.nextDouble() >= multiProductRate) Seq((freshProduct(), yieldPct()))
        else if (rng.nextBoolean()) Seq((freshProduct(), yieldPct()), (freshProduct(), yieldPct()))
        else Seq((freshProduct() + ".Cl", yieldPct()))
      Chem(reactants, agents, solv, products, pick(0.8, 0.1, 0.1))
    }

    val chems = ArrayBuffer[Chem]()
    var dups = 0; var leaks = 0
    (0 until spec.reactions).foreach { _ =>
      val u = rng.nextDouble()
      chems += (
        if (chems.nonEmpty && u < dupRate) {
          dups += 1; chems(rng.nextInt(chems.size))
        } else if (chems.nonEmpty && u < dupRate + leakRate) {
          leaks += 1
          val base = chems(rng.nextInt(chems.size))
          val (agents, solv) = conditions()
          base.copy(agents = agents, solvents = solv,
            products = base.products.map { case (p, _) => (p, yieldPct()) })
        } else freshChem())
    }

    // weights: bigFileWeight for the first file, 1 for each other one
    val weights = spec.bigFileWeight +: Seq.fill(spec.files - 1)(1)
    val ends = weights.scanLeft(0)(_ + _).tail
      .map(w => (spec.reactions.toLong * w / weights.sum).toInt)
    val sizes = ends.zip(0 +: ends).map { case (e, s) => e - s }
    val starts = sizes.scanLeft(0)(_ + _)
    val files = sizes.indices.map { f =>
      // valid `uspto-grants-YYYY_MM` names: month 01..12, never 00
      val name = f"uspto-grants-${2001 + f / 12}%04d_${1 + f % 12}%02d"
      val dsId = f"ord_dataset-${seed & 0xffffffL}%06x$f%04d"
      name -> (starts(f) until starts(f + 1)).map(j => render(rng, chems(j), j, name, dsId))
    }
    Corpus(files, Map("duplicates" -> dups, "leakage_pairs" -> leaks))
  }

  private def render(rng: SplittableRandom, c: Chem, serial: Int, name: String,
      dsId: String): OrdReaction = {
    val rhs = c.products.map(_._1).mkString(".")
    val rxn = s"${c.reactants.mkString(".")}>${c.agents.mkString(".")}>$rhs"
    val rxnIds =
      if (c.mode == 2) Nil
      else Seq(RxnIdentifier(6,
        if (rng.nextBoolean()) rxn else rxn + " |f:0.1|", c.mode == 0))
    val idents = RxnIdentifier(1, s"US0${7000000 + serial}", isMapped = false) +: rxnIds
    def comp(role: Int, smiles: String) = Component(role, Seq(CompoundId(2, smiles)))
    val metal = (s: String) => s.contains("Pd") || s.contains("Pt") || s.contains("Cu")
    // labelled extras the extract drops, so duplicates stay duplicates: a
    // numeric "molecule" (E15), carbon beside a metal (E19, Pd/C), and ice
    // named without a SMILES (E20)
    val extras =
      (if (rng.nextDouble() < 0.03) Seq(comp(2, "5")) else Nil) ++
      (if (c.agents.exists(metal) && rng.nextDouble() < 0.1) Seq(comp(2, "C")) else Nil) ++
      (if (rng.nextDouble() < 0.02) Seq(Component(2, Seq(CompoundId(6, "ice")))) else Nil)
    val inputs =
      c.reactants.zipWithIndex.map { case (r, i) => InputEntry(s"m${i + 1}", Seq(comp(1, r))) } ++
      c.agents.map(a => InputEntry("reagents", Seq(comp(if (metal(a)) 4 else 2, a)))) ++
      c.solvents.map(s => InputEntry("solvent", Seq(comp(3, s)))) ++
      extras.map(e => InputEntry("workup", Seq(e)))
    val products = c.products.map { case (p, y) => Product(Seq(CompoundId(2, p)), y) }
    // E6 temperature variants: C / F / K set points, or a control type alone
    val (tv, tu, tc) = pickTemp(rng)
    // E7 time units: hours, minutes, seconds, days
    val (timeV, timeU) =
      if (rng.nextDouble() < 0.2) (None, 0)
      else (Some((1 + rng.nextInt(120)).toDouble), 1 + rng.nextInt(4))
    val proc = s"Step $serial: the mixture was stirred" +
      (if (rng.nextDouble() < 0.03) " over palladium on charcoal" else "") +
      " then filtered and the filtrate was concentrated under reduced pressure."
    val date =
      if (rng.nextBoolean()) None
      else Some(f"${1 + rng.nextInt(12)}%02d/${1 + rng.nextInt(28)}%02d/${1990 + rng.nextInt(30)}")
    OrdReaction(name, dsId, idents, inputs, products, tv, tu, tc, timeV, timeU,
      Some(proc), date)
  }

  private def pickTemp(rng: SplittableRandom): (Option[Double], Int, Int) = {
    val u = rng.nextDouble()
    if (u < 0.5) (Some((rng.nextInt(300) - 50) / 2.0), 1, 0)
    else if (u < 0.65) (Some(32.0 + rng.nextInt(300)), 2, 0)
    else if (u < 0.75) (Some(273.0 + rng.nextInt(150)), 3, 0)
    else (None, 0, Seq(0, 2, 6, 9, 11)(rng.nextInt(5)))
  }

  /** Write one `.pb.gz` per file under `dir` (replacing what was there). */
  def write(corpus: Corpus, dir: Path): Unit = {
    Fs.deleteRecursively(dir)
    Files.createDirectories(dir)
    corpus.files.foreach { case (name, rs) =>
      val ds = rs.headOption.map(_.datasetId).getOrElse("")
      Files.write(dir.resolve(s"$name.pb.gz"),
        OrdEncoder.gzip(OrdEncoder.encodeDataset(name, ds, rs)))
    }
  }

  /** Decode every written file and compare with the generated reactions. */
  def selfCheck(corpus: Corpus, dir: Path): Option[String] =
    corpus.files.collectFirst(Function.unlift { case (name, rs) =>
      val bytes = Files.readAllBytes(dir.resolve(s"$name.pb.gz"))
      val back = graft.extract.OrdWire.decodeDataset(graft.extract.OrdWire.gunzip(bytes))
      if (back == rs) None
      else Some(s"$name: decoded ${back.size} reactions differ from the " +
        s"${rs.size} generated (first at ${back.zip(rs).indexWhere(p => p._1 != p._2)})")
    })
}

object Fs {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Bytes of the data files under `p` (Spark's `_SUCCESS` and `.crc`
    * bookkeeping excluded). */
  def dataBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(x => Files.isRegularFile(x) && {
        val n = x.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }).mapToLong(x => Files.size(x)).sum()
      finally s.close()
    }
}
