package pipebench

import java.nio.file.Path

/** A benchmark workload: the corpus it generates and the timed chain. */
sealed abstract class Workload(val name: String, val spec: CorpusSpec,
    /** Untimed iterations first, enough that the bulk of JIT compilation
      * is over, found from per-iteration times (a cold chain runs 2–5×
      * a warm one). */
    val warmups: Int) {
  /** The timed chain; returns the Features result when it runs that layer. */
  def chain(p: Pipeline): Option[(Long, Long)]
  /** Noop writes of the upstream half of each fused job (traced runs). */
  def probes(p: Pipeline): Unit
  /** The chain's end results, whose bytes are `output_mb`. */
  def outputs(p: Pipeline): Seq[Path]
}

object Workload {
  /** The paper's job: every layer does real work. 32 month files of even
    * size. At 4,000 reactions about a fifth of an iteration scales with
    * rows, the rest is fixed per-iteration cost (NOTES.md); a larger corpus
    * does not fit the time a check of the benchmark may take. */
  case object PaperPipeline extends Workload("paper_pipeline",
      CorpusSpec(reactions = 4000, files = 32, bigFileWeight = 1), warmups = 1) {
    def chain(p: Pipeline): Option[(Long, Long)] = {
      p.extract(); p.cleanSplit(); p.fingerprints(); Some(p.features())
    }
    def probes(p: Pipeline): Unit = { p.probeExtract(); p.probeClean() }
    def outputs(p: Pipeline): Seq[Path] = Seq(p.trainDir, p.testDir) ++ p.fpDirs
  }

  /** Task grain: the paper's extract config, but one file holds most of the
    * reactions. The real ORD corpus has a ~400k-reaction file next to ~40k
    * ones, so the first file holds 10× each of the 8 others: 10/18 of the
    * reactions. OrdSource decodes a whole file in one task, so cores idle. */
  case object ExtractSkewedFiles extends Workload("extract_skewed_files",
      CorpusSpec(reactions = 8000, files = 9, bigFileWeight = 10), warmups = 3) {
    def chain(p: Pipeline): Option[(Long, Long)] = { p.extract(); None }
    def probes(p: Pipeline): Unit = p.probeExtract()
    def outputs(p: Pipeline): Seq[Path] = Seq(p.wideDir)
  }

  val all: Seq[Workload] = Seq(PaperPipeline, ExtractSkewedFiles)
}
