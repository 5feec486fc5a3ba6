package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical guard for the r10 integrity miss (a SURVEY sentence cited
  * a per-round artifact that was never generated): every
  * `<FAMILY>_r<NN>` token in SURVEY.md and BENCH_NOTES.md that names a
  * JSON artifact family must correspond to a file that exists in the
  * repo root. Runs in `sbt test`, so an evidence claim can no longer
  * outrun its artifact unnoticed.
  */
class ArtifactCitationSpec extends AnyFunSuite {

  // artifact families that live as <NAME>_r<NN>.json in the repo root
  private val families = Set(
    "CORRECTNESS", "BENCH", "BENCHAMP", "SCALE", "SCALE100", "SKEW",
    "SWEEP_SF01", "PLANSUMMARY", "NOBROADCAST", "WATERMARK", "PIPELINE",
    "ANNSERVE", "ANN_RECALL", "FLAGCHECK")

  test("every artifact citation in SURVEY.md / BENCH_NOTES.md exists") {
    // forked tests run in the project base directory
    val base = java.nio.file.Paths.get("").toAbsolutePath
    val pat = "\\b([A-Z][A-Z0-9_]*)_r(\\d{2})\\b".r
    val missing = Seq("SURVEY.md", "BENCH_NOTES.md").flatMap { doc =>
      val path = base.resolve(doc)
      assert(java.nio.file.Files.exists(path), s"$doc not found under $base")
      val text = java.nio.file.Files.readString(path)
      pat.findAllMatchIn(text).toSeq
        .filter(m => families.contains(m.group(1)))
        .map(m => (doc, s"${m.group(1)}_r${m.group(2)}.json"))
        .distinct
        .filterNot { case (_, f) => java.nio.file.Files.exists(base.resolve(f)) }
    }
    assert(missing.isEmpty,
      s"artifact citations with no artifact on disk: $missing — " +
        "generate the artifact or correct the claim")
  }
}
