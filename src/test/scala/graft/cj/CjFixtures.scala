package graft.cj

import java.nio.file.{Files, Paths}

/** The hand-written CityJSON documents under `src/test/resources/cityjson/`
  * (FIXTURES.md §1): six inline documents of `CjConvertSpec` tests, and the
  * tetra and cube documents written from `CjIndependentGoldenSpec`'s
  * hand-derived walks. They are inputs for checks that hold whatever a
  * document contains (plan shapes, pruned reads, two conversion paths
  * agreeing); no expected triples are ever derived from them — the tetra
  * and cube walks come from the reference converter's code, not from these
  * files. */
object CjFixtures {
  val dir: String = Paths.get(getClass.getResource("/cityjson").toURI).toString

  /** The fixture directory, then the reference corpus where it exists. */
  def corpora: Seq[String] =
    dir +: Seq(CityJsonSource.DefaultCorpus).filter(d => Files.isDirectory(Paths.get(d)))
}
