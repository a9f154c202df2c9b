package graft.ops

import java.nio.file.Files

/** The one `ensure*` memo: a fixture is staged once per (kind, corpus
  * dir) under the JVM's fixture root, and a failed build leaves nothing
  * behind, neither a dir nor a memoized result.
  */
class ScratchSpec extends graft.SparkSuite {

  test("fixture builds once per (kind, corpus dir), each in its own dir under the fixture root") {
    val corpus = tempDir("scratch_corpus").toString
    val builds = new java.util.concurrent.atomic.AtomicInteger
    def ensure(kind: String, dir: String) =
      Scratch.fixture(kind, dir) { d => builds.incrementAndGet(); d }
    val a = ensure("scratch_spec_a", corpus)
    assert(ensure("scratch_spec_a", corpus) === a && builds.get === 1)
    assert(Files.isDirectory(a) && a.getParent === Scratch.fixtureRoot &&
      a.getFileName.toString.startsWith("scratch_spec_a"), a)
    // another kind over the same corpus, or the same kind over another
    // corpus, is another fixture
    val b = ensure("scratch_spec_b", corpus)
    val c = ensure("scratch_spec_a", s"${corpus}_other")
    assert(builds.get === 3 && Set(a, b, c).size === 3)
  }

  test("a fixture build that throws leaves no dir and memoizes nothing, so the next call retries") {
    val corpus = tempDir("scratch_corpus").toString
    val kind = "scratch_spec_failing"
    def staged = Scratch.fixtureRoot.toFile.list().count(_.startsWith(kind))
    var partial = Option.empty[java.nio.file.Path]
    val e = intercept[IllegalStateException](Scratch.fixture(kind, corpus) { d =>
      partial = Some(d)
      Files.write(d.resolve("part-0"), Array[Byte](1))
      throw new IllegalStateException("build failed")
    })
    assert(e.getMessage === "build failed")
    assert(partial.exists(d => !Files.exists(d)) && staged === 0)
    val d = Scratch.fixture(kind, corpus)(identity)
    assert(Files.isDirectory(d) && staged === 1)
    assert(Scratch.fixture[java.nio.file.Path](kind, corpus)(_ => fail("built twice")) === d)
  }

  test("an ensure* over a directory without tables leaves no dir under the fixture root") {
    val empty = tempDir("scratch_no_tables").toString
    def staged = Scratch.fixtureRoot.toFile.list().count(_.startsWith("pairs_artifact"))
    val before = staged
    intercept[Exception](graft.ext.Dedup.ensurePairsArtifact(spark, empty))
    assert(staged === before)
  }
}
