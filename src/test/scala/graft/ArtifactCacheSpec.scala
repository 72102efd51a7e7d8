package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.PipelineQueries

/** The registry's fixture-artifact cache writes temp directories; the
  * cleanup its JVM-exit hook runs must remove every one of them. */
class ArtifactCacheSpec extends AnyFunSuite {

  test("deleteCachedArtifacts removes every cached directory and forgets its key") {
    val key = "artifact-cache-spec"
    val dir = PipelineQueries.cachedArtifacts(key) { d =>
      Files.createDirectories(Paths.get(d, "nested"))
      Files.write(Paths.get(d, "nested", "part"), Array[Byte](1, 2, 3))
    }
    assert(Files.exists(Paths.get(dir, "nested", "part")))
    assert(PipelineQueries.cachedArtifacts(key)(_ => fail("rebuilt")) == dir)
    PipelineQueries.deleteCachedArtifacts()
    assert(!Files.exists(Paths.get(dir)), s"$dir outlived the cleanup")
    // the key is forgotten: the next lookup builds a fresh directory
    val again = PipelineQueries.cachedArtifacts(key)(_ => ())
    assert(again != dir && Files.exists(Paths.get(again)))
    PipelineQueries.deleteCachedArtifacts()
    assert(!Files.exists(Paths.get(again)))
  }
}
