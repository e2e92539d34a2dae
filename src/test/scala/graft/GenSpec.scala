package graft

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.mbench.Gen

/** The seeded mbrainz generator behind [[MbrainzFixture]] and the
  * benchmark's `import` workload: its output is a function of
  * (seed, scale) alone. */
class GenSpec extends AnyFunSuite {

  /** Every file under `dir`, by relative path, with the SHA-256 of its
    * bytes (a short failure message, where the bytes would not be). */
  private def tree(dir: String): Map[String, String] = {
    val root = Path.of(dir)
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      val sha = MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      root.relativize(p).toString -> sha.map(b => f"$b%02x").mkString
    }.toMap
    finally s.close()
  }

  private def written(seed: Long): Map[String, String] = {
    val dir = Files.createTempDirectory("gen").toString
    Gen.write(dir, seed, scale = 0.02)
    tree(dir)
  }

  test("Gen.write: the same seed and scale write byte-identical directories, another seed does not") {
    val a = written(7L)
    assert(a.keySet.size == 12, a.keySet) // 7 entity files, 4 dictionaries, schema
    assert(written(7L) == a)
    assert(written(8L) != a)
  }
}
